#!/usr/bin/env python3
"""Generates the NYC-zones shapefile fixture under src/test/resources/shp/:
nyc_zones.{shp,shx,dbf,prj} plus nyc_zones.zip (the same four files,
written with Python's zipfile) for the zipped-read (/vsizip) path.

The set stands in for the NYC taxi_zones shapefile and keeps its dBASE
schema (OBJECTID, Shape_Leng, Shape_Area, zone, LocationID, borough) and
its CRS: the .prj is the ESRI WKT of EPSG:2263, NAD83 / New York Long
Island (ftUS), Lambert Conic Conformal (2SP) with the EPSG registry's
parameters (standard parallels 41 deg 02' N and 40 deg 40' N, false
origin 40 deg 10' N 74 deg W, false easting 300000 m = 984250 ftUS).

Closed-form content, one polygon record (shape type 5) per zone:
  1 Newark Airport   EWR            octagon, centre (936000, 190000), r 5000
  2 Jamaica Bay      Queens         two parts: hexagons at (1025000, 160000)
                                    r 4000 and (1040000, 165000) r 3000
  3 Jardin Botanico  Bronx          24-gon, centre (1020000, 255000), r 6000,
                                    with a 12-gon hole of r 2000 (the name
                                    is spelled with a Latin-1 i-acute and
                                    a-acute: no .cpg, so readers default
                                    to ISO-8859-1)
  4 Alphabet City    Manhattan      rectangle 989000..992000 x 201000..205000
  5 Arden Heights    Staten Island  60-gon, centre (935000, 135000), r 3500
  6 Astoria          Queens         pentagon, centre (1008000, 230000), r 3000
An n-gon's vertex k sits at angle 2*pi*k/n from the +x axis, rounded to
1e-3 ft; outer rings are written clockwise and holes counter-clockwise
(ESRI convention), every ring closed. Shape_Leng / Shape_Area are the
planar perimeter (all rings) and area (shells minus holes) in ft / ft^2,
written as N(19,6). Against the window x 930000..1030000, y
120000..220000 zones 1, 2, 4 and 5 intersect and zones 3 and 6 do not.

Written from the public ESRI shapefile and dBASE III specs with struct
only; the golden CSV is a separate re-parse of these bytes
(tools/make_shp_golden.py). Run once; the outputs are committed.
"""
import math, os, struct, zipfile

OUT = os.path.join(os.path.dirname(__file__), "..", "src", "test", "resources", "shp")
BASE = "nyc_zones"

PRJ = ('PROJCS["NAD_1983_StatePlane_New_York_Long_Island_FIPS_3104_Feet",'
       'GEOGCS["GCS_North_American_1983",DATUM["D_North_American_1983",'
       'SPHEROID["GRS_1980",6378137.0,298.257222101]],PRIMEM["Greenwich",0.0],'
       'UNIT["Degree",0.0174532925199433]],PROJECTION["Lambert_Conformal_Conic"],'
       'PARAMETER["False_Easting",984250.0],PARAMETER["False_Northing",0.0],'
       'PARAMETER["Central_Meridian",-74.0],'
       'PARAMETER["Standard_Parallel_1",40.66666666666666],'
       'PARAMETER["Standard_Parallel_2",41.03333333333333],'
       'PARAMETER["Latitude_Of_Origin",40.16666666666666],'
       'UNIT["Foot_US",0.3048006096012192]]')


def ngon(cx, cy, r, n):
    pts = [(round(cx + r * math.cos(2 * math.pi * k / n), 3),
            round(cy + r * math.sin(2 * math.pi * k / n), 3)) for k in range(n)]
    return pts + [pts[0]]


def rect(x0, y0, x1, y1):
    return [(x0, y0), (x1, y0), (x1, y1), (x0, y1), (x0, y0)]


def signed_area(ring):  # shoelace; > 0 = counter-clockwise
    return sum(x0 * y1 - x1 * y0 for (x0, y0), (x1, y1) in zip(ring, ring[1:])) / 2.0


def oriented(ring, clockwise):
    return ring[::-1] if (signed_area(ring) < 0) != clockwise else ring


# (OBJECTID, zone, LocationID, borough, shells, holes)
ZONES = [
    (1, "Newark Airport", 1, "EWR", [ngon(936000, 190000, 5000, 8)], []),
    (2, "Jamaica Bay", 2, "Queens",
     [ngon(1025000, 160000, 4000, 6), ngon(1040000, 165000, 3000, 6)], []),
    (3, "Jardín Botánico", 3, "Bronx",
     [ngon(1020000, 255000, 6000, 24)], [ngon(1020000, 255000, 2000, 12)]),
    (4, "Alphabet City", 4, "Manhattan", [rect(989000, 201000, 992000, 205000)], []),
    (5, "Arden Heights", 5, "Staten Island", [ngon(935000, 135000, 3500, 60)], []),
    (6, "Astoria", 7, "Queens", [ngon(1008000, 230000, 3000, 5)], []),
]


def perimeter(ring):
    return sum(math.hypot(x1 - x0, y1 - y0) for (x0, y0), (x1, y1) in zip(ring, ring[1:]))


def shp_header(file_words, bbox):
    return (struct.pack(">7i", 9994, 0, 0, 0, 0, 0, file_words)
            + struct.pack("<2i", 1000, 5) + struct.pack("<4d", *bbox) + struct.pack("<4d", 0, 0, 0, 0))


def polygon_content(rings):
    pts = [p for r in rings for p in r]
    xs, ys = [p[0] for p in pts], [p[1] for p in pts]
    starts, acc = [], 0
    for r in rings:
        starts.append(acc); acc += len(r)
    return (struct.pack("<i4d2i", 5, min(xs), min(ys), max(xs), max(ys), len(rings), len(pts))
            + struct.pack("<%di" % len(rings), *starts)
            + b"".join(struct.pack("<2d", x, y) for x, y in pts))


def dbf_bytes(rows):
    fields = [("OBJECTID", "N", 9, 0), ("Shape_Leng", "N", 19, 6), ("Shape_Area", "N", 19, 6),
              ("zone", "C", 254, 0), ("LocationID", "N", 9, 0), ("borough", "C", 254, 0)]
    rec_size = 1 + sum(f[2] for f in fields)
    hdr_size = 32 + 32 * len(fields) + 1
    out = bytearray(struct.pack("<BBBBIHH20x", 0x03, 124, 10, 19, len(rows), hdr_size, rec_size))
    for name, typ, ln, dec in fields:
        out += struct.pack("<11sc4xBB14x", name.encode("ascii"), typ.encode("ascii"), ln, dec)
    out += b"\x0d"
    for row in rows:
        out += b" "
        for (name, typ, ln, dec), v in zip(fields, row):
            txt = ("%.*f" % (dec, v) if dec else str(v)).rjust(ln) if typ == "N" else v.ljust(ln)
            raw = txt.encode("latin-1")
            assert len(raw) == ln, (name, txt)
            out += raw
    out += b"\x1a"
    return bytes(out)


def main():
    os.makedirs(OUT, exist_ok=True)
    records, rows = [], []
    for oid, zone, loc, boro, shells, holes in ZONES:
        rings = [oriented(r, True) for r in shells] + [oriented(r, False) for r in holes]
        records.append(polygon_content(rings))
        leng = sum(perimeter(r) for r in rings)
        area = sum(abs(signed_area(r)) for r in shells) - sum(abs(signed_area(r)) for r in holes)
        rows.append((oid, leng, area, zone, loc, boro))
    pts = [p for _, _, _, _, shells, _ in ZONES for r in shells for p in r]
    bbox = (min(p[0] for p in pts), min(p[1] for p in pts),
            max(p[0] for p in pts), max(p[1] for p in pts))

    shp, shx, offset = bytearray(), bytearray(), 50  # offsets/lengths in 16-bit words
    for i, content in enumerate(records, 1):
        shp += struct.pack(">2i", i, len(content) // 2) + content
        shx += struct.pack(">2i", offset, len(content) // 2)
        offset += 4 + len(content) // 2
    files = {
        BASE + ".shp": shp_header(50 + len(shp) // 2, bbox) + bytes(shp),
        BASE + ".shx": shp_header(50 + len(shx) // 2, bbox) + bytes(shx),
        BASE + ".dbf": dbf_bytes(rows),
        BASE + ".prj": PRJ.encode("ascii"),
    }
    for name, data in files.items():
        with open(os.path.join(OUT, name), "wb") as f:
            f.write(data)
    # fixed entry timestamps keep the archive byte-stable across runs
    with zipfile.ZipFile(os.path.join(OUT, BASE + ".zip"), "w", zipfile.ZIP_DEFLATED) as z:
        for name, data in files.items():
            z.writestr(zipfile.ZipInfo(name, date_time=(2024, 10, 16, 0, 0, 0)), data,
                       compress_type=zipfile.ZIP_DEFLATED)
    print("wrote", OUT, len(records), "zones")


if __name__ == "__main__":
    main()
