#!/usr/bin/env python3
"""Writes a golden CSV that is an INDEPENDENT parse of a shapefile set;
the q_src_shp, q_src_gdal_opts and q_src_zip gate oracle rows read
src/test/resources/golden/nyc_zones_golden.csv, made from the committed
fixture (tools/make_shp_fixture.py):

    python3 tools/make_shp_golden.py src/test/resources/shp/nyc_zones \
        src/test/resources/golden/nyc_zones_golden.csv

The first argument is the set's path without extension (.dbf and .shp
are read), the second the CSV to write. Attributes are decoded as
Latin-1, the shapefile default when no .cpg is present.

This is a from-scratch struct-based parser of the public ESRI
shapefile + dBASE III specs (no shared code with the Scala reader in
src/main/scala/graft/sources/Shapefile.scala), so agreement between
the two certifies the Scala parser the same way dual-sourced fixtures
certify the other readers. Emits per feature: every .dbf attribute,
total vertex count, and the exact coordinate-derived bbox (min/max of
the raw doubles — identical arithmetic to JTS envelopes, no rounding).
"""
import os, struct, sys

if len(sys.argv) != 3:
    raise SystemExit("usage: make_shp_golden.py <shapefile base without extension> <out.csv>")
base, out = sys.argv[1], sys.argv[2]
os.makedirs(os.path.dirname(os.path.abspath(out)), exist_ok=True)

# ---- .dbf (dBASE III): header, field descriptors, fixed-width records ----
dbf = open(base + ".dbf", "rb").read()
nrec, hdr_size, rec_size = struct.unpack_from("<IHH", dbf, 4)
fields = []
off = 32
while dbf[off] != 0x0D:
    name = dbf[off:off + 11].split(b"\x00")[0].decode("ascii")
    ftype = chr(dbf[off + 11])
    flen = dbf[off + 16]
    fdec = dbf[off + 17]
    fields.append((name, ftype, flen, fdec))
    off += 32

def parse_field(raw, ftype, fdec):
    txt = raw.decode("latin-1").strip()
    if ftype == "N" or ftype == "F":
        if not txt:
            return None
        return int(txt) if fdec == 0 and ftype == "N" and "." not in txt else float(txt)
    return txt

records = []
pos = hdr_size
for _ in range(nrec):
    rec = dbf[pos:pos + rec_size]
    pos += rec_size
    if rec[0:1] == b"*":  # deleted
        continue
    vals, fpos = [], 1
    for (name, ftype, flen, fdec) in fields:
        vals.append(parse_field(rec[fpos:fpos + flen], ftype, fdec))
        fpos += flen
    records.append(vals)

# ---- .shp: 100-byte header, then (big-endian rec header, LE shape) ----
shp = open(base + ".shp", "rb").read()
geoms = []  # (npoints, xmin, ymin, xmax, ymax)
pos = 100
while pos < len(shp):
    _, content_len = struct.unpack_from(">II", shp, pos)
    pos += 8
    shape_type = struct.unpack_from("<I", shp, pos)[0]
    if shape_type == 0:  # null shape
        geoms.append((0, None, None, None, None))
    elif shape_type in (3, 5):  # PolyLine / Polygon
        nparts, npoints = struct.unpack_from("<II", shp, pos + 36)
        pts_off = pos + 44 + 4 * nparts
        xs, ys = [], []
        for i in range(npoints):
            x, y = struct.unpack_from("<dd", shp, pts_off + 16 * i)
            xs.append(x); ys.append(y)
        geoms.append((npoints, min(xs), min(ys), max(xs), max(ys)))
    elif shape_type == 1:  # Point
        x, y = struct.unpack_from("<dd", shp, pos + 4)
        geoms.append((1, x, y, x, y))
    else:
        raise SystemExit(f"unhandled shape type {shape_type}")
    pos += content_len * 2

assert len(geoms) == len(records), (len(geoms), len(records))

def fmt(v):
    if v is None:
        return ""
    if isinstance(v, float):
        return repr(v)
    if isinstance(v, str):
        return '"' + v.replace('"', '""') + '"'
    return str(v)

with open(out, "w", encoding="utf-8") as f:
    f.write(",".join([fld[0].lower() for fld in fields]
                     + ["npoints", "xmin", "ymin", "xmax", "ymax"]) + "\n")
    for vals, (npts, x0, y0, x1, y1) in zip(records, geoms):
        f.write(",".join([fmt(v) for v in vals]
                         + [str(npts), fmt(x0), fmt(y0), fmt(x1), fmt(y1)]) + "\n")
print("wrote", out, len(records), "records")
