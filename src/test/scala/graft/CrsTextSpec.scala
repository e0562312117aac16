package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.functions.Crs

/**
 * PROJ-string and WKT1 CRS input (reference ST_Transform accepts "any
 * format the PROJ library supports", docs/functions.md:1947): each
 * text form must resolve to the SAME transform as its EPSG-code twin.
 */
class CrsTextSpec extends AnyFunSuite {

  private def parity(text: String, epsg: String,
      pts: Seq[(Double, Double)], tolM: Double = 1e-6): Unit = {
    val a = Crs.resolve(text); val b = Crs.resolve(epsg)
    pts.foreach { case (lon, lat) =>
      val (ax, ay) = a.forward(lon, lat)
      val (bx, by) = b.forward(lon, lat)
      assert(math.abs(ax - bx) < tolM && math.abs(ay - by) < tolM,
        s"$epsg vs text at ($lon,$lat): ($ax,$ay) != ($bx,$by)")
      val (alon, alat) = a.inverse(ax, ay)
      assert(math.abs(alon - lon) < 1e-6 && math.abs(alat - lat) < 1e-6,
        s"text roundtrip at ($lon,$lat): ($alon,$alat)")
    }
  }

  test("proj strings match their EPSG twins") {
    parity("+proj=utm +zone=32 +ellps=GRS80 +units=m +no_defs", "EPSG:25832",
      Seq((9.0, 50.0), (6.5, 58.0), (11.9, 44.0)))
    parity("+proj=utm +zone=55 +south +ellps=GRS80", "EPSG:28355",
      Seq((147.0, -42.0), (145.2, -37.8)))
    parity("+proj=lcc +lat_0=46.5 +lon_0=3 +lat_1=44 +lat_2=49 +x_0=700000 +y_0=6600000 +ellps=GRS80",
      "EPSG:2154", Seq((2.35, 48.85), (5.4, 43.3), (-1.55, 47.2)))
    parity("+proj=laea +lat_0=52 +lon_0=10 +x_0=4321000 +y_0=3210000 +ellps=GRS80",
      "EPSG:3035", Seq((10.0, 52.0), (2.35, 48.85), (24.9, 60.2)))
    parity("+proj=aea +lat_0=23 +lon_0=-96 +lat_1=29.5 +lat_2=45.5 +ellps=GRS80",
      "EPSG:5070", Seq((-96.0, 40.0), (-120.0, 47.0), (-75.0, 41.0)))
    parity("+proj=webmerc +datum=WGS84", "EPSG:3857",
      Seq((0.0, 0.0), (139.7, 35.7), (-74.0, 40.7)))
    parity("+proj=tmerc +lat_0=49 +lon_0=-2 +k=0.9996012717 +x_0=400000 " +
      "+y_0=-100000 +ellps=airy +towgs84=446.448,-125.157,542.06,0.15,0.247,0.842,-20.4894",
      "EPSG:27700", Seq((-1.5, 52.5), (-3.2, 55.95), (0.1, 51.5)))
    // NTF Lambert II étendu: Paris prime meridian + Clarke 1880 IGN +
    // 3-param shift, 1SP via +lat_1 (no +lat_2)
    parity("+proj=lcc +lat_1=46.8 +lat_0=46.8 +lon_0=0 +k_0=0.99987742 " +
      "+x_0=600000 +y_0=2200000 +ellps=clrk80ign +pm=paris +towgs84=-168,-60,320",
      "EPSG:27572", Seq((2.35, 48.85), (5.0, 44.0), (-1.0, 47.0)))
    // ftUS state plane (NY Long Island LCC)
    parity("+proj=lcc +lat_0=40.1666666666667 +lon_0=-74 +lat_1=40.6666666666667 " +
      "+lat_2=41.0333333333333 +x_0=300000.0000000001 +y_0=0 +ellps=GRS80 +units=us-ft",
      "EPSG:2263", Seq((-74.0, 40.7), (-73.5, 40.9)), tolM = 1e-5)
    // polar stereographic: variant B (+lat_ts) and variant A (+k)
    parity("+proj=stere +lat_0=-90 +lat_ts=-71 +lon_0=0 +datum=WGS84",
      "EPSG:3031", Seq((120.0, -75.0), (-45.0, -80.0)))
    parity("+proj=stere +lat_0=90 +k=0.994 +lon_0=0 +x_0=2000000 +y_0=2000000 +datum=WGS84",
      "EPSG:32661", Seq((10.0, 78.0), (-120.0, 65.0)))
    // oblique stereographic (RD New) and Swiss oblique Mercator
    parity("+proj=sterea +lat_0=52.1561605555556 +lon_0=5.38763888888889 " +
      "+k=0.9999079 +x_0=155000 +y_0=463000 +ellps=bessel " +
      "+towgs84=565.4171,50.3319,465.5524,-0.398957,0.343988,-1.8774,4.0725",
      "EPSG:28992", Seq((5.4, 52.15), (4.9, 52.37)))
    parity("+proj=somerc +lat_0=46.9524055555556 +lon_0=7.43958333333333 " +
      "+x_0=2600000 +y_0=1200000 +ellps=bessel +towgs84=674.374,15.056,405.346",
      "EPSG:2056", Seq((7.44, 46.95), (8.54, 47.38)))
    // Pulkovo GK zone 7 via +ellps=krass + translation
    parity("+proj=tmerc +lat_0=0 +lon_0=39 +k=1 +x_0=7500000 +y_0=0 " +
      "+ellps=krass +towgs84=28,-130,-95", "EPSG:28407",
      Seq((37.6, 55.75), (40.5, 52.0)))
    parity("+proj=eqc +lon_0=0 +datum=WGS84", "EPSG:4087",
      Seq((10.0, 45.0), (-120.0, -33.0)))
  }

  test("proj-string geographic CRSs are xy-ordered and datum-shift") {
    val ll = Crs.resolve("+proj=longlat +datum=WGS84")
    assert(!ll.geographic) // no axis swap, per PROJ proj-string semantics
    assert(ll.forward(12.5, 41.9) == ((12.5, 41.9)))
    val ntf = Crs.resolve("+proj=longlat +ellps=clrk80ign +towgs84=-168,-60,320")
    val (nlon, nlat) = ntf.forward(2.3522, 48.8566)
    // the NTF frame sits ~100 m from WGS84 over France
    val dM = math.hypot((nlon - 2.3522) * 73000, (nlat - 48.8566) * 111000)
    assert(dM > 20 && dM < 300, s"NTF shift magnitude $dM m")
    val (blon, blat) = ntf.inverse(nlon, nlat)
    // Helmert+Bowring inversion is closed-form-approximate: ~5e-9°
    assert(math.abs(blon - 2.3522) < 1e-7 && math.abs(blat - 48.8566) < 1e-7)
  }

  test("generated ESRI WKT parses back to the same transform") {
    // WGS84-frame codes: WKT1 carries no TOWGS84, so parse-back parity
    // is exact for these (datum-shifted codes lose the shift by WKT1
    // design — PROJ behaves the same on a TOWGS84-less WKT)
    val codes = Seq("EPSG:2263", "EPSG:2260", "EPSG:2232", "EPSG:32118",
      "EPSG:3978", "EPSG:3338", "EPSG:32661", "EPSG:4087", "EPSG:3435",
      "EPSG:2272", "EPSG:2285", "EPSG:2246", "EPSG:3421")
    val probe = Map(
      "EPSG:2263" -> (-74.0, 40.7), "EPSG:2260" -> (-74.3, 42.0),
      "EPSG:2232" -> (-105.5, 39.0), "EPSG:32118" -> (-74.0, 40.7),
      "EPSG:3978" -> (-95.0, 55.0), "EPSG:3338" -> (-154.0, 62.0),
      "EPSG:32661" -> (10.0, 78.0), "EPSG:4087" -> (30.0, -20.0),
      "EPSG:3435" -> (-88.0, 40.0), "EPSG:2272" -> (-77.8, 40.5),
      "EPSG:2285" -> (-120.8, 47.7), "EPSG:2246" -> (-84.3, 38.2),
      "EPSG:3421" -> (-115.5, 36.2))
    codes.foreach { code =>
      val wkt = Crs.esriWkt(code).getOrElse(fail(s"no WKT for $code"))
      val (lon, lat) = probe(code)
      val (ax, ay) = Crs.resolve(wkt).forward(lon, lat)
      val (bx, by) = Crs.resolve(code).forward(lon, lat)
      assert(math.abs(ax - bx) < 1e-6 && math.abs(ay - by) < 1e-6,
        s"$code WKT parse-back: ($ax,$ay) != ($bx,$by)")
    }
    // r11 codes: grid-free pairs are exact; datum-shifted ones agree
    // to within the shift magnitude (their ESRI WKT has no TOWGS84)
    Seq(("EPSG:3812", 4.5, 50.5, 1e-6), ("EPSG:5110", 10.4, 61.0, 1e-6),
      ("EPSG:27572", 2.35, 48.85, 500.0), ("EPSG:27561", 2.0, 49.8, 500.0),
      ("EPSG:27574", 9.0, 42.1, 500.0), ("EPSG:31370", 4.5, 50.5, 500.0),
      ("EPSG:31287", 13.5, 47.5, 800.0), ("EPSG:31256", 16.3, 48.0, 800.0),
      ("EPSG:31259", 16.3, 48.0, 800.0), ("EPSG:28407", 39.5, 56.0, 500.0)
    ).foreach { case (code, lon, lat, tol) =>
      val wkt = Crs.esriWkt(code).getOrElse(fail(s"no WKT for $code"))
      val (ax, ay) = Crs.resolve(wkt).forward(lon, lat)
      val (bx, by) = Crs.resolve(code).forward(lon, lat)
      assert(math.abs(ax - bx) < tol && math.abs(ay - by) < tol,
        s"$code WKT parse-back: ($ax,$ay) != ($bx,$by)")
      if (tol > 1) // shifted: must differ (the WKT really has no bridge)
        assert(math.abs(ax - bx) + math.abs(ay - by) > 1e-3, s"$code unexpectedly exact")
    }
  }

  test("hand-written French WKT: grads, Paris prime meridian, TOWGS84") {
    val wkt = """PROJCS["NTF_Paris_Lambert_zone_II",""" +
      """GEOGCS["GCS_NTF_Paris",DATUM["D_NTF",""" +
      """SPHEROID["Clarke_1880_IGN",6378249.2,293.466021293627],""" +
      """TOWGS84[-168,-60,320,0,0,0,0]],PRIMEM["Paris",2.5969213],""" +
      """UNIT["Grad",0.0157079632679489]],""" +
      """PROJECTION["Lambert_Conformal_Conic"],""" +
      """PARAMETER["False_Easting",600000],PARAMETER["False_Northing",2200000],""" +
      """PARAMETER["Central_Meridian",0],PARAMETER["Standard_Parallel_1",52],""" +
      """PARAMETER["Scale_Factor",0.99987742],PARAMETER["Latitude_Of_Origin",52],""" +
      """UNIT["Meter",1]]"""
    val a = Crs.resolve(wkt); val b = Crs.resolve("EPSG:27572")
    Seq((2.3522, 48.8566), (5.0, 44.2), (-1.2, 47.3)).foreach { case (lon, lat) =>
      val (ax, ay) = a.forward(lon, lat)
      val (bx, by) = b.forward(lon, lat)
      // grad-resolution constants (2.5969213 grads) vs the degree
      // literal: sub-millimeter agreement expected
      assert(math.abs(ax - bx) < 1e-3 && math.abs(ay - by) < 1e-3,
        s"french wkt at ($lon,$lat): ($ax,$ay) != ($bx,$by)")
    }
  }

  test("LCC 1SP separates lat_0 (rho0) from lat_1 (cone), PROJ-style") {
    // natural origin sits at lat_0: forward(lon0, lat_0) == (x_0, y_0)
    val sys = Crs.resolve("+proj=lcc +lat_1=46.8 +lat_0=40 +lon_0=3 " +
      "+k_0=0.99987742 +x_0=600000 +y_0=2200000 +ellps=GRS80")
    val (x, y) = sys.forward(3.0, 40.0)
    assert(math.abs(x - 600000.0) < 1e-6 && math.abs(y - 2200000.0) < 1e-6,
      s"1SP origin at lat_0: ($x,$y)")
    // and the omitted-lat_0 PROJ default (equator) differs by the arc
    val sys0 = Crs.resolve("+proj=lcc +lat_1=46.8 +lon_0=3 +ellps=GRS80")
    val (_, y0) = sys0.forward(3.0, 46.8)
    assert(y0 > 5.0e6, s"rho0 at the equator => big northing at the parallel: $y0")
    // missing parallels is a clear error, not silent NaN
    val e = intercept[IllegalArgumentException](
      Crs.resolve("+proj=lcc +lon_0=3 +ellps=GRS80"))
    assert(e.getMessage.contains("lat_1"))
  }

  test("WKT1_GDAL dialect: bare AXIS keywords and AUTHORITY nodes parse") {
    val wkt = """PROJCS["ETRS89 / UTM zone 32N",GEOGCS["ETRS89",""" +
      """DATUM["European_Terrestrial_Reference_System_1989",""" +
      """SPHEROID["GRS 1980",6378137,298.257222101,AUTHORITY["EPSG","7019"]],""" +
      """AUTHORITY["EPSG","6258"]],PRIMEM["Greenwich",0,AUTHORITY["EPSG","8901"]],""" +
      """UNIT["degree",0.0174532925199433,AUTHORITY["EPSG","9122"]],""" +
      """AXIS["Latitude",NORTH],AXIS["Longitude",EAST],AUTHORITY["EPSG","4258"]],""" +
      """PROJECTION["Transverse_Mercator"],PARAMETER["latitude_of_origin",0],""" +
      """PARAMETER["central_meridian",9],PARAMETER["scale_factor",0.9996],""" +
      """PARAMETER["false_easting",500000],PARAMETER["false_northing",0],""" +
      """UNIT["metre",1,AUTHORITY["EPSG","9001"]],AXIS["Easting",EAST],""" +
      """AXIS["Northing",NORTH],AUTHORITY["EPSG","25832"]]"""
    val a = Crs.resolve(wkt); val b = Crs.resolve("EPSG:25832")
    Seq((9.0, 50.0), (6.5, 58.0)).foreach { case (lon, lat) =>
      val (ax, ay) = a.forward(lon, lat); val (bx, by) = b.forward(lon, lat)
      assert(math.abs(ax - bx) < 1e-6 && math.abs(ay - by) < 1e-6,
        s"gdal-dialect wkt at ($lon,$lat): ($ax,$ay) != ($bx,$by)")
    }
  }

  test("antimeridian GK zones return normalized longitudes") {
    val sys = Crs.resolve("EPSG:28432") // Pulkovo GK zone 32, CM 189°E
    val (x, y) = sys.forward(-173.1, 65.0) // Chukotka, west of the CM
    val (lon, lat) = sys.inverse(x, y)
    assert(lon > -180 && lon <= 180, s"unnormalized lon $lon")
    assert(math.abs(lon - (-173.1)) < 1e-6 && math.abs(lat - 65.0) < 1e-6,
      s"roundtrip: ($lon,$lat)")
  }

  test("MTM Ontario series: zones 12-17 restart at -81") {
    // origin identity pins the published CM table
    Seq((12, -81.0), (13, -84.0), (17, -96.0), (11, -82.5), (10, -79.5),
      (1, -53.0), (2, -56.0)).foreach { case (zone, cm) =>
      val (x, y) = Crs.resolve(s"EPSG:${32180 + zone}").forward(cm, 0.0)
      assert(math.abs(x - 304800.0) < 1e-6 && math.abs(y) < 1e-6,
        s"MTM $zone origin at CM $cm: ($x,$y)")
    }
  }

  test("round-13 sweep: origin identity pins the published parameter tables") {
    // projection-only twins (no +towgs84): forward(CM, lat0) == (FE, FN)
    // — a self-consistent roundtrip can NOT catch a wrong CM/lat0, this can
    Seq(
      ("+proj=tmerc +lat_0=31.73439361111111 +lon_0=35.20451694444445 +k=1.0000067 +x_0=219529.584 +y_0=626907.39 +ellps=GRS80",
        35.20451694444445, 31.73439361111111, 219529.584, 626907.39),
      ("+proj=tmerc +lat_0=0 +lon_0=24 +k=0.9996 +x_0=500000 +y_0=0 +ellps=GRS80",
        24.0, 0.0, 500000.0, 0.0),
      ("+proj=lcc +lat_0=57.51755393055556 +lon_0=24 +lat_1=59.33333333333334 +lat_2=58 +x_0=500000 +y_0=6375000 +ellps=GRS80",
        24.0, 57.51755393055556, 500000.0, 6375000.0),
      ("+proj=tmerc +lat_0=22.31213333333333 +lon_0=114.1785555555556 +k=1 +x_0=836694.05 +y_0=819069.8 +ellps=intl",
        114.1785555555556, 22.31213333333333, 836694.05, 819069.8),
      ("+proj=tmerc +lat_0=0 +lon_0=27 +k=1 +x_0=3500000 +y_0=0 +ellps=intl",
        27.0, 0.0, 3500000.0, 0.0)
    ).foreach { case (p4, lon0, lat0, fe, fn) =>
      val (x, y) = Crs.resolve(p4).forward(lon0, lat0)
      assert(math.abs(x - fe) < 1e-6 && math.abs(y - fn) < 1e-6, s"$p4: ($x,$y)")
    }
    // the shifted catalog entries resolve and land inside their grids
    val (ix, iy) = Crs.resolve("EPSG:2039").forward(35.2137, 31.7683) // Jerusalem
    assert(math.abs(ix - 220380.0) < 2000 && math.abs(iy - 630700.0) < 4000, s"($ix,$iy)")
    val (gx, gy) = Crs.resolve("EPSG:2100").forward(23.7275, 37.9838) // Athens
    assert(math.abs(gx - 476000.0) < 3000 && math.abs(gy - 4203000.0) < 4000, s"($gx,$gy)")
    // HK central is ~800 m from the published origin; the 7-param shift
    // adds a few hundred m — a 2.5 km band still catches any CM error
    val (hx, hy) = Crs.resolve("EPSG:2326").forward(114.1694, 22.3193)
    assert(math.abs(hx - 836694.05) < 2500 && math.abs(hy - 819069.8) < 2500, s"($hx,$hy)")
    val (fx2, fy2) = Crs.resolve("EPSG:2393").forward(24.9384, 60.1699) // Helsinki
    assert(math.abs(fx2 - 3385000.0) < 4000 && math.abs(fy2 - 6672000.0) < 4000, s"($fx2,$fy2)")
    val (ex, ey) = Crs.resolve("EPSG:3301").forward(24.7536, 59.437) // Tallinn
    assert(math.abs(ex - 542700.0) < 3000 && math.abs(ey - 6589400.0) < 3000, s"($ex,$ey)")
  }

  test("CGCS2000 Gauss-Kruger sweep: origin identity + zone/CM twins") {
    // forward(CM, 0) == (FE, 0) at both ends of all four sub-families —
    // pins the published CM/FE tables (roundtrips cannot catch a wrong CM)
    Seq(4491 -> (75.0, 13500000.0), 4501 -> (135.0, 23500000.0),
        4502 -> (75.0, 500000.0), 4512 -> (135.0, 500000.0),
        4513 -> (75.0, 25500000.0), 4533 -> (135.0, 45500000.0),
        4534 -> (75.0, 500000.0), 4554 -> (135.0, 500000.0)).foreach {
      case (code, (cm, fe)) =>
        val (x, y) = Crs.resolve(s"EPSG:$code").forward(cm, 0.0)
        assert(math.abs(x - fe) < 1e-6 && math.abs(y) < 1e-6,
          s"EPSG:$code origin at CM $cm: ($x,$y)")
    }
    // zone-prefixed (4496 = zone 18, CM 105E, FE 18.5M) and its CM twin
    // (4507 = CM 105E, FE 500k) are the same projection up to the FE
    val (zx, zy) = Crs.resolve("EPSG:4496").forward(106.3, 29.56) // Chongqing
    val (cx, cy) = Crs.resolve("EPSG:4507").forward(106.3, 29.56)
    // (1e-6 m: the FE add happens at different magnitudes, so the last
    // ulp can differ between the twins)
    assert(math.abs(zx - 18000000.0 - cx) < 1e-6 && zy == cy,
      s"($zx,$zy) vs ($cx,$cy)")
    // the ESRI WKT export parses back onto the bit-identical projection
    val wkt = Crs.esriWkt("EPSG:4547").getOrElse(fail("no WKT for 4547"))
    val (wx, wy) = Crs.resolve(wkt).forward(113.25, 23.13) // Guangzhou
    val (ex, ey) = Crs.resolve("EPSG:4547").forward(113.25, 23.13)
    assert(wx == ex && wy == ey, s"($wx,$wy) vs ($ex,$ey)")
    // catalog twin listed + resolvable end-to-end, inverse closes
    val (lonB, latB) = Crs.resolve("EPSG:4547").inverse(ex, ey)
    assert(math.abs(lonB - 113.25) < 1e-9 && math.abs(latB - 23.13) < 1e-9)
  }

  test("Krovak matches the EPSG GN7-2 worked example and round-trips") {
    // projection-only twin: the guidance example is stated in S-JTSK
    // datum coordinates (50°12'32.442"N 16°50'59.179"E of Greenwich ->
    // southing 1050538.63, westing 568991.00 => east-north negatives)
    val k = Crs.resolve("+proj=krovak +ellps=bessel")
    val lon = 16.0 + 50.0 / 60 + 59.179 / 3600
    val lat = 50.0 + 12.0 / 60 + 32.442 / 3600
    val (x, y) = k.forward(lon, lat)
    assert(math.abs(x - (-568991.00)) < 0.05 && math.abs(y - (-1050538.63)) < 0.05,
      s"($x,$y)")
    val (lonB, latB) = k.inverse(x, y)
    assert(math.abs(lonB - lon) < 1e-9 && math.abs(latB - lat) < 1e-9, s"($lonB,$latB)")
    // explicit params == PROJ defaults
    val kFull = Crs.resolve("+proj=krovak +lat_0=49.5 +lon_0=24.833333333333332 " +
      "+alpha=30.28813972222222 +k=0.9999 +x_0=0 +y_0=0 +ellps=bessel")
    val (x2, y2) = kFull.forward(lon, lat)
    assert(x2 == x && y2 == y)
    // the ESRI WKT export parses back onto the same projection (the
    // catalog entry adds towgs84; compare against the projection twin)
    val wkt = Crs.esriWkt("EPSG:5514").getOrElse(fail("no WKT for 5514"))
    val (wx, wy) = Crs.resolve(wkt).forward(lon, lat)
    assert(math.abs(wx - x) < 1e-6 && math.abs(wy - y) < 1e-6, s"($wx,$wy)")
    // PROJJSON emit -> parse parity through the shared method core
    val js = Crs.proj4ToProjJson("+proj=krovak +ellps=bessel").getOrElse(fail("no projjson"))
    val (jx, jy) = Crs.resolve(js).forward(lon, lat)
    assert(math.abs(jx - x) < 1e-9 && math.abs(jy - y) < 1e-9, s"($jx,$jy)")
    // full 5514 pipeline lands near Prague's known grid position
    val (px, py) = Crs.resolve("EPSG:5514").forward(14.4378, 50.0755)
    assert(math.abs(px - (-743100.0)) < 2000 && math.abs(py - (-1043500.0)) < 2000,
      s"($px,$py)")
  }

  test("wktToProj4: derived strings round-trip onto the same transform") {
    val codes = Seq("EPSG:2263", "EPSG:2232", "EPSG:3978", "EPSG:3338",
      "EPSG:32661", "EPSG:4087", "EPSG:2154", "EPSG:25832", "EPSG:3857",
      "EPSG:5186", "EPSG:3946", "EPSG:3011")
    val probe = Map(
      "EPSG:2263" -> (-74.0, 40.7), "EPSG:2232" -> (-105.5, 39.0),
      "EPSG:3978" -> (-95.0, 55.0), "EPSG:3338" -> (-154.0, 62.0),
      "EPSG:32661" -> (10.0, 78.0), "EPSG:4087" -> (30.0, -20.0),
      "EPSG:2154" -> (2.35, 48.85), "EPSG:25832" -> (9.5, 50.0),
      "EPSG:3857" -> (12.5, 41.9), "EPSG:5186" -> (127.0, 37.5),
      "EPSG:3946" -> (4.5, 45.9), "EPSG:3011" -> (18.2, 59.3))
    codes.foreach { code =>
      val wkt = Crs.esriWkt(code).getOrElse(fail(s"no WKT for $code"))
      val p4 = Crs.wktToProj4(wkt).getOrElse(fail(s"no proj4 for $code"))
      val (lon, lat) = probe(code)
      val (ax, ay) = Crs.resolve(p4).forward(lon, lat)
      val (bx, by) = Crs.resolve(code).forward(lon, lat)
      assert(math.abs(ax - bx) < 1e-6 && math.abs(ay - by) < 1e-6,
        s"$code via '$p4': ($ax,$ay) != ($bx,$by)")
    }
    // datum-shifted WKT keeps its TOWGS84 through the conversion
    val fr = Crs.wktToProj4(Crs.esriWkt("EPSG:31370").get)
    assert(fr.exists(_.contains("+proj=lcc")))
  }

  test("st_read_meta emits the derived proj4 for a .prj-bearing source") {
    val spark = graft.Graft.session("local[2]", 2)
    // the committed set's .prj is the ESRI WKT of EPSG:2263
    // (tools/make_shp_fixture.py); the reference snapshot's taxi_zones,
    // in the same CRS, is checked too wherever that tree is present
    val shps = Seq(new java.io.File("src/test/resources/shp/nyc_zones.shp").getAbsolutePath) ++
      Seq("/root/reference/test/data/nyc_taxi/taxi_zones/taxi_zones.shp")
        .filter(new java.io.File(_).isFile)
    shps.foreach { shp =>
      val meta = graft.sources.GeoRead.readMeta(spark, shp)
      val crs = meta.selectExpr("layers[0].geometry_fields[0].crs.proj4 AS p4",
        "layers[0].geometry_fields[0].crs.wkt AS wkt").collect()(0)
      val p4 = crs.getString(0)
      assert(p4.startsWith("+proj=lcc"), s"proj4: $p4")
      assert(p4.contains("+datum=NAD83") && p4.contains("+units=us-ft"), p4)
      // the derived string resolves and agrees with the WKT it came from
      val a = Crs.resolve(p4); val b = Crs.resolve(crs.getString(1))
      val (ax, ay) = a.forward(-74.0, 40.7); val (bx, by) = b.forward(-74.0, 40.7)
      assert(math.abs(ax - bx) < 1e-6 && math.abs(ay - by) < 1e-6)
    }
  }

  // --- WKT2 (ISO 19162 / PROJ >= 6 output form) ---------------------------

  private val deg = """ANGLEUNIT["degree",0.0174532925199433]"""
  private val mtr = """LENGTHUNIT["metre",1]"""

  test("WKT2 PROJCRS: UTM via Transverse Mercator + datum ensemble") {
    val wkt = s"""PROJCRS["WGS 84 / UTM zone 33N",
      BASEGEOGCRS["WGS 84",
        ENSEMBLE["World Geodetic System 1984 ensemble",
          MEMBER["World Geodetic System 1984 (Transit)"],
          MEMBER["World Geodetic System 1984 (G2296)"],
          ELLIPSOID["WGS 84",6378137,298.257223563,$mtr],
          ENSEMBLEACCURACY[2.0]],
        PRIMEM["Greenwich",0,$deg],ID["EPSG",4326]],
      CONVERSION["UTM zone 33N",
        METHOD["Transverse Mercator",ID["EPSG",9807]],
        PARAMETER["Latitude of natural origin",0,$deg,ID["EPSG",8801]],
        PARAMETER["Longitude of natural origin",15,$deg,ID["EPSG",8802]],
        PARAMETER["Scale factor at natural origin",0.9996,SCALEUNIT["unity",1],ID["EPSG",8805]],
        PARAMETER["False easting",500000,$mtr,ID["EPSG",8806]],
        PARAMETER["False northing",0,$mtr,ID["EPSG",8807]]],
      CS[Cartesian,2],
        AXIS["(E)",east,ORDER[1],$mtr],
        AXIS["(N)",north,ORDER[2],$mtr],
      USAGE[SCOPE["Navigation."],AREA["Between 12°E and 18°E."],BBOX[0,12,84,18]],
      ID["EPSG",32633]]"""
    parity(wkt, "EPSG:32633", Seq((15.0, 52.0), (12.5, 41.9), (17.9, 59.3)))
  }

  test("WKT2 PROJCRS: LCC 2SP false-origin parameter family") {
    val wkt = s"""PROJCRS["RGF93 v1 / Lambert-93",
      BASEGEOGCRS["RGF93 v1",
        DATUM["Reseau Geodesique Francais 1993 v1",
          ELLIPSOID["GRS 1980",6378137,298.257222101,$mtr]],
        PRIMEM["Greenwich",0,$deg],ID["EPSG",4171]],
      CONVERSION["Lambert-93",
        METHOD["Lambert Conic Conformal (2SP)",ID["EPSG",9802]],
        PARAMETER["Latitude of false origin",46.5,$deg,ID["EPSG",8821]],
        PARAMETER["Longitude of false origin",3,$deg,ID["EPSG",8822]],
        PARAMETER["Latitude of 1st standard parallel",49,$deg,ID["EPSG",8823]],
        PARAMETER["Latitude of 2nd standard parallel",44,$deg,ID["EPSG",8824]],
        PARAMETER["Easting at false origin",700000,$mtr,ID["EPSG",8826]],
        PARAMETER["Northing at false origin",6600000,$mtr,ID["EPSG",8827]]],
      CS[Cartesian,2],AXIS["easting (X)",east,ORDER[1],$mtr],
        AXIS["northing (Y)",north,ORDER[2],$mtr],ID["EPSG",2154]]"""
    parity(wkt, "EPSG:2154", Seq((2.35, 48.85), (5.4, 43.3), (-1.55, 47.2)))
  }

  test("WKT2 PROJCRS: ftUS false origins convert through LENGTHUNIT") {
    val ftUs = """LENGTHUNIT["US survey foot",0.304800609601219]"""
    val wkt = s"""PROJCRS["NAD83 / New York Long Island (ftUS)",
      BASEGEOGCRS["NAD83",
        DATUM["North American Datum 1983",
          ELLIPSOID["GRS 1980",6378137,298.257222101,$mtr]],
        PRIMEM["Greenwich",0,$deg],ID["EPSG",4269]],
      CONVERSION["SPCS83 New York Long Island zone (US survey feet)",
        METHOD["Lambert Conic Conformal (2SP)",ID["EPSG",9802]],
        PARAMETER["Latitude of false origin",40.1666666666667,$deg],
        PARAMETER["Longitude of false origin",-74,$deg],
        PARAMETER["Latitude of 1st standard parallel",41.0333333333333,$deg],
        PARAMETER["Latitude of 2nd standard parallel",40.6666666666667,$deg],
        PARAMETER["Easting at false origin",984250,$ftUs],
        PARAMETER["Northing at false origin",0,$ftUs]],
      CS[Cartesian,2],AXIS["easting (X)",east,ORDER[1],$ftUs],
        AXIS["northing (Y)",north,ORDER[2],$ftUs],ID["EPSG",2263]]"""
    parity(wkt, "EPSG:2263", Seq((-74.0, 40.7), (-73.5, 40.9)), tolM = 1e-5)
  }

  test("WKT2 PROJCRS: somerc and polar stereographic variant B") {
    val somerc = s"""PROJCRS["CH1903+ / LV95",
      BASEGEOGCRS["CH1903+",
        DATUM["CH1903+",ELLIPSOID["Bessel 1841",6377397.155,299.1528128,$mtr]],
        PRIMEM["Greenwich",0,$deg],ID["EPSG",4150]],
      CONVERSION["Swiss Oblique Mercator 1995",
        METHOD["Hotine Oblique Mercator (variant B)",ID["EPSG",9815]],
        PARAMETER["Latitude of projection centre",46.9524055555556,$deg],
        PARAMETER["Longitude of projection centre",7.43958333333333,$deg],
        PARAMETER["Azimuth at projection centre",90,$deg],
        PARAMETER["Angle from Rectified to Skew Grid",90,$deg],
        PARAMETER["Scale factor at projection centre",1,SCALEUNIT["unity",1]],
        PARAMETER["Easting at projection centre",2600000,$mtr],
        PARAMETER["Northing at projection centre",1200000,$mtr]],
      CS[Cartesian,2],AXIS["(E)",east,ORDER[1],$mtr],
        AXIS["(N)",north,ORDER[2],$mtr],ID["EPSG",2056]]"""
    // the CH1903+ WKT2 carries no ballpark shift, so compare to the
    // grid-free proj-string twin, not the EPSG entry's towgs84 form
    parity(somerc,
      "+proj=somerc +lat_0=46.9524055555556 +lon_0=7.43958333333333 " +
        "+x_0=2600000 +y_0=1200000 +ellps=bessel",
      Seq((7.44, 46.95), (8.54, 47.38)))
    val stere = s"""PROJCRS["WGS 84 / Antarctic Polar Stereographic",
      BASEGEOGCRS["WGS 84",
        ENSEMBLE["World Geodetic System 1984 ensemble",
          MEMBER["World Geodetic System 1984 (Transit)"],
          ELLIPSOID["WGS 84",6378137,298.257223563,$mtr],
          ENSEMBLEACCURACY[2.0]],
        PRIMEM["Greenwich",0,$deg],ID["EPSG",4326]],
      CONVERSION["Antarctic Polar Stereographic",
        METHOD["Polar Stereographic (variant B)",ID["EPSG",9829]],
        PARAMETER["Latitude of standard parallel",-71,$deg,ID["EPSG",8832]],
        PARAMETER["Longitude of origin",0,$deg,ID["EPSG",8833]],
        PARAMETER["False easting",0,$mtr],
        PARAMETER["False northing",0,$mtr]],
      CS[Cartesian,2],AXIS["(E)",east,ORDER[1],$mtr],
        AXIS["(N)",north,ORDER[2],$mtr],ID["EPSG",3031]]"""
    parity(stere, "EPSG:3031", Seq((120.0, -75.0), (-45.0, -80.0)))
  }

  test("WKT2 GEOGCRS parses; BOUNDCRS carries the towgs84 bridge") {
    val geog = s"""GEOGCRS["WGS 84",
      ENSEMBLE["World Geodetic System 1984 ensemble",
        MEMBER["World Geodetic System 1984 (Transit)"],
        ELLIPSOID["WGS 84",6378137,298.257223563,$mtr],
        ENSEMBLEACCURACY[2.0]],
      PRIMEM["Greenwich",0,$deg],
      CS[ellipsoidal,2],
        AXIS["geodetic latitude (Lat)",north,ORDER[1],$deg],
        AXIS["geodetic longitude (Lon)",east,ORDER[2],$deg],
      ID["EPSG",4326]]"""
    val g = Crs.resolve(geog)
    assert(g.forward(12.5, 41.9) == ((12.5, 41.9)))
    // BOUNDCRS: OSGB36 BNG + abridged position-vector transformation —
    // must match the proj-string twin with the same 7 parameters
    val bound = s"""BOUNDCRS[
      SOURCECRS[PROJCRS["OSGB36 / British National Grid",
        BASEGEOGCRS["OSGB36",
          DATUM["Ordnance Survey of Great Britain 1936",
            ELLIPSOID["Airy 1830",6377563.396,299.3249646,$mtr]],
          PRIMEM["Greenwich",0,$deg],ID["EPSG",4277]],
        CONVERSION["British National Grid",
          METHOD["Transverse Mercator",ID["EPSG",9807]],
          PARAMETER["Latitude of natural origin",49,$deg],
          PARAMETER["Longitude of natural origin",-2,$deg],
          PARAMETER["Scale factor at natural origin",0.9996012717,SCALEUNIT["unity",1]],
          PARAMETER["False easting",400000,$mtr],
          PARAMETER["False northing",-100000,$mtr]],
        CS[Cartesian,2],AXIS["(E)",east,ORDER[1],$mtr],
          AXIS["(N)",north,ORDER[2],$mtr],ID["EPSG",27700]]],
      TARGETCRS[GEOGCRS["WGS 84",
        ENSEMBLE["World Geodetic System 1984 ensemble",
          MEMBER["World Geodetic System 1984 (Transit)"],
          ELLIPSOID["WGS 84",6378137,298.257223563,$mtr],
          ENSEMBLEACCURACY[2.0]],
        PRIMEM["Greenwich",0,$deg],ID["EPSG",4326]]],
      ABRIDGEDTRANSFORMATION["OSGB36 to WGS 84 (9)",
        METHOD["Position Vector transformation (geog2D domain)",ID["EPSG",9606]],
        PARAMETER["X-axis translation",446.448,ID["EPSG",8605]],
        PARAMETER["Y-axis translation",-125.157,ID["EPSG",8606]],
        PARAMETER["Z-axis translation",542.06,ID["EPSG",8607]],
        PARAMETER["X-axis rotation",0.15,ID["EPSG",8608]],
        PARAMETER["Y-axis rotation",0.247,ID["EPSG",8609]],
        PARAMETER["Z-axis rotation",0.842,ID["EPSG",8610]],
        PARAMETER["Scale difference",0.9999795106,ID["EPSG",8611]]]]"""
    parity(bound,
      "+proj=tmerc +lat_0=49 +lon_0=-2 +k=0.9996012717 +x_0=400000 " +
        "+y_0=-100000 +ellps=airy " +
        "+towgs84=446.448,-125.157,542.06,0.15,0.247,0.842,-20.4894",
      Seq((-1.5, 52.5), (-3.2, 55.95), (0.1, 51.5)), tolM = 1e-3)
  }

  test("WKT2 guards: Belgium/Michigan LCC, eqc lat_ts, webmerc origins, non-WGS84 BOUNDCRS") {
    def projcrs(method: String, params: String): String =
      s"""PROJCRS["t",BASEGEOGCRS["WGS 84",
        DATUM["World Geodetic System 1984",
          ELLIPSOID["WGS 84",6378137,298.257223563,$mtr]],
        PRIMEM["Greenwich",0,$deg]],
      CONVERSION["c",METHOD["$method"],$params],
      CS[Cartesian,2],AXIS["(E)",east,ORDER[1],$mtr],
        AXIS["(N)",north,ORDER[2],$mtr]]"""
    // EPSG 9803/1051: silently running plain 2SP math would drop the
    // Belgium meridian correction / Michigan ellipsoid scaling
    val belgium = projcrs("Lambert Conic Conformal (2SP Belgium)",
      s"""PARAMETER["Latitude of false origin",90,$deg],
        PARAMETER["Longitude of false origin",4.36,$deg],
        PARAMETER["Latitude of 1st standard parallel",49.83,$deg],
        PARAMETER["Latitude of 2nd standard parallel",51.17,$deg],
        PARAMETER["Easting at false origin",150000.01,$mtr],
        PARAMETER["Northing at false origin",5400088.44,$mtr]""")
    val michigan = projcrs("Lambert Conic Conformal (2SP Michigan)",
      s"""PARAMETER["Latitude of false origin",43.32,$deg],
        PARAMETER["Latitude of 1st standard parallel",44.18,$deg],
        PARAMETER["Ellipsoid scaling factor",1.0000382,SCALEUNIT["unity",1]]""")
    // non-zero standard parallel scales eastings by cos(lat_ts) — must
    // reach parseProjString's guard, not silently project with lat_ts=0
    val eqcTs = projcrs("Equidistant Cylindrical",
      s"""PARAMETER["Latitude of 1st standard parallel",30,$deg],
        PARAMETER["Longitude of natural origin",0,$deg]""")
    // webmerc has no origin freedom — dropping lon_0 would shift output
    val webmercLon = projcrs("Popular Visualisation Pseudo Mercator",
      s"""PARAMETER["Longitude of natural origin",15,$deg],
        PARAMETER["False easting",0,$mtr]""")
    val nonWgsBound = s"""BOUNDCRS[
      SOURCECRS[GEOGCRS["OSGB36",
        DATUM["Ordnance Survey of Great Britain 1936",
          ELLIPSOID["Airy 1830",6377563.396,299.3249646,$mtr]],
        PRIMEM["Greenwich",0,$deg],CS[ellipsoidal,2],
        AXIS["(Lat)",north,ORDER[1],$deg],AXIS["(Lon)",east,ORDER[2],$deg]]],
      TARGETCRS[GEOGCRS["ETRS89",
        DATUM["European Terrestrial Reference System 1989",
          ELLIPSOID["GRS 1980",6378137,298.257222101,$mtr]],
        PRIMEM["Greenwich",0,$deg]]],
      ABRIDGEDTRANSFORMATION["x",
        METHOD["Geocentric translations (geog2D domain)"],
        PARAMETER["X-axis translation",446.448]]]"""
    Seq(belgium, michigan, eqcTs, webmercLon, nonWgsBound).foreach { t =>
      val e = intercept[IllegalArgumentException](Crs.resolve(t))
      assert(e.getMessage.contains("unsupported"), s"${e.getMessage}")
    }
    // zero-valued lat_ts / origins still pass through the same arms
    val eqcZero = projcrs("Equidistant Cylindrical",
      s"""PARAMETER["Latitude of 1st standard parallel",0,$deg],
        PARAMETER["Longitude of natural origin",0,$deg]""")
    val (ex, _) = Crs.resolve(eqcZero).forward(90.0, 0.0)
    assert(math.abs(ex - 6378137.0 * math.Pi / 2) < 1.0, ex.toString)
    val webmercZero = projcrs("Popular Visualisation Pseudo Mercator",
      s"""PARAMETER["Longitude of natural origin",0,$deg],
        PARAMETER["False easting",0,$mtr]""")
    val (wx, _) = Crs.resolve(webmercZero).forward(90.0, 0.0)
    assert(math.abs(wx - 6378137.0 * math.Pi / 2) < 1.0, wx.toString)
  }

  test("malformed EPSG codes fall through to the catalog error, never NFE") {
    // every prefix family whose match arm parses the numeric tail —
    // a non-numeric tail must reach the clear IllegalArgumentException,
    // not throw NumberFormatException mid-pattern-match (r13 ADVICE)
    val bad = Seq("EPSG:4bad", "EPSG:30bd", "EPSG:32abc", "EPSG:269xy",
      "EPSG:267ab", "EPSG:24xy", "EPSG:258no", "EPSG:283pq", "EPSG:78zz",
      "EPSG:319ab", "EPSG:66no", "EPSG:314xx", "EPSG:284yy", "EPSG:51xx",
      "EPSG:38ab", "EPSG:230ab", "EPSG:39xx")
    bad.foreach { c =>
      val e = intercept[IllegalArgumentException](Crs.resolve(c))
      assert(e.getMessage.contains("unsupported CRS"), s"$c: ${e.getMessage}")
    }
    // the ESRI WKT generator path takes the same guards: a malformed
    // code yields None (no .prj), never an exception
    bad.foreach(c => assert(Crs.esriWkt(c).isEmpty, c))
  }

  test("unsupported text forms raise with a clear pointer") {
    val bad = Seq("+proj=omerc +lat_0=4 +lonc=115", "+nonsense",
      "PROJCS[\"x\",GEOGCS[\"g\",DATUM[\"d\",SPHEROID[\"s\",6378137,298.25]],PRIMEM[\"Greenwich\",0],UNIT[\"Degree\",0.0174532925199433]],PROJECTION[\"Robinson\"],UNIT[\"Meter\",1]]")
    bad.foreach { t =>
      val e = intercept[IllegalArgumentException](Crs.resolve(t))
      assert(e.getMessage.contains("unsupported") || e.getMessage.contains("missing"),
        s"$t: ${e.getMessage}")
    }
  }
}
