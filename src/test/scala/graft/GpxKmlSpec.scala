package graft

import graft.GeoFunctions._
import graft.sources.{GeoRead, Gpx, Kml}
import org.apache.spark.sql.functions._

class GpxKmlSpec extends SparkSpec {

  private val gpxPath = SparkEntry.fixture("gpx/sample.gpx")
  private val kmlPath = SparkEntry.fixture("kml/sample.kml")

  test("kmz: doc.kml is preferred over overlay entries; inner selection works") {
    val kmzPath = SparkEntry.fixture("kml/sample.kmz")
    // root read = the doc.kml rows, identical to reading the raw kml
    val viaKmz = GeoRead.read(spark, kmzPath)
      .select("folder", "name").collect().map(r => (r.getString(0), r.getString(1))).sorted
    val viaKml = GeoRead.read(spark, kmlPath)
      .select("folder", "name").collect().map(r => (r.getString(0), r.getString(1))).sorted
    assert(viaKmz.sameElements(viaKml))
    assert(!viaKmz.exists(_._2 == "decoy-overlay"))
    // explicit inner-entry selection reaches the overlay
    val overlay = GeoRead.read(spark, s"$kmzPath/files/overlay.kml")
      .select("name").collect().map(_.getString(0))
    assert(overlay.sameElements(Array("decoy-overlay")))
    // st_read_meta follows the same extraction
    val drv = GeoRead.readMeta(spark, kmzPath)
      .select("driver_short_name").collect()(0).getString(0)
    assert(drv == "kml", drv)
  }

  test("gpx: five layers with GDAL's schemas and per-file ordinals") {
    val wpt = Gpx.read(spark, gpxPath, "waypoints").collect()
    assert(wpt.length == 3)
    val ams = wpt.find(_.getAs[String]("name") == "Amsterdam").get
    assert(ams.getAs[Double]("ele") == -2.1)
    assert(ams.getAs[String]("sym") == "Flag")
    // lat/lon become POINT(lon lat)
    val amsPt = graft.functions.Jts.read(ams.getAs[Array[Byte]]("geom"))
    assert(amsPt.getCoordinate.x == 4.8952 && amsPt.getCoordinate.y == 52.3702)
    assert(wpt.find(_.getAs[String]("name") == "Sydney").get.isNullAt(1)) // no ele

    val rte = Gpx.read(spark, gpxPath, "routes").collect()
    assert(rte.length == 2)
    val commute = rte.find(_.getAs[String]("name") == "commute").get
    assert(commute.getAs[Int]("number") == 1)
    assert(graft.functions.Jts.read(commute.getAs[Array[Byte]]("geom"))
      .getGeometryType == "LineString")

    val trk = Gpx.read(spark, gpxPath, "tracks").collect()
    val run = trk.find(_.getAs[String]("name") == "morning run").get
    val mls = graft.functions.Jts.read(run.getAs[Array[Byte]]("geom"))
    assert(mls.getGeometryType == "MultiLineString")
    assert(mls.getNumGeometries == 2) // two trksegs, tunnel gap preserved
    assert(mls.getNumPoints == 5)

    val tpt = Gpx.read(spark, gpxPath, "track_points").collect()
    assert(tpt.length == 7)
    // (track_fid, seg, point) ordinals in document order
    assert(tpt.count(r => r.getInt(0) == 0 && r.getInt(1) == 1) == 2)

    val rpt = Gpx.read(spark, gpxPath, "route_points").collect()
    assert(rpt.length == 5)
    assert(rpt.count(_.getInt(0) == 0) == 3)
  }

  test("gpx: unknown layer fails driver-side with the layer list") {
    val e = intercept[IllegalArgumentException](Gpx.read(spark, gpxPath, "nope"))
    assert(e.getMessage.contains("waypoints"))
  }

  test("kml: placemarks flatten with folder path, Z kept, ext map") {
    val rows = Kml.read(spark, kmlPath).collect()
    assert(rows.length == 6)
    val denver = rows.find(_.getAs[String]("name") == "Denver").get
    assert(denver.getAs[String]("folder") == "graft kml fixture/cities")
    val dPt = graft.functions.Jts.read(denver.getAs[Array[Byte]]("geom"))
    assert(dPt.getCoordinate.getZ == 1609.3) // explicit altitude -> 3D
    assert(denver.getAs[Map[String, String]]("ext") ==
      Map("state" -> "CO", "nickname" -> "mile high"))

    val ams = rows.find(_.getAs[String]("name") == "Amsterdam").get
    assert(graft.functions.Jts.read(ams.getAs[Array[Byte]]("geom"))
      .getCoordinate.getZ.isNaN) // no altitude -> 2D

    val yard = rows.find(_.getAs[String]("name") == "courtyard").get
    val poly = graft.functions.Jts.read(yard.getAs[Array[Byte]]("geom"))
      .asInstanceOf[org.locationtech.jts.geom.Polygon]
    assert(poly.getNumInteriorRing == 1) // hole preserved
    assert(poly.getArea == 96.0) // 10x10 minus 2x2

    val islands = rows.find(_.getAs[String]("name") == "islands").get
    assert(graft.functions.Jts.read(islands.getAs[Array[Byte]]("geom"))
      .getGeometryType == "MultiPoint")

    // root-level placemark sits under the Document name alone
    assert(rows.find(_.getAs[String]("name") == "rootmark")
      .get.getAs[String]("folder") == "graft kml fixture")
  }

  test("st_read dispatches .gpx (layer option) and .kml; meta lists layers") {
    val viaRead = GeoRead.read(spark, gpxPath, GeoRead.ReadOptions(layer = "tracks"))
    assert(viaRead.columns.contains("number") && viaRead.count() == 2)
    // default layer is waypoints
    assert(GeoRead.read(spark, gpxPath).count() == 3)
    assert(GeoRead.read(spark, kmlPath).select("folder").distinct().count() == 3)

    val meta = GeoRead.readMeta(spark, gpxPath).selectExpr("explode(layers.name)")
      .collect().map(_.getString(0)).toSet
    assert(meta == Gpx.layers.toSet)
    val drivers = GeoRead.drivers(spark).collect().map(_.getString(0)).toSet
    assert(drivers.contains("gpx") && drivers.contains("kml"))
  }

  test("directory of gpx files unions plan-level (one task per file)") {
    val tmp = java.nio.file.Files.createTempDirectory("gpxdir")
    java.nio.file.Files.copy(java.nio.file.Paths.get(gpxPath), tmp.resolve("a.gpx"))
    java.nio.file.Files.copy(java.nio.file.Paths.get(gpxPath), tmp.resolve("b.gpx"))
    assert(GeoRead.read(spark, tmp.toString).count() == 6) // 2x waypoints
  }

  private val gmlPath = SparkEntry.fixture("gml/sample.gml")

  test("gml: feature members, gml2/gml3 geometry forms, srs, props, Z") {
    import org.apache.spark.sql.functions._
    import graft.GeoFunctions._
    val df = GeoRead.read(spark, gmlPath)
    assert(df.count() == 7)
    val byFid = df.collect().map(r => r.getAs[String]("fid") -> r).toMap

    // polygon with hole (GML3 exterior/interior posList)
    val bld = df.filter(col("fid") === "bld.1")
      .selectExpr("st_ninteriorrings(geom)", "st_npoints(geom)",
        "srs", "props['height']")
      .collect()(0)
    assert(bld.get(0) == 1 && bld.get(1) == 10)
    assert(bld.getString(2) == "EPSG:4326" && bld.getString(3) == "42.5")

    // srsDimension=3 posList keeps Z
    val road = df.filter(col("fid") === "road.7")
      .selectExpr("st_hasz(geom)", "st_npoints(geom)").collect()(0)
    assert(road.getBoolean(0) && road.get(1) == 3)

    // Curve merges LineStringSegments, deduping the shared vertex
    val river = df.filter(col("fid") === "rv.4")
      .selectExpr("st_geometrytype(geom)", "st_npoints(geom)").collect()(0)
    assert(river.getString(0) == "LINESTRING" && river.get(1) == 4)

    // GML2 coordinates polygon (outerBoundaryIs, cs/ts defaults)
    val zone = df.filter(col("fid") === "zone.3")
      .selectExpr("st_geometrytype(geom)", "st_area(geom)").collect()(0)
    assert(zone.getString(0) == "POLYGON" && zone.getDouble(1) == 16.0)

    // MultiSurface -> MULTIPOLYGON with both members
    val park = df.filter(col("fid") === "park.9")
      .selectExpr("st_geometrytype(geom)", "st_ngeometries(geom)").collect()(0)
    assert(park.getString(0) == "MULTIPOLYGON" && park.get(1) == 2)

    // http-style srsName normalizes; absent srsName stays null
    assert(byFid("st.1").getAs[String]("srs") == "EPSG:3857")
    assert(byFid("st.2").getAs[String]("srs") == null)
    // featureMembers (plural) yielded both stations
    assert(df.filter(col("layer") === "Station").count() == 2)

    val drivers = GeoRead.drivers(spark).collect().map(_.getString(0)).toSet
    assert(drivers.contains("gml"))
    val meta = GeoRead.readMeta(spark, gmlPath)
      .selectExpr("driver_short_name").collect()(0).getString(0)
    assert(meta == "gml")
  }

  test("kml writer: placemark roundtrip through our reader (geoms, ext data, nulls)") {
    import spark.implicits._
    import graft.sources.GeoXmlWrite
    val gf = graft.functions.Jts.gf
    def wkb(g: org.locationtech.jts.geom.Geometry) = graft.functions.Jts.write(g)
    val poly = gf.createPolygon(
      gf.createLinearRing(Array(c(0, 0), c(10, 0), c(10, 10), c(0, 10), c(0, 0))),
      Array(gf.createLinearRing(Array(c(4, 4), c(6, 4), c(6, 6), c(4, 6), c(4, 4)))))
    val multi = gf.createGeometryCollection(Array(
      graft.functions.Jts.point(1.5, 2.5),
      gf.createLineString(Array(c(0, 0), c(3, 4)))))
    val rows = Seq(
      ("pt", "a <point> & co", "x1", wkb(graft.functions.Jts.point(4.25, 52.5))),
      ("line", null, "x2", wkb(gf.createLineString(Array(c(1, 1), c(2, 3), c(5, 5))))),
      ("poly", "with hole", null, wkb(poly)),
      ("multi", null, "x4", wkb(multi)),
      ("nogeo", "geometry-less", "x5", null))
    val df = rows.toDF("name", "description", "extra", "geom")
    val path = java.nio.file.Files.createTempDirectory("kmlw").resolve("out.kml").toString
    graft.sources.GeoWrite.write(df, path, "geom")
    val back = Kml.read(spark, path).collect()
    assert(back.length == 5)
    val byName = back.map(r => r.getAs[String]("name") -> r).toMap
    assert(byName("pt").getAs[String]("description") == "a <point> & co")
    assert(graft.functions.Jts.read(byName("pt").getAs[Array[Byte]]("geom"))
      .toString == "POINT (4.25 52.5)")
    assert(byName("pt").getAs[Map[String, String]]("ext") == Map("extra" -> "x1"))
    assert(graft.functions.Jts.read(byName("line").getAs[Array[Byte]]("geom"))
      .getNumPoints == 3)
    val p2 = graft.functions.Jts.read(byName("poly").getAs[Array[Byte]]("geom"))
    assert(p2.getGeometryType == "Polygon" && math.abs(p2.getArea - 96.0) < 1e-9)
    val m2 = graft.functions.Jts.read(byName("multi").getAs[Array[Byte]]("geom"))
    assert(m2.getNumGeometries == 2)
    assert(byName("nogeo").isNullAt(byName("nogeo").fieldIndex("geom")))
  }

  test("gpx writer: waypoints and tracks roundtrip through our reader") {
    import spark.implicits._
    val gf = graft.functions.Jts.gf
    def wkb(g: org.locationtech.jts.geom.Geometry) = graft.functions.Jts.write(g)
    val seg1 = gf.createLineString(Array(c(4.1, 52.1), c(4.2, 52.2)))
    val seg2 = gf.createLineString(Array(c(5.0, 53.0), c(5.1, 53.1), c(5.2, 53.0)))
    val rows = Seq(
      ("wp one", Some(12.5), Some("2024-01-01T10:00:00Z"), None,
        wkb(graft.functions.Jts.point(4.8952, 52.3702))),
      ("trackA", None, None, Some(7),
        wkb(gf.createMultiLineString(Array(seg1, seg2)))),
      ("trackB", None, None, None, wkb(seg1)))
    val df = rows.toDF("name", "ele", "time", "number", "geom")
    val path = java.nio.file.Files.createTempDirectory("gpxw").resolve("out.gpx").toString
    graft.sources.GeoWrite.write(df, path, "geom")
    val wpt = Gpx.read(spark, path, "waypoints").collect()
    assert(wpt.length == 1)
    assert(wpt(0).getAs[String]("name") == "wp one" && wpt(0).getAs[Double]("ele") == 12.5 &&
      wpt(0).getAs[String]("time") == "2024-01-01T10:00:00Z")
    val wp = graft.functions.Jts.read(wpt(0).getAs[Array[Byte]]("geom"))
    assert(wp.getCoordinate.x == 4.8952 && wp.getCoordinate.y == 52.3702)
    val trk = Gpx.read(spark, path, "tracks").collect()
    assert(trk.length == 2)
    val ta = trk.find(_.getAs[String]("name") == "trackA").get
    assert(ta.getAs[Int]("number") == 7)
    val tag = graft.functions.Jts.read(ta.getAs[Array[Byte]]("geom"))
    assert(tag.getGeometryType == "MultiLineString" && tag.getNumGeometries == 2 &&
      tag.getNumPoints == 5)
    // unsupported geometry refuses with the type named
    val bad = Seq(("p", wkb(gf.createPolygon(gf.createLinearRing(
      Array(c(0, 0), c(1, 0), c(1, 1), c(0, 0))))))).toDF("name", "geom")
    val err = intercept[Exception] {
      graft.sources.GeoWrite.write(bad, java.nio.file.Files.createTempDirectory("gpxw2")
        .resolve("bad.gpx").toString, "geom")
    }
    assert(err.getMessage.contains("Polygon"), err.getMessage)
  }

  private def c(x: Double, y: Double) = new org.locationtech.jts.geom.Coordinate(x, y)
}
