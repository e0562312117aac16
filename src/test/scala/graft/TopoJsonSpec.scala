package graft

import org.apache.spark.sql.functions._

/** TopoJSON reader vs the python-built fixtures
  * (tools/make_topojson_golden.py — independent encode + accounting;
  * its golden CSV is q_src_topojson's oracle). */
class TopoJsonSpec extends SparkSpec {
  private val dir = SparkEntry.fixture("topojson") + "/"

  test("quantized topology: shared arc, reversal, stitching, transform") {
    graft.Graft.install(spark)
    val df = graft.sources.GeoRead.read(spark, dir + "quantized.topojson")
    val rows = df.selectExpr("layer", "id", "props['name'] AS name",
        "ST_GeometryType(geom) AS gt", "ST_NPoints(geom) AS np",
        "ST_IsValid(geom) AS ok")
      .orderBy("layer", "id").collect()
    assert(rows.map(r => (r.getString(0), r.getString(1))).toSeq == Seq(
      ("counties", "E"), ("counties", "W"), ("places", "P1"), ("places", "P2"),
      ("roads", "R1")))
    // both county rings stitch from the SHARED border arc (E reversed):
    // 5 unique vertices + the closing point, and valid rings
    assert(rows(0).getString(3) == "POLYGON" && rows(0).getInt(4) == 6 && rows(0).getBoolean(5))
    assert(rows(1).getString(3) == "POLYGON" && rows(1).getInt(4) == 6 && rows(1).getBoolean(5))
    assert(rows(2).getString(2) == "á-town") // utf8 property
    assert(rows(3).getString(3) == "MULTIPOINT")
    // the two-arc road drops the duplicated junction position
    assert(rows(4).getString(3) == "LINESTRING" && rows(4).getInt(4) == 4)
    // shared border: the counties touch along it (topology preserved)
    val touch = df.filter(col("layer") === "counties").select("id", "geom").collect()
    val e = graft.functions.Jts.read(touch.find(_.getString(0) == "E").get.getAs[Array[Byte]](1))
    val w = graft.functions.Jts.read(touch.find(_.getString(0) == "W").get.getAs[Array[Byte]](1))
    assert(e.touches(w) && e.intersection(w).getLength > 0)
  }

  test("parallel decode: members become real partitions, same rows") {
    graft.Graft.install(spark)
    val df = graft.sources.GeoRead.read(spark, dir + "quantized.topojson")
    // the fixture has >1 member, so the member fan-out must yield >1
    // partition (arc table broadcast, decode task-parallel)
    assert(df.rdd.getNumPartitions > 1, s"partitions=${df.rdd.getNumPartitions}")
    val viaTasks = df.selectExpr("layer", "id", "ST_AsText(geom)")
      .collect().map(_.toString).sorted
    val local = graft.sources.TopoJson.parseFile(dir + "quantized.topojson").toList
    assert(viaTasks.length == local.length)
  }

  test("non-quantized topology and clear errors") {
    graft.Graft.install(spark)
    val plain = graft.sources.GeoRead.read(spark, dir + "plain.topojson")
      .selectExpr("layer", "id", "ST_AsText(geom)").collect()
    assert(plain.length == 1 &&
      plain(0).getString(2) == "POLYGON ((0 0, 4 0, 2 3, 0 0))")
    val f = java.io.File.createTempFile("graft-notopo", ".topojson")
    java.nio.file.Files.writeString(f.toPath, """{"type":"FeatureCollection"}""")
    val err = intercept[IllegalArgumentException] {
      graft.sources.TopoJson.parseFile(f.getPath).toList
    }
    assert(err.getMessage.contains("not a TopoJSON file"))
    val drow = spark.sql(
      "SELECT can_open, can_create FROM st_drivers() WHERE short_name='topojson'").collect()
    assert(drow.length == 1 && drow(0).getBoolean(0) && drow(0).getBoolean(1))
  }

  test("writer roundtrip: shared border becomes one arc, geometry survives") {
    import org.apache.spark.sql.functions._
    graft.Graft.install(spark)
    // two squares sharing the full x=2 edge + a road + a point
    val rows = Seq(
      ("counties", "W", "POLYGON ((0 0, 2 0, 2 2, 0 2, 0 0))"),
      ("counties", "E", "POLYGON ((2 0, 4 0, 4 2, 2 2, 2 0))"),
      ("roads", "r1", "LINESTRING (0 3, 2 3, 4 3)"),
      ("pois", "p1", "POINT (1 1)"))
    val df = spark.createDataFrame(rows).toDF("layer", "id", "wkt")
      .select(col("layer"), col("id"), expr("ST_GeomFromText(wkt)").as("geom"))
    val out = java.io.File.createTempFile("graft-topo-out", ".topojson")
    graft.sources.GeoWrite.write(df, out.getPath, "geom")
    // arcs: shared border stored ONCE (W contributes border + its
    // remainder, E reuses the border via a complemented index and adds
    // only its remainder) + the road -> exactly 4 arcs, not the 5 a
    // dedup-free writer would emit
    val root = new com.fasterxml.jackson.databind.ObjectMapper().readTree(out)
    assert(root.get("arcs").size == 4, s"expected 4 shared arcs, got ${root.get("arcs").size}")
    val txt = root.toString
    assert(txt.contains("-"), "expected a complemented (reversed) arc index")
    // read back: same rows, same topology, quantization-level geometry
    val back = graft.sources.GeoRead.read(spark, out.getPath)
    assert(back.count() == 4)
    val polys = back.filter(col("layer") === "counties").select("id", "geom").collect()
    val wG = graft.functions.Jts.read(polys.find(_.getString(0) == "W").get.getAs[Array[Byte]](1))
    val eG = graft.functions.Jts.read(polys.find(_.getString(0) == "E").get.getAs[Array[Byte]](1))
    assert(wG.touches(eG) && wG.intersection(eG).getLength > 1.99)
    assert(math.abs(wG.getArea - 4.0) < 1e-3 && math.abs(eG.getArea - 4.0) < 1e-3)
    val road = back.filter(col("layer") === "roads").selectExpr("ST_NPoints(geom)").collect()
    assert(road(0).getInt(0) == 3)
    val poi = back.filter(col("layer") === "pois")
      .selectExpr("ST_X(geom)", "ST_Y(geom)").collect()(0)
    assert(math.abs(poi.getDouble(0) - 1.0) < 1e-3 && math.abs(poi.getDouble(1) - 1.0) < 1e-3)
  }

  test("writer: junction-free ring is a single closed arc; props survive") {
    import org.apache.spark.sql.functions._
    graft.Graft.install(spark)
    val df = spark.createDataFrame(Seq(("solo", "s1", "tag\"x", "POLYGON ((0 0, 10 0, 5 8, 0 0))")))
      .toDF("layer", "id", "kind", "wkt")
      .select(col("layer"), col("id"), col("kind"), expr("ST_GeomFromText(wkt)").as("geom"))
    val out = java.io.File.createTempFile("graft-topo-solo", ".topojson")
    graft.sources.TopoJson.write(df, "geom", out.getPath)
    val root = new com.fasterxml.jackson.databind.ObjectMapper().readTree(out)
    assert(root.get("arcs").size == 1)
    val arc = root.get("arcs").get(0)
    // closed: deltas sum to zero on both axes
    var sx = 0L; var sy = 0L
    (0 until arc.size).foreach { i => sx += arc.get(i).get(0).asLong; sy += arc.get(i).get(1).asLong }
    assert(sx == 0L && sy == 0L, s"ring arc not closed: ($sx,$sy)")
    val back = graft.sources.GeoRead.read(spark, out.getPath).collect()
    assert(back.length == 1)
    assert(back(0).getMap[String, String](2)("kind") == "tag\"x") // json-escaped property
    val g = graft.functions.Jts.read(back(0).getAs[Array[Byte]](3))
    assert(math.abs(g.getArea - 40.0) < 1e-2)
  }
}
