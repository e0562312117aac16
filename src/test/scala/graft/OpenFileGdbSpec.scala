package graft

import org.apache.spark.sql.functions._

/** OpenFileGDB container reader vs the hand-authored fixture
  * (tools/make_gdb_fixture.py — an independent python implementation
  * of the published FGDB table spec; the golden CSV is the oracle
  * for q_src_gdb). */
class OpenFileGdbSpec extends SparkSpec {
  private val dir = SparkEntry.fixture("filegdb/sample.gdb")

  test("catalog: user layers discovered via GDB_SystemCatalog") {
    assert(graft.sources.OpenFileGdb.layers(dir) ==
      Seq("points", "roads", "parcels", "spots"))
  }

  test("points: attributes, nulls, utf8, datetime, quantized coords") {
    graft.Graft.install(spark)
    val df = graft.sources.OpenFileGdb.read(spark, dir, "points")
    assert(df.columns.toSeq ==
      Seq("OBJECTID", "name", "pop", "score", "born", "geom"))
    val rows = df.selectExpr("OBJECTID", "name", "pop", "score",
        "CAST(born AS STRING) AS born",
        "CASE WHEN geom IS NULL THEN NULL ELSE ST_AsText(geom) END AS wkt")
      .orderBy("OBJECTID").collect()
    assert(rows.length == 5)
    assert(rows(0).getString(1) == "alpha" && rows(0).getInt(2) == 100 &&
      rows(0).getDouble(3) == 1.5)
    // 45000 days after 1899-12-30 = 2023-03-15 (0:00 UTC)
    assert(rows(0).getString(4) == "2023-03-15 00:00:00")
    assert(rows(0).getString(5) == "POINT (2.5 3.25)")
    assert(rows(1).getString(1) == "béta üml") // utf8 survives
    assert(rows(1).getString(5) == "POINT (-10.125 20.0625)")
    assert(rows(2).isNullAt(1) && rows(2).isNullAt(2) &&
      rows(2).getDouble(3) == 3.125 && rows(2).isNullAt(4))
    assert(rows(3).isNullAt(5)) // null geometry row
    // quantized to round((v - origin) * scale) / scale + origin — the
    // 1e-4 grid reproduces 179.9 only to fp precision, same on both sides
    assert(rows(4).getString(5) == "POINT (179.89999999999998 89.89999999999998)")
  }

  test("roads: polyline parts; parcels: ring-rule holes; spots: multipoint") {
    graft.Graft.install(spark)
    val roads = graft.sources.OpenFileGdb.read(spark, dir, "roads")
      .selectExpr("OBJECTID", "lanes", "ST_AsText(geom) AS wkt")
      .orderBy("OBJECTID").collect()
    assert(roads(0).getShort(1) == 2.toShort)
    assert(roads(0).getString(2) == "LINESTRING (0 0, 10.5 0.25, 20 -5.125)")
    assert(roads(1).getString(2) ==
      "MULTILINESTRING ((1 1, 2 2), (3 3, 4 2.5, 5 4))")
    val parcels = graft.sources.OpenFileGdb.read(spark, dir, "parcels")
      .selectExpr("OBJECTID", "name", "ST_Area(geom) AS a", "ST_NPoints(geom) AS np")
      .orderBy("OBJECTID").collect()
    assert(parcels(0).getDouble(2) == 100.0)
    // 20x20 shell minus 5x5 hole
    assert(parcels(1).getDouble(2) == 400.0 - 25.0 && parcels(1).getInt(3) == 10)
    val spots = graft.sources.OpenFileGdb.read(spark, dir, "spots")
      .selectExpr("ST_AsText(geom)").collect()
    assert(spots(0).getString(0) == "MULTIPOINT (1.5 2.5, 3.5 4.5)")
  }

  test("st_read / st_read_meta integration and clear errors") {
    graft.Graft.install(spark)
    val n = spark.sql(
      s"SELECT count(*) FROM st_read('$dir', 'layer=points')").collect()(0).getLong(0)
    assert(n == 5L)
    val meta = spark.sql(s"SELECT layers FROM st_read_meta('$dir')").collect()(0)
    val layers = meta.getSeq[org.apache.spark.sql.Row](0)
    assert(layers.map(_.getString(0)) == Seq("points", "roads", "parcels", "spots"))
    assert(layers.head.getLong(1) == 5L) // feature_count from the table header
    val drow = spark.sql(
      "SELECT can_open, can_create FROM st_drivers() WHERE short_name='openfilegdb'")
      .collect()
    assert(drow.length == 1 && drow(0).getBoolean(0) && drow(0).getBoolean(1)) // r13: GdbWrite
    val err = intercept[IllegalArgumentException] {
      graft.sources.OpenFileGdb.read(spark, dir, "nope")
    }
    assert(err.getMessage.contains("no layer 'nope'"))
    val notGdb = intercept[IllegalArgumentException] {
      graft.sources.OpenFileGdb.layers("/tmp")
    }
    assert(notGdb.getMessage.contains("a00000001.gdbtable"))
  }

  test("parallel scan: .gdbtablx chunks become real partitions") {
    graft.Graft.install(spark)
    // chunkRows=2 over the 5-row points table -> 3 tasks, same rows:
    // a large single .gdbtable scans with real parallelism (the
    // ST_ReadOSM blob-parallel recipe applied to the row-offset index)
    val default = graft.sources.OpenFileGdb.read(spark, dir, "points")
      .selectExpr("OBJECTID", "name", "CASE WHEN geom IS NULL THEN NULL ELSE ST_AsText(geom) END AS wkt")
      .orderBy("OBJECTID").collect()
    spark.conf.set("spark.graft.gdb.chunkRows", "2")
    try {
      val df = graft.sources.OpenFileGdb.read(spark, dir, "points")
      assert(df.rdd.getNumPartitions == 3) // ceil(5/2) chunks, one task each
      val chunked = df
        .selectExpr("OBJECTID", "name", "CASE WHEN geom IS NULL THEN NULL ELSE ST_AsText(geom) END AS wkt")
        .orderBy("OBJECTID").collect()
      assert(chunked.toSeq == default.toSeq) // OIDs keep tablx positions across chunks
    } finally spark.conf.unset("spark.graft.gdb.chunkRows")
  }
}
