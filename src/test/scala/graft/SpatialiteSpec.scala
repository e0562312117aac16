package graft

import org.apache.spark.sql.functions._

/** SpatiaLite container reader vs the python-built fixture
  * (tools/make_spatialite_fixture.py — independent Gaia blob packer;
  * its golden CSV is q_src_spatialite's oracle). */
class SpatialiteSpec extends SparkSpec {
  private val path = SparkEntry.fixture("sample.sqlite")

  test("layers from geometry_columns; attribute and geometry decode") {
    graft.Graft.install(spark)
    assert(graft.sources.Spatialite.layers(spark, path).map(_._1) ==
      Seq("places", "routes", "areas"))
    val places = graft.sources.Spatialite.read(spark, path, "places")
    assert(places.columns.toSeq == Seq("pk", "name", "pop", "score", "geom"))
    val rows = places.selectExpr("pk", "name", "pop", "score",
        "CASE WHEN geom IS NULL THEN NULL ELSE ST_AsText(geom) END AS wkt")
      .orderBy("pk").collect()
    assert(rows.length == 4)
    assert(rows(0).getString(1) == "alpha" && rows(0).getLong(2) == 100L &&
      rows(0).getDouble(3) == 1.5 && rows(0).getString(4) == "POINT (2.5 3.25)")
    assert(rows(1).getString(1) == "béta üml" &&
      rows(1).getString(4) == "POINT (-10.125 20.0625)")
    assert(rows(2).isNullAt(1) && rows(2).isNullAt(2))
    assert(rows(3).isNullAt(4)) // NULL geometry
  }

  test("big-endian blobs, multipolygon entities with holes") {
    graft.Graft.install(spark)
    // routes layer is packed big-endian: the endian byte governs all
    val routes = graft.sources.Spatialite.read(spark, path, "routes")
      .selectExpr("pk", "ST_AsText(geom) AS wkt").orderBy("pk").collect()
    assert(routes(0).getString(1) == "LINESTRING (0 0, 10.5 0.25, 20 -5.125)")
    assert(routes(1).getString(1) == "LINESTRING (1 1, 2 2.5)")
    val areas = graft.sources.Spatialite.read(spark, path, "areas")
      .selectExpr("pk", "ST_Area(geom) AS a", "ST_NumGeometries(geom) AS ng")
      .orderBy("pk").collect()
    assert(areas(0).getDouble(1) == 100.0 && areas(0).getInt(2) == 1)
    // 20x20 shell minus 5x5 hole plus the 10x8/2 triangle twin
    assert(areas(1).getDouble(1) == 400.0 - 25.0 + 40.0 && areas(1).getInt(2) == 2)
  }

  test("st_read / st_read_meta integration and clear errors") {
    graft.Graft.install(spark)
    val n = spark.sql(
      s"SELECT count(*) FROM st_read('$path', 'layer=places')").collect()(0).getLong(0)
    assert(n == 4L)
    val meta = spark.sql(s"SELECT driver_short_name, layers FROM st_read_meta('$path')").collect()(0)
    assert(meta.getString(0) == "sqlite")
    val layers = meta.getSeq[org.apache.spark.sql.Row](1)
    assert(layers.map(_.getString(0)) == Seq("places", "routes", "areas"))
    val err = intercept[IllegalArgumentException] {
      graft.sources.Spatialite.read(spark, path, "nope")
    }
    assert(err.getMessage.contains("layer 'nope' not found"))
    // a plain SQLite DB without geometry_columns is refused clearly
    val plain = java.io.File.createTempFile("graft-plain", ".sqlite")
    val gpkgBytes = java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(SparkEntry.fixture("sample.gpkg")))
    java.nio.file.Files.write(plain.toPath, gpkgBytes)
    val err2 = intercept[IllegalArgumentException] {
      graft.sources.Spatialite.layers(spark, plain.getPath)
    }
    assert(err2.getMessage.contains("geometry_columns"))
  }
}
