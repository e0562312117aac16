package graft

import graft.GeoFunctions._
import graft.sources.{GeoJsonWriter, GeoRead, GeoTable, Shapefile}
import org.apache.spark.sql.functions._

class SourcesSpec extends SparkSpec {
  import spark.implicits._

  // real-world fixture from the reference's test data (read-only input;
  // the reference loads the same file in its GDAL tests)
  private val nycShp = {
    val dir = new java.io.File("/root/reference/test/data/nyc_export")
    Option(dir.listFiles()).flatMap(_.find(_.getName.endsWith(".shp"))).map(_.getAbsolutePath)
  }

  test("st_read opens zipped shapefile / geojson (vsizip parity)") {
    val tmp = java.nio.file.Files.createTempDirectory("zipread")
    // zip the committed NYC-zones sidecar set (tools/make_shp_fixture.py:
    // zones inside and outside the bbox below) with an independent
    // producer (JDK zip)
    val srcDir = new java.io.File("src/test/resources/shp").getAbsoluteFile
    val members = srcDir.listFiles().filter(_.getName.startsWith("nyc_zones."))
      .filterNot(_.getName.endsWith(".zip"))
    val shpZip = tmp.resolve("zones.zip").toString
    val zout = new java.util.zip.ZipOutputStream(new java.io.FileOutputStream(shpZip))
    members.foreach { f =>
      zout.putNextEntry(new java.util.zip.ZipEntry(f.getName))
      java.nio.file.Files.copy(f.toPath, zout); zout.closeEntry()
    }
    zout.close()
    val direct = Shapefile.read(spark, s"$srcDir/nyc_zones.shp")
    val zipped = GeoRead.read(spark, shpZip)
    assert(zipped.count() == direct.count())
    assert(zipped.schema == direct.schema)
    // SQL surface + explicit inner-entry selection both work
    assert(spark.sql(s"SELECT * FROM st_read('$shpZip/nyc_zones.shp')").count() == direct.count())
    // options compose with zip (bbox filter reaches the extracted source)
    val boxed = spark.sql(
      s"SELECT * FROM st_read('$shpZip', 930000.0, 120000.0, 1030000.0, 220000.0)")
    assert(boxed.count() > 0 && boxed.count() < direct.count())
    // a second read reuses the extraction (same mtime key) and agrees
    assert(GeoRead.read(spark, shpZip).count() == direct.count())

    // zipped geojson
    val gj = tmp.resolve("pts.geojson")
    java.nio.file.Files.writeString(gj,
      """{"type":"Feature","properties":{"k":1},"geometry":{"type":"Point","coordinates":[1.5,2.5]}}
        |{"type":"Feature","properties":{"k":2},"geometry":{"type":"Point","coordinates":[3.5,4.5]}}""".stripMargin)
    val gjZip = tmp.resolve("pts.zip").toString
    val z2 = new java.util.zip.ZipOutputStream(new java.io.FileOutputStream(gjZip))
    z2.putNextEntry(new java.util.zip.ZipEntry("pts.geojson"))
    java.nio.file.Files.copy(gj, z2); z2.closeEntry(); z2.close()
    assert(GeoRead.read(spark, gjZip).count() == 2)

    // ambiguity: two datasets in one archive must name the entries
    val both = tmp.resolve("both.zip").toString
    val z3 = new java.util.zip.ZipOutputStream(new java.io.FileOutputStream(both))
    Seq("a.geojson", "b.geojson").foreach { n =>
      z3.putNextEntry(new java.util.zip.ZipEntry(n))
      java.nio.file.Files.copy(gj, z3); z3.closeEntry()
    }
    z3.close()
    val e = intercept[IllegalArgumentException](GeoRead.read(spark, both))
    assert(e.getMessage.contains("multiple datasets"))
    assert(GeoRead.read(spark, s"$both/b.geojson").count() == 2)
  }

  test("shapefile reader: NYC taxi zones fixture") {
    assume(nycShp.isDefined, "reference fixture not present")
    val df = Shapefile.read(spark, nycShp.get)
    val n = df.count()
    assert(n == 5, s"fixture ships 5 sample zones, got $n") // shx: (140-100)/8
    // 5-borough sample: boro_code, boro_name, shape_area, shape_leng
    val cols = df.columns.map(_.toLowerCase)
    assert(cols.contains("boro_name") && cols.contains("shape_area"), cols.mkString(","))
    // geometries parse and are polygonal
    val types = df.select(st_geometrytype(col("geom")).as("t"))
      .groupBy("t").count().as[(String, Long)].collect().toMap
    assert(types.keySet.subsetOf(Set("POLYGON", "MULTIPOLYGON")), types.toString)
    // strongest check: geometries are lon/lat; dbf's authoritative
    // shape_area/shape_leng are in US-survey feet. Geodesic area and
    // perimeter must agree after unit conversion (authalic-sphere area
    // approximation → 1% tolerance).
    val ft2 = 0.09290341161 // US survey ft^2 -> m^2
    val ft = 0.30480060960
    val mismatches = df
      .withColumn("rel_a", abs(st_area_spheroid($"geom") - $"shape_area" * ft2) / ($"shape_area" * ft2))
      .withColumn("rel_l", abs(st_perimeter_spheroid($"geom") - $"shape_leng" * ft) / ($"shape_leng" * ft))
      .filter($"rel_a" > 0.01 || $"rel_l" > 0.01).count()
    assert(mismatches == 0)
    // multi-partition read returns identical rows
    val df4 = Shapefile.read(spark, nycShp.get, numPartitions = 4)
    assert(df4.count() == n)
    val s1 = df.select(sum(st_npoints(col("geom")))).collect()(0).getLong(0)
    val s4 = df4.select(sum(st_npoints(col("geom")))).collect()(0).getLong(0)
    assert(s1 == s4)
  }

  test("geojson write/read roundtrip") {
    val dir = java.nio.file.Files.createTempDirectory("gj").toString + "/out"
    val df = (0 until 50).map(i => (i.toLong, s"name_$i", i * 1.5, i * 2.5))
      .toDF("id", "name", "x", "y")
      .withColumn("geom", st_point($"x", $"y")).drop("x", "y")
    GeoJsonWriter.write(df, "geom", dir)
    val back = GeoRead.readGeoJson(spark, dir)
    assert(back.count() == 50)
    val row = back.withColumn("x", st_x($"geom"))
      .withColumn("name", element_at($"properties", "name"))
      .filter($"name" === "name_3").select("x").as[Double].collect()
    assert(row.toSeq == Seq(4.5))
  }

  test("geojson FeatureCollection document") {
    val tmp = java.nio.file.Files.createTempDirectory("gjfc")
    val f = tmp.resolve("fc.geojson")
    java.nio.file.Files.writeString(f,
      """{"type":"FeatureCollection","features":[
        {"type":"Feature","properties":{"id":1},"geometry":{"type":"Point","coordinates":[1.5,2.5]}},
        {"type":"Feature","properties":{"id":2},"geometry":{"type":"Polygon","coordinates":[[[0,0],[1,0],[1,1],[0,1],[0,0]]]}}
      ]}""")
    val df = GeoRead.readGeoJson(spark, f.toString)
    assert(df.count() == 2)
    val areas = df.select(st_area($"geom").as("a")).as[Double].collect().sorted
    assert(areas.toSeq == Seq(0.0, 1.0))
  }

  test("directory of pretty-printed FeatureCollection documents") {
    // a directory/glob must probe the FIRST file, not assume NDJSON
    val tmp = java.nio.file.Files.createTempDirectory("gjdir")
    val doc =
      """{
        |  "type": "FeatureCollection",
        |  "features": [
        |    {"type": "Feature", "properties": {"id": %d},
        |     "geometry": {"type": "Point", "coordinates": [%d, 1]}}
        |  ]
        |}""".stripMargin
    java.nio.file.Files.writeString(tmp.resolve("a.geojson"), doc.format(1, 1))
    java.nio.file.Files.writeString(tmp.resolve("b.geojson"), doc.format(2, 2))
    val df = GeoRead.readGeoJson(spark, tmp.toString)
    assert(df.count() == 2)
    val xs = df.select(st_x($"geom").as("x")).as[Double].collect().sorted
    assert(xs.toSeq == Seq(1.0, 2.0))
  }

  test("NDJSON geojson reads line-parallel across partitions") {
    val tmp = java.nio.file.Files.createTempDirectory("gjnd")
    val f = tmp.resolve("pts.geojsonl")
    val lines = (0 until 500).map { i =>
      s"""{"type":"Feature","properties":{"id":$i},"geometry":{"type":"Point","coordinates":[${i % 100}.5,${i / 100}.5]}}"""
    }
    java.nio.file.Files.writeString(f, lines.mkString("\n"))
    val prev = spark.conf.get("spark.sql.files.maxPartitionBytes")
    try {
      spark.conf.set("spark.sql.files.maxPartitionBytes", "4096") // force a multi-split scan
      val df = GeoRead.readGeoJson(spark, f.toString)
      assert(df.rdd.getNumPartitions > 1, s"expected multi-partition scan, got ${df.rdd.getNumPartitions}")
      assert(df.count() == 500)
      val ids = df.select(element_at($"properties", "id").cast("long")).as[Long].collect().toSet
      assert(ids == (0L until 500L).toSet)
      val xs = df.select(st_x($"geom")).as[Double].collect().sorted
      assert(xs.head == 0.5 && xs.last == 99.5)
    } finally spark.conf.set("spark.sql.files.maxPartitionBytes", prev)
  }

  test("csv+wkt reader") {
    val tmp = java.nio.file.Files.createTempDirectory("csvwkt")
    val f = tmp.resolve("pts.csv")
    java.nio.file.Files.writeString(f, "id,wkt\n1,POINT (1 2)\n2,\"LINESTRING (0 0, 3 4)\"\n")
    val df = GeoRead.read(spark, f.toString)
    assert(df.count() == 2)
    assert(df.select(st_length($"geom")).as[Double].collect().sorted.toSeq == Seq(0.0, 5.0))
  }

  test("csv point columns: explicit xy option, lon/lat auto-detect, geojsonl alias") {
    val tmp = java.nio.file.Files.createTempDirectory("csvxy")
    // explicit xy= (GDAL X_POSSIBLE_NAMES analog) via the SQL option
    val fx = tmp.resolve("px.csv")
    java.nio.file.Files.writeString(fx, "id,easting,northing\n1,3.0,4.0\n2,6.0,8.0\n")
    val dfx = GeoRead.read(spark, fx.toString,
      GeoRead.ReadOptions(xy = "easting:northing"))
    assert(dfx.columns.toSeq == Seq("id", "geom"))
    assert(dfx.select(st_x($"geom") + st_y($"geom")).as[Double].collect().sorted.toSeq ==
      Seq(7.0, 14.0))
    val viaSql = spark.sql(
      s"SELECT st_astext(geom) FROM st_read('${fx.toString}', 'xy=easting:northing')")
    assert(viaSql.count() == 2)
    // lon/lat auto-detect when no WKT column exists
    val fl = tmp.resolve("ll.csv")
    java.nio.file.Files.writeString(fl, "name,Lon,Lat\na,10.5,20.25\n")
    val dfl = GeoRead.read(spark, fl.toString)
    assert(dfl.select(st_x($"geom"), st_y($"geom")).as[(Double, Double)]
      .collect().toSeq == Seq((10.5, 20.25)))
    // .geojsonl / .ndjson extensions dispatch to the NDJSON reader
    val fj = tmp.resolve("pts.geojsonl")
    java.nio.file.Files.writeString(fj,
      """{"type":"Feature","geometry":{"type":"Point","coordinates":[1.0,2.0]},"properties":{"id":1}}
        |{"type":"Feature","geometry":{"type":"Point","coordinates":[3.0,4.0]},"properties":{"id":2}}
        |""".stripMargin)
    assert(GeoRead.read(spark, fj.toString).count() == 2)
  }

  test("csv+wkt writer roundtrips via GeoWrite/GeoRead dispatch") {
    val dir = java.nio.file.Files.createTempDirectory("csvw").toString + "/out.csv"
    val df = (0 until 40).map(i => (i.toLong, s"n_$i"))
      .toDF("id", "name")
      .withColumn("geom", st_point(lit(1.0) * ($"id" % 10), lit(2.0) * ($"id" % 5)))
    graft.sources.GeoWrite.write(df, dir, "geom")
    val back = GeoRead.read(spark, dir)
    assert(back.count() == 40)
    val got = back.select($"id", st_astext($"geom").as("w")).as[(Long, String)].collect().toSet
    val want = df.select($"id", st_astext($"geom").as("w")).as[(Long, String)].collect().toSet
    assert(got == want)
  }

  test("FeatureCollection writer emits one valid document readGeoJson parses") {
    val tmp = java.nio.file.Files.createTempDirectory("gjfcw")
    val f = tmp.resolve("out.geojson").toString
    val df = (0 until 30).map(i => (i.toLong, s"n_$i"))
      .toDF("id", "name")
      .withColumn("geom", st_point(lit(1.0) * ($"id" % 10), lit(0.5) * $"id"))
    GeoJsonWriter.writeFeatureCollection(df, "geom", f)
    val text = java.nio.file.Files.readString(java.nio.file.Paths.get(f))
    assert(text.startsWith("""{"type":"FeatureCollection","features":["""))
    // strict-JSON valid (jackson parses the whole document)
    new com.fasterxml.jackson.databind.ObjectMapper().readTree(text)
    val back = GeoRead.readGeoJson(spark, f)
    assert(back.count() == 30)
    val ids = back.select(element_at($"properties", "id").cast("long")).as[Long].collect().toSet
    assert(ids == (0L until 30L).toSet)
  }

  test("generatePoints is deterministic and in-box") {
    val a = GeoRead.generatePoints(spark, 0, 0, 100, 50, 10000, seed = 7)
    val b = GeoRead.generatePoints(spark, 0, 0, 100, 50, 10000, seed = 7)
    val ha = a.select(sum(st_x($"point") * $"id")).collect()(0).getDouble(0)
    val hb = b.select(sum(st_x($"point") * $"id")).collect()(0).getDouble(0)
    assert(ha == hb)
    val bad = a.filter(st_x($"point") < 0 || st_x($"point") > 100 ||
      st_y($"point") < 0 || st_y($"point") > 50).count()
    assert(bad == 0)
  }

  test("st_list_proj_crs catalog") {
    val crs = spark.sql("SELECT * FROM st_list_proj_crs()")
    assert(crs.columns.toSeq == Seq("auth_name", "code", "name", "type", "deprecated",
      "area_name", "projection_method_name", "celestial_body_name"))
    assert(crs.count() > 130) // registry + 120 WGS84 UTM + 23 NAD83 UTM
    val li = crs.filter("code = '2263'").collect()
    assert(li.length == 1 && li(0).getString(2).contains("Long Island"))
    // every listed CRS must actually resolve
    crs.collect().foreach { r =>
      graft.functions.Crs.resolve(s"${r.getString(0)}:${r.getString(1)}")
    }
  }

  test("directory of single-file containers reads as the union of its files") {
    import graft.GeoFunctions._
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-shp-dir").toString
    def mk(name: String, n: Int, offset: Int): Unit = {
      val df = (0 until n).map(i => (i.toLong + offset, s"f$i"))
        .toDF("fid", "tag")
        .withColumn("geom", st_point(col("fid").cast("double"), lit(1.0)))
      graft.sources.Shapefile.write(df, "geom", s"$dir/$name.shp")
    }
    mk("tile_a", 7, 0); mk("tile_b", 5, 100)
    val both = GeoRead.read(spark, dir)
    assert(both.count() == 12)
    assert(both.select("fid").as[Long].collect().toSet ==
      ((0L until 7L) ++ (100L until 105L)).toSet)
    // spatial filter applies across the union
    val filtered = GeoRead.read(spark, dir,
      GeoRead.ReadOptions(spatialFilterBox = Some((99.0, 0.0, 200.0, 2.0))))
    assert(filtered.count() == 5)
  }

  test("st_read named options: keep_wkb, encoding, max_batch_size, layer") {
    assume(nycShp.isDefined)
    val shp = nycShp.get
    // keep_wkb renames the geometry column to the reference's
    // wkb_geometry; content is unchanged
    val kw = spark.sql(s"SELECT * FROM st_read('$shp', 'keep_wkb=true')")
    assert(kw.columns.contains("wkb_geometry") && !kw.columns.contains("geom"))
    val plain = GeoRead.read(spark, shp)
    assert(kw.count() == plain.count())
    // encoding override parses attributes with an explicit charset
    val enc = GeoRead.read(spark, shp, GeoRead.ReadOptions(encoding = "UTF-8"))
    assert(enc.count() == plain.count())
    intercept[Exception] {
      GeoRead.read(spark, shp, GeoRead.ReadOptions(encoding = "NOT-A-CHARSET")).count()
    }
    // max_batch_size caps rows per partition
    val batched = GeoRead.read(spark, shp, GeoRead.ReadOptions(maxBatchSize = 50))
    assert(batched.rdd.getNumPartitions >= (plain.count() / 50).toInt)
    assert(batched.count() == plain.count())
    // named options compose: spatial filter + keep_wkb in one string
    val filtered = spark.sql(
      s"""SELECT count(*) AS n FROM st_read('$shp',
          'keep_wkb=true, max_batch_size=100')""").collect()(0).getLong(0)
    assert(filtered == plain.count())
    // gpkg layer via named option
    val gpkg = SparkEntry.fixture("sample.gpkg")
    val lines = spark.sql(s"SELECT count(*) AS n FROM st_read('$gpkg', 'layer=lines')")
      .collect()(0).getLong(0)
    assert(lines == 10)
  }

  test("st_read GDAL-parity options: allowed_drivers, open_options, sibling_files, sequential_layer_scan") {
    assume(nycShp.isDefined)
    val shp = nycShp.get
    val plain = GeoRead.read(spark, shp)
    // allowed_drivers: pass when the resolved driver is listed...
    val ok = spark.sql(s"SELECT count(*) AS n FROM st_read('$shp', " +
      "'allowed_drivers=shapefile;geojson')").collect()(0).getLong(0)
    assert(ok == plain.count())
    // ...refuse (not silently ignore) when it is not
    val err = intercept[Exception] {
      spark.sql(s"SELECT * FROM st_read('$shp', 'allowed_drivers=geojson|parquet')").count()
    }
    assert(err.getMessage.contains("allowed_drivers"), err.getMessage)
    // open_options ENCODING maps onto the native encoding option
    val enc = GeoRead.read(spark, shp,
      GeoRead.ReadOptions(openOptions = Map("ENCODING" -> "UTF-8")))
    assert(enc.count() == plain.count())
    // unknown open_options keys error clearly
    val unk = intercept[Exception] {
      GeoRead.read(spark, shp, GeoRead.ReadOptions(openOptions = Map("NOSUCH" -> "1")))
    }
    assert(unk.getMessage.contains("open_options"), unk.getMessage)
    // X/Y_POSSIBLE_NAMES pair maps onto the CSV xy option
    val csvDir = new java.io.File("/tmp/graft_gdal_opt_csv"); csvDir.mkdirs()
    val csv = new java.io.File(csvDir, "pts.csv")
    java.nio.file.Files.writeString(csv.toPath, "id,easting,northing\n1,10.0,20.0\n2,30.0,40.0\n")
    val pts = spark.sql(s"SELECT id, st_x(geom) AS x FROM st_read('${csv.getPath}', " +
      "'open_options=X_POSSIBLE_NAMES=easting;Y_POSSIBLE_NAMES=northing') ORDER BY id")
      .collect()
    assert(pts.length == 2 && pts(0).getDouble(1) == 10.0)
    intercept[Exception] { // X without Y is a refusal, not a guess
      GeoRead.read(spark, csv.getPath,
        GeoRead.ReadOptions(openOptions = Map("X_POSSIBLE_NAMES" -> "easting")))
    }
    // sibling_files: declared sidecars are validated to exist
    val base = new java.io.File(shp).getName.stripSuffix(".shp")
    val sib = spark.sql(s"SELECT count(*) AS n FROM st_read('$shp', " +
      s"'sibling_files=$base.shx;$base.dbf, sequential_layer_scan=true')")
      .collect()(0).getLong(0)
    assert(sib == plain.count())
    val miss = intercept[Exception] {
      spark.sql(s"SELECT * FROM st_read('$shp', 'sibling_files=nope.dbf')").count()
    }
    assert(miss.getMessage.contains("sibling"), miss.getMessage)
  }

  test("ESRI JSON: content-sniffed forms, ring assembly, orphan promotion, empty point") {
    import graft.GeoFunctions._
    import org.apache.spark.sql.functions._
    def wkts(f: String): Map[String, String] =
      GeoRead.read(spark, SparkEntry.fixture(s"esri/$f.json"))
        .select(col("properties").getItem("name"), st_astext(col("geom")))
        .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    val p = wkts("points")
    assert(p("pa") == "POINT (1.5 2.5)")
    assert(p("pc") == "POINT EMPTY")
    assert(wkts("mpoints")("ma") == "MULTIPOINT (1.5 1.5, 2.5 3.5, 4.5 0.5)")
    val l = wkts("lines")
    assert(l("la").startsWith("LINESTRING"))
    assert(l("lb").startsWith("MULTILINESTRING"))
    val g = wkts("polygons")
    assert(g("ga").startsWith("POLYGON") && !g("ga").contains("),("))
    assert(g("gb").startsWith("POLYGON") && g("gb").contains("), ("),
      s"shell+hole expected: ${g("gb")}") // hole attached to its shell
    assert(g("gc").startsWith("MULTIPOLYGON"))
    assert(g("gd").startsWith("POLYGON"), s"orphan CCW ring must promote: ${g("gd")}")
    // promoted shell is a valid polygon covering its interior
    val gdRow = GeoRead.read(spark, SparkEntry.fixture("esri/polygons.json"))
      .filter(col("properties").getItem("name") === "gd")
      .select(st_isvalid(col("geom")), st_area(col("geom"))).collect()(0)
    assert(gdRow.getBoolean(0) && gdRow.getDouble(1) == 4.0)
    // a GeoJSON document in the same .json extension still routes to
    // the GeoJSON parser (content dispatch, not extension)
    val tmp = java.nio.file.Files.createTempDirectory("gj").resolve("fc.json")
    java.nio.file.Files.writeString(tmp,
      """{"type":"FeatureCollection","features":[{"type":"Feature",
        |"properties":{"name":"x"},"geometry":{"type":"Point","coordinates":[7.5,8.5]}}]}"""
        .stripMargin.replace("\n", ""))
    val gj = GeoRead.read(spark, tmp.toString)
      .select(st_astext(col("geom"))).collect()(0).getString(0)
    assert(gj == "POINT (7.5 8.5)")
    // malformed esri-ish geometry errors clearly, never a crash class
    val bad = java.nio.file.Files.createTempDirectory("gj").resolve("bad.json")
    java.nio.file.Files.writeString(bad,
      """{"features":[{"attributes":{"name":"x"},"geometry":{"curves":[1]}}]}""")
    val e = intercept[org.apache.spark.SparkException] {
      GeoRead.read(spark, bad.toString).collect()
    }
    assert(e.getMessage != null)
    // island-in-lake: the inner hole binds to the ISLAND (smallest
    // containing shell), not the outer shell that also covers it
    import com.fasterxml.jackson.databind.ObjectMapper
    val nested = new ObjectMapper().readTree(
      """{"rings": [
           [[0,0],[0,20],[20,20],[20,0],[0,0]],
           [[2,2],[18,2],[18,18],[2,18],[2,2]],
           [[5,5],[5,15],[15,15],[15,5],[5,5]],
           [[8,8],[12,8],[12,12],[8,12],[8,8]]
         ]}""")
    // orientations: ring0 CW (outer shell), ring1 CCW (lake hole),
    // ring2 CW (island shell), ring3 CCW (pond hole in the island)
    val g2 = graft.functions.EsriJson.parse(nested)
    assert(g2.isValid, s"nested assembly must be valid: $g2")
    // outer area 400-256=144; island 100-16=84
    assert(math.abs(g2.getArea - 228.0) < 1e-9, s"area ${g2.getArea}")
    // point inside the pond is OUTSIDE the multipolygon
    assert(!g2.covers(graft.functions.Jts.gf.createPoint(
      new org.locationtech.jts.geom.Coordinate(10, 10))))
    // point on the island ring band is INSIDE
    assert(g2.covers(graft.functions.Jts.gf.createPoint(
      new org.locationtech.jts.geom.Coordinate(6, 10))))
    // half-specified point and degenerate ring fail loudly
    val m = new ObjectMapper()
    intercept[IllegalArgumentException] {
      graft.functions.EsriJson.parse(m.readTree("""{"x": 1.5, "y": null}"""))
    }
    intercept[IllegalArgumentException] {
      graft.functions.EsriJson.parse(m.readTree("""{"rings": [[]]}"""))
    }
    intercept[IllegalArgumentException] {
      graft.functions.EsriJson.parse(m.readTree("""{"rings": [[[0,0],[1,1]]]}"""))
    }
    // property fuzz: k disjoint CW rect shells, each with 0-2 CCW rect
    // holes — assembled area must equal the closed-form sum, and the
    // result must always be valid
    val rnd = new scala.util.Random(7)
    for (_ <- 0 until 25) {
      val k = 1 + rnd.nextInt(4)
      var expect = 0.0
      val rings = scala.collection.mutable.ArrayBuffer[String]()
      for (s <- 0 until k) {
        val ox = s * 100.0; val oy = 0.0
        val w = 15 + rnd.nextInt(35); val h = 10 + rnd.nextInt(40)
        expect += w.toDouble * h
        // CW shell (up, right, down)
        rings += s"[[$ox,$oy],[$ox,${oy + h}],[${ox + w},${oy + h}],[${ox + w},$oy],[$ox,$oy]]"
        for (j <- 0 until rnd.nextInt(3)) {
          // holes in disjoint 5-wide bands so they never overlap
          val hw = 1 + rnd.nextInt(3); val hh = 1 + rnd.nextInt(3)
          val hx = ox + 1 + j * 5; val hy = oy + 1 + rnd.nextInt(h - hh - 2)
          expect -= hw.toDouble * hh
          // CCW hole (right, up, left)
          rings += s"[[$hx,$hy],[${hx + hw},$hy],[${hx + hw},${hy + hh}],[$hx,${hy + hh}],[$hx,$hy]]"
        }
      }
      val g = graft.functions.EsriJson.parse(
        m.readTree(s"""{"rings": [${rings.mkString(",")}]}"""))
      assert(g.isValid, s"fuzz assembly invalid: ${rings.size} rings")
      assert(math.abs(g.getArea - expect) < 1e-9,
        s"fuzz area ${g.getArea} != $expect (${rings.size} rings)")
    }
  }

  test("PGDump writer: COPY layout, text escaping, NULLs, hand-stated EWKB hex") {
    import graft.GeoFunctions._
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val df = Seq(
      (1L, "plain", Some(2.5), true),
      (2L, "tab\there\nand line", None, false),
      (3L, null.asInstanceOf[String], Some(-1.25), true))
      .toDF("id", "name", "score", "flag")
      .withColumn("geom", st_point($"id".cast("double") + 0.5, lit(2.5)))
    val out = java.nio.file.Files.createTempDirectory("pgdump").resolve("t.sql").toString
    graft.sources.PgDump.write(df, "geom", out, table = "t", srid = 4326)
    val lines = java.nio.file.Files.readAllLines(new java.io.File(out).toPath)
    assert(lines.get(0) == "SET standard_conforming_strings = ON;")
    assert(lines.get(1).startsWith("""CREATE TABLE "t" ("ogc_fid" SERIAL PRIMARY KEY, "id" BIGINT"""))
    assert(lines.get(2) == """SELECT AddGeometryColumn('','t','geom',4326,'GEOMETRY',2);""")
    assert(lines.get(3) == """COPY "t" ("id", "name", "score", "flag", "geom") FROM stdin;""")
    val data = (4 until lines.size() - 1).map(lines.get)
    assert(lines.get(lines.size() - 1) == "\\.")
    assert(data.length == 3)
    val r1 = data(0).split("\t", -1)
    // hand-stated EWKB hex for SRID=4326 POINT (1.5 2.5): byte order,
    // type|0x20000000, srid E6100000, LE doubles — independent of the
    // engine's own hex reader
    assert(r1.toSeq == Seq("1", "plain", "2.5", "t",
      "0101000020E6100000000000000000F83F0000000000000440"), r1.mkString("|"))
    val r2 = data(1).split("\t", -1)
    assert(r2(1) == "tab\\there\\nand line" && r2(2) == "\\N" && r2(3) == "f")
    assert(data(2).split("\t", -1)(1) == "\\N")
    // decimals declare NUMERIC(p,s) so the full-precision COPY text
    // survives the PostgreSQL load (FLOAT8 would round it)
    val outD = java.nio.file.Files.createTempDirectory("pgdump").resolve("td.sql").toString
    graft.sources.PgDump.write(
      df.withColumn("amt", lit("12345678901234.5678").cast("decimal(20,4)")),
      "geom", outD, table = "td")
    val dLines = java.nio.file.Files.readAllLines(new java.io.File(outD).toPath)
    assert(dLines.get(1).contains(""""amt" NUMERIC(20, 4)"""), dLines.get(1))
    assert(dLines.get(3).contains(""""amt""""))
    assert(dLines.get(4).split("\t", -1)(4) == "12345678901234.5678", dLines.get(4))
    // srid=0 -> plain WKB, no SRID header
    val out0 = java.nio.file.Files.createTempDirectory("pgdump").resolve("t0.sql").toString
    graft.sources.PgDump.write(df.limit(1), "geom", out0, table = "t0")
    val hex0 = java.nio.file.Files.readAllLines(new java.io.File(out0).toPath)
      .get(4).split("\t", -1).last
    assert(hex0 == "0101000000000000000000F83F0000000000000440", hex0)
  }

  test("MIF/MID: geometry kinds, hole assembly, quoted MID fields, clear errors") {
    import graft.GeoFunctions._
    import org.apache.spark.sql.functions._
    val df = GeoRead.read(spark, SparkEntry.fixture("mif/sample.mif"),
      GeoRead.ReadOptions())
    assert(df.count() == 8)
    val byName = df.select(col("name"), st_astext(col("geom")).as("wkt")).collect()
      .map(r => r.getString(0) -> Option(r.getString(1))).toMap
    assert(byName("alpha") == Some("POINT (10.5 20.25)"), byName("alpha"))
    assert(byName("theta").isEmpty, "NONE record must carry a null geometry")
    // region hole assembly: interior ring recognized, area = 100 - 4
    val epsArea = df.filter(col("name") === "epsilon")
      .select(st_area(col("geom"))).head().getDouble(0)
    assert(math.abs(epsArea - 96.0) < 1e-9, epsArea.toString)
    // two disjoint shells -> MultiPolygon of total area 25 + 6
    val zetaArea = df.filter(col("name") === "zeta")
      .select(st_area(col("geom"))).head().getDouble(0)
    assert(math.abs(zetaArea - 31.0) < 1e-9, zetaArea.toString)
    // quoted MID value with embedded delimiter survives
    assert(byName.contains("beta quoted, comma"), byName.keys.toString)
    // typed attributes
    val row = df.filter(col("name") === "alpha")
      .select("pop", "area", "active", "born").head()
    assert(row.getInt(0) == 100 && row.getDouble(1) == 1.5 &&
      row.getBoolean(2) && row.getString(3) == "20240101", row.toString)
    // unsupported record kind raises with the kind named
    val tmp = java.nio.file.Files.createTempDirectory("miferr").toFile
    val bad = new java.io.File(tmp, "bad.mif")
    val w = new java.io.PrintWriter(bad)
    w.println("VERSION 300\nCOLUMNS 0\nDATA\nARC 0 0 5 5 0 90"); w.close()
    val err = intercept[Exception] {
      GeoRead.read(spark, bad.getPath, GeoRead.ReadOptions()).count()
    }
    assert(err.getMessage.contains("ARC"), err.getMessage)
  }

  test("drivers + read_meta") {
    assert(GeoRead.drivers(spark).count() == GeoRead.driverRows.size.toLong)
    assume(nycShp.isDefined)
    val meta = GeoRead.readMeta(spark, nycShp.get).collect()(0)
    assert(meta.getString(1) == "shapefile")
    val l0 = meta.getSeq[org.apache.spark.sql.Row](3).head
    assert(l0.getLong(1) > 0, "feature_count from .shx")
    assert(l0.getSeq[org.apache.spark.sql.Row](2).head.getString(0) == "geom")
    // dbf fields carry width/precision
    val fields = l0.getSeq[org.apache.spark.sql.Row](3)
    assert(fields.nonEmpty && fields.forall(_.getLong(5) > 0))
  }
}
