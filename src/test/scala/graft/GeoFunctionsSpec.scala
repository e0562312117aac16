package graft

/**
 * Golden-value tests mirroring the reference sqllogictests under
 * /root/reference/test/sql/geometry/ and test/sql/geos/ (same inputs,
 * same expected outputs).
 */
class GeoFunctionsSpec extends SparkSpec {

  // --- st_area.test:1-66 ---------------------------------------------------
  test("ST_Area golden values") {
    assertSql("ST_Area(ST_GeomFromText('POINT(0 0)'))", 0.0)
    assertSql("ST_Area(ST_GeomFromText('LINESTRING(0 0, 1 1)'))", 0.0)
    assertSql("ST_Area(ST_GeomFromText('POLYGON((0 0, 1 0, 1 1, 0 1, 0 0))'))", 1.0)
    assertSql("ST_Area(ST_GeomFromText('POLYGON((0 0, 1 0, 1 1, 0 1, 0 0), (0.2 0.2, 0.8 0.2, 0.8 0.8, 0.2 0.8, 0.2 0.2))'))", 0.64)
    assertSql("ST_Area(ST_GeomFromText('MULTIPOINT(0 0, 1 1)'))", 0.0)
    assertSql("ST_Area(ST_GeomFromText('MULTILINESTRING((0 0, 1 1), (2 2, 3 3))'))", 0.0)
    assertSql("ST_Area(ST_GeomFromText('MULTIPOLYGON(((0 0, 1 0, 1 1, 0 1, 0 0)), ((2 2, 3 2, 3 3, 2 3, 2 2)))'))", 2.0)
    assertSql("ST_Area(ST_GeomFromText('GEOMETRYCOLLECTION(POINT(0 0), LINESTRING(0 0, 1 1), POLYGON((0 0, 1 0, 1 1, 0 1, 0 0)))'))", 1.0)
  }

  test("measures: length, perimeter, distance") {
    assertSql("ST_Length(ST_GeomFromText('LINESTRING(0 0, 3 4)'))", 5.0)
    assertSql("ST_Length(ST_GeomFromText('POLYGON((0 0, 1 0, 1 1, 0 1, 0 0))'))", 0.0)
    assertSql("ST_Perimeter(ST_GeomFromText('POLYGON((0 0, 1 0, 1 1, 0 1, 0 0))'))", 4.0)
    assertSql("ST_Perimeter(ST_MakeEnvelope(0, 0, 2, 3))", 10.0)
    assertSql("ST_Distance(ST_Point(0, 0), ST_Point(3, 4))", 5.0)
    assertSql("ST_DWithin(ST_Point(0, 0), ST_Point(3, 4), 5.0)", true)
    assertSql("ST_DWithin(ST_Point(0, 0), ST_Point(3, 4), 4.9)", false)
  }

  test("constructors and IO roundtrip") {
    assertSql("ST_AsText(ST_Point(1.5, 2.5))", "POINT (1.5 2.5)")
    assertSql("ST_AsText(ST_GeomFromText('LINESTRING(0 0, 1 1)'))", "LINESTRING (0 0, 1 1)")
    assertSql("ST_AsText(ST_GeomFromWKB(ST_AsWKB(ST_Point(1.5, 2.5))))", "POINT (1.5 2.5)")
    assertSql("ST_AsText(ST_GeomFromHEXWKB(ST_AsHEXWKB(ST_Point(1.5, 2.5))))", "POINT (1.5 2.5)")
    assertSql("ST_AsText(ST_MakeEnvelope(0, 0, 1, 1))", "POLYGON ((0 0, 1 0, 1 1, 0 1, 0 0))")
    assertSql("ST_AsGeoJSON(ST_Point(1.5, 2.5))", """{"type":"Point","coordinates":[1.5,2.5]}""")
    assertSql("ST_AsText(ST_GeomFromGeoJSON('{\"type\":\"Point\",\"coordinates\":[1.5,2.5]}'))", "POINT (1.5 2.5)")
    assertSql("ST_AsText(ST_MakeLine(ST_Point(0, 0), ST_Point(1, 1)))", "LINESTRING (0 0, 1 1)")
    assertSql("ST_AsText(ST_Multi(ST_Point(1, 2)))", "MULTIPOINT (1 2)")
  }

  test("accessors") {
    assertSql("ST_X(ST_Point(1.5, 2.5))", 1.5)
    assertSql("ST_Y(ST_Point(1.5, 2.5))", 2.5)
    assertSql("ST_XMin(ST_MakeEnvelope(1, 2, 3, 4))", 1.0)
    assertSql("ST_YMax(ST_MakeEnvelope(1, 2, 3, 4))", 4.0)
    assertSql("ST_NPoints(ST_GeomFromText('POLYGON((0 0, 1 0, 1 1, 0 1, 0 0))'))", 5)
    assertSql("ST_NGeometries(ST_GeomFromText('MULTIPOINT(0 0, 1 1)'))", 2)
    assertSql("ST_NInteriorRings(ST_GeomFromText('POLYGON((0 0, 1 0, 1 1, 0 1, 0 0))'))", 0)
    assertSql("ST_GeometryType(ST_Point(0, 0))", "POINT")
    assertSql("ST_GeometryType(ST_GeomFromText('MULTIPOLYGON EMPTY'))", "MULTIPOLYGON")
    assertSql("ST_IsEmpty(ST_GeomFromText('POLYGON EMPTY'))", true)
    assertSql("ST_IsClosed(ST_GeomFromText('LINESTRING(0 0, 1 1, 1 0, 0 0)'))", true)
    assertSql("ST_IsClosed(ST_GeomFromText('LINESTRING(0 0, 1 1)'))", false)
    assertSql("ST_Dimension(ST_Point(0, 0))", 0)
    assertSql("ST_Dimension(ST_GeomFromText('LINESTRING(0 0, 1 1)'))", 1)
    assertSql("ST_Dimension(ST_MakeEnvelope(0, 0, 1, 1))", 2)
    assertSql("ST_AsText(ST_StartPoint(ST_GeomFromText('LINESTRING(1 1, 2 2)')))", "POINT (1 1)")
    assertSql("ST_AsText(ST_EndPoint(ST_GeomFromText('LINESTRING(1 1, 2 2)')))", "POINT (2 2)")
    assertSql("ST_AsText(ST_PointN(ST_GeomFromText('LINESTRING(1 1, 2 2, 3 3)'), 2))", "POINT (2 2)")
    assertSql("ST_AsText(ST_PointN(ST_GeomFromText('LINESTRING(1 1, 2 2, 3 3)'), -1))", "POINT (3 3)")
    assertSql("ST_HasZ(ST_GeomFromText('POINT Z (1 2 3)'))", true)
    assertSql("ST_HasZ(ST_Point(1, 2))", false)
    assertSql("ST_Z(ST_GeomFromText('POINT Z (1 2 3)'))", 3.0)
  }

  test("predicates") {
    val poly = "ST_GeomFromText('POLYGON((0 0, 10 0, 10 10, 0 10, 0 0))')"
    assertSql(s"ST_Contains($poly, ST_Point(5, 5))", true)
    assertSql(s"ST_Contains($poly, ST_Point(15, 5))", false)
    assertSql(s"ST_Within(ST_Point(5, 5), $poly)", true)
    assertSql(s"ST_Intersects($poly, ST_MakeEnvelope(5, 5, 15, 15))", true)
    assertSql(s"ST_Disjoint($poly, ST_MakeEnvelope(11, 11, 15, 15))", true)
    assertSql(s"ST_Touches($poly, ST_MakeEnvelope(10, 0, 20, 10))", true)
    assertSql(s"ST_Overlaps($poly, ST_MakeEnvelope(5, 5, 15, 15))", true)
    assertSql(s"ST_Equals($poly, ST_MakeEnvelope(0, 0, 10, 10))", true)
    assertSql(s"ST_CoveredBy(ST_Point(0, 0), $poly)", true)
    assertSql(s"ST_Covers($poly, ST_Point(0, 0))", true)
    assertSql(s"ST_ContainsProperly($poly, ST_Point(0, 0))", false)
    assertSql(s"ST_ContainsProperly($poly, ST_Point(5, 5))", true)
    assertSql("ST_Crosses(ST_GeomFromText('LINESTRING(0 0, 10 10)'), ST_GeomFromText('LINESTRING(0 10, 10 0)'))", true)
    assertSql(s"ST_Intersects_Extent($poly, ST_MakeEnvelope(9, 9, 12, 12))", true)
  }

  test("predicate anchor modes agree: lit-right, lit-left, col-vs-col") {
    // The prepared-geometry cache anchors on whichever operand is foldable
    // (GeoPredicate.mode); all three shapes must produce identical truth
    // tables for every predicate.
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    import scala.jdk.CollectionConverters._
    val polyWkt = "POLYGON ((0 0, 10 0, 10 10, 0 10, 0 0))"
    val others = Seq(
      "POINT (5 5)", "POINT (0 0)", "POINT (15 5)",
      "LINESTRING (0 0, 0 10)", "LINESTRING (-5 5, 15 5)",
      "POLYGON ((5 5, 15 5, 15 15, 5 15, 5 5))",
      "POLYGON ((0 0, 10 0, 10 10, 0 10, 0 0))",
      "POLYGON ((2 2, 8 2, 8 8, 2 8, 2 2))",
      "POLYGON ((20 20, 30 20, 30 30, 20 30, 20 20))")
    val df = spark.createDataFrame(
      new java.util.ArrayList[Row](others.map(Row(_)).asJava),
      StructType(Seq(StructField("wkt", StringType))))
    df.createOrReplaceTempView("anchor_probe")
    val preds = Seq("ST_Intersects", "ST_Contains", "ST_ContainsProperly", "ST_Within",
      "ST_Covers", "ST_CoveredBy", "ST_Crosses", "ST_Disjoint", "ST_Equals",
      "ST_Overlaps", "ST_Touches")
    for (p <- preds) {
      // polygon on the left of the predicate in all three shapes
      val litLeft = spark.sql(
        s"SELECT $p(ST_GeomFromText('$polyWkt'), ST_GeomFromText(wkt)) FROM anchor_probe")
        .collect().map(_.get(0)).toSeq
      val colCol = spark.sql(
        s"SELECT $p(ST_GeomFromText(concat('$polyWkt', substr(wkt, 0, 0) )), ST_GeomFromText(wkt)) FROM anchor_probe")
        .collect().map(_.get(0)).toSeq
      assert(litLeft == colCol, s"$p: lit-left vs col-vs-col mismatch: $litLeft vs $colCol")
      // and on the right (lit-right anchor) via the inverse operand order,
      // checked for the symmetric predicates where order must not matter
      if (Seq("ST_Intersects", "ST_Crosses", "ST_Disjoint", "ST_Equals", "ST_Overlaps", "ST_Touches").contains(p)) {
        val swapped = spark.sql(
          s"SELECT $p(ST_GeomFromText(wkt), ST_GeomFromText('$polyWkt')) FROM anchor_probe")
          .collect().map(_.get(0)).toSeq
        assert(litLeft == swapped, s"$p: not symmetric: $litLeft vs $swapped")
      }
    }
    // asymmetric pairs: contains(a,b) == within(b,a), covers(a,b) == coveredby(b,a)
    for ((a, b) <- Seq(("ST_Contains", "ST_Within"), ("ST_Covers", "ST_CoveredBy"))) {
      val fwd = spark.sql(
        s"SELECT $a(ST_GeomFromText('$polyWkt'), ST_GeomFromText(wkt)) FROM anchor_probe")
        .collect().map(_.get(0)).toSeq
      val inv = spark.sql(
        s"SELECT $b(ST_GeomFromText(wkt), ST_GeomFromText('$polyWkt')) FROM anchor_probe")
        .collect().map(_.get(0)).toSeq
      assert(fwd == inv, s"$a/$b inverse mismatch: $fwd vs $inv")
    }
  }

  test("col-vs-col predicate with an empty right operand raises the WKB parse error") {
    // the error Jts.read gives for malformed WKB, not an index error from
    // the build-side cache's hashing of an empty array
    val expected = intercept[org.locationtech.jts.io.ParseException](
      graft.functions.Jts.read(Array.emptyByteArray))
    val poly = "POLYGON ((0 0, 10 0, 10 10, 0 10, 0 0))"
    import spark.implicits._
    val inTasks = spark.range(0, 8, 1, 2).selectExpr(
      s"ST_GeomFromText(concat('$poly', substr(cast(id AS string), 1, 0))) AS a",
      "cast(substr(cast(id AS string), 1, 0) AS binary) AS b")
    val onDriver = Seq((graft.functions.Jts.write(graft.functions.Jts.fromWkt(poly)),
      Array.emptyByteArray)).toDF("a", "b")
    for ((where, df) <- Seq("in tasks" -> inTasks, "on the driver" -> onDriver)) {
      val err = intercept[Throwable](df.selectExpr("ST_Within(a, b)").collect())
      val chain = Iterator.iterate[Throwable](err)(_.getCause).takeWhile(_ != null).toSeq
      assert(!chain.exists(_.isInstanceOf[ArrayIndexOutOfBoundsException]), s"$where: $err")
      assert(chain.exists(c => c.getClass == expected.getClass && c.getMessage == expected.getMessage),
        s"$where: expected ${expected.getMessage}, got ${chain.mkString(" <- ")}")
    }
  }

  test("constructive ops") {
    assertSql("ST_Area(ST_Buffer(ST_Point(0, 0), 10)) > 310", true)
    assertSql("ST_AsText(ST_Centroid(ST_MakeEnvelope(0, 0, 2, 2)))", "POINT (1 1)")
    assertSql("ST_Area(ST_ConvexHull(ST_GeomFromText('MULTIPOINT(0 0, 1 0, 1 1, 0 1)')))", 1.0)
    assertSql("ST_Area(ST_Intersection(ST_MakeEnvelope(0, 0, 2, 2), ST_MakeEnvelope(1, 1, 3, 3)))", 1.0)
    assertSql("ST_Area(ST_Union(ST_MakeEnvelope(0, 0, 2, 2), ST_MakeEnvelope(1, 1, 3, 3)))", 7.0)
    assertSql("ST_Area(ST_Difference(ST_MakeEnvelope(0, 0, 2, 2), ST_MakeEnvelope(1, 1, 3, 3)))", 3.0)
    assertSql("ST_NPoints(ST_Simplify(ST_GeomFromText('LINESTRING(0 0, 1 0.01, 2 0)'), 0.1))", 2)
    assertSql("ST_IsValid(ST_GeomFromText('POLYGON((0 0, 1 1, 1 0, 0 1, 0 0))'))", false)
    assertSql("ST_IsValid(ST_MakeValid(ST_GeomFromText('POLYGON((0 0, 1 1, 1 0, 0 1, 0 0))')))", true)
    assertSql("ST_AsText(ST_FlipCoordinates(ST_Point(1, 2)))", "POINT (2 1)")
    assertSql("ST_AsText(ST_Reverse(ST_GeomFromText('LINESTRING(0 0, 1 1)')))", "LINESTRING (1 1, 0 0)")
    assertSql("ST_NGeometries(ST_CollectionExtract(ST_GeomFromText('GEOMETRYCOLLECTION(POINT(0 0), LINESTRING(0 0, 1 1))'), 1))", 1)
    assertSql("ST_AsText(ST_ShortestLine(ST_Point(0, 0), ST_MakeEnvelope(1, 1, 2, 2)))", "LINESTRING (0 0, 1 1)")
  }

  test("st_dump explodes collections") {
    val n = spark.sql(
      "SELECT explode(ST_Dump(ST_GeomFromText('MULTIPOINT(0 0, 1 1, 2 2)')))").count()
    assert(n == 3)
  }

  test("st_collect") {
    assertSql("ST_AsText(ST_Collect(array(ST_Point(0, 0), ST_Point(1, 1))))", "MULTIPOINT (0 0, 1 1)")
    assertSql("ST_GeometryType(ST_Collect(array(ST_Point(0, 0), ST_GeomFromText('LINESTRING(0 0, 1 1)'))))", "GEOMETRYCOLLECTION")
  }

  // --- test/sql/proj.test:10-13 -------------------------------------------
  test("ST_Transform matches reference golden value (axis order)") {
    val wkt = sql1("ST_AsText(ST_Transform(ST_Point(52.3676, 4.9041), 'EPSG:4326', 'EPSG:3857'))").toString
    // reference: POINT (545921.9147992929 6866867.121983132)
    val Array(xs, ys) = wkt.stripPrefix("POINT (").stripSuffix(")").split(" ")
    assert(math.abs(xs.toDouble - 545921.9147992929) < 1e-6, wkt)
    assert(math.abs(ys.toDouble - 6866867.121983132) < 1e-6, wkt)
  }

  test("ST_Transform UTM roundtrip") {
    // Amsterdam lon/lat → UTM 31N and back (always_xy = true)
    val wkt = sql1(
      "ST_AsText(ST_Transform(ST_Transform(ST_Point(4.9041, 52.3676), 'EPSG:4326', 'EPSG:32631', true), 'EPSG:32631', 'EPSG:4326', true))").toString
    val Array(xs, ys) = wkt.stripPrefix("POINT (").stripSuffix(")").split(" ")
    assert(math.abs(xs.toDouble - 4.9041) < 1e-9, wkt)
    assert(math.abs(ys.toDouble - 52.3676) < 1e-9, wkt)
  }

  test("spherical + spheroid distances") {
    // LAX(-118.4079, 33.9434) to JFK(-73.7781, 40.6413) ~ 3,974-3,983 km
    assertSqlApprox("ST_Distance_Sphere(ST_Point(-118.4079, 33.9434), ST_Point(-73.7781, 40.6413))",
      3970000.0, 20000.0)
    assertSqlApprox("ST_Distance_Spheroid(ST_Point(-118.4079, 33.9434), ST_Point(-73.7781, 40.6413))",
      3983000.0, 10000.0)
    // 1 degree of longitude at equator ~ 111.32 km
    assertSqlApprox("ST_Length_Spheroid(ST_GeomFromText('LINESTRING(0 0, 1 0)'))", 111319.49, 1.0)
  }

  test("hilbert + quadkey") {
    // hilbert d(0,0)=0; full-grid corners are stable under the
    // rawrunprotected algorithm (reference st_hilbert.cpp)
    assert(graft.functions.HilbertCurve.xy2d(0, 0) == 0L)
    // curve visits all 4 corners of a 2^16 grid at distinct indices
    val corners = Seq(
      graft.functions.HilbertCurve.xy2d(0, 0),
      graft.functions.HilbertCurve.xy2d(0xFFFF, 0),
      graft.functions.HilbertCurve.xy2d(0, 0xFFFF),
      graft.functions.HilbertCurve.xy2d(0xFFFF, 0xFFFF))
    assert(corners.distinct.size == 4)
    assert(corners.forall(d => d >= 0 && d <= 0xFFFFFFFFL))
    // locality: adjacent cells are adjacent on the curve somewhere
    assert(math.abs(graft.functions.HilbertCurve.xy2d(0, 0) - graft.functions.HilbertCurve.xy2d(1, 0)).toInt <= 3)
    // Matches reference st_quadkey.cpp:16-38 tile math exactly. (The
    // docs/functions.md:1791-1794 example says 1333203202, but the
    // reference's own GetQuadKey code computes 1202033313 for this
    // input — the docs example is stale.)
    assertSql("ST_QuadKey(11.08, 49.45, 10)", "1202033313")
    assertSql("ST_QuadKey(ST_Point(11.08, 49.45), 10)", "1202033313")
  }

  test("linear referencing: interpolate/substring/locate/azimuth hand-checked") {
    val line = "ST_GeomFromText('LINESTRING (0 0, 3 4, 3 10)')" // lengths 5 + 6 = 11
    assertSql(s"ST_AsText(ST_LineInterpolatePoint($line, 0.0))", "POINT (0 0)")
    assertSql(s"ST_AsText(ST_LineInterpolatePoint($line, 1.0))", "POINT (3 10)")
    // fraction 5/11 lands exactly on the vertex
    assertSql(s"ST_AsText(ST_LineInterpolatePoint($line, CAST(5.0 AS DOUBLE)/11.0))", "POINT (3 4)")
    assertSqlApprox(s"ST_Y(ST_LineInterpolatePoint($line, CAST(8.0 AS DOUBLE)/11.0))", 7.0, 1e-9)
    assertSqlApprox(s"ST_Length(ST_LineSubstring($line, CAST(5.0 AS DOUBLE)/11.0, 1.0))", 6.0, 1e-9)
    assertSql(s"ST_AsText(ST_LineSubstring($line, CAST(5.0 AS DOUBLE)/11.0, 1.0))", "LINESTRING (3 4, 3 10)")
    assertSqlApprox(s"ST_LineLocatePoint($line, ST_Point(3, 4))", 5.0 / 11.0, 1e-12)
    // closest-point projection for an off-line point
    assertSqlApprox(s"ST_LineLocatePoint($line, ST_Point(10, 7))", 8.0 / 11.0, 1e-12)
    // azimuth: clockwise from north; null for coincident points
    assertSqlApprox("ST_Azimuth(ST_Point(0, 0), ST_Point(0, 5))", 0.0, 1e-12)
    assertSqlApprox("ST_Azimuth(ST_Point(0, 0), ST_Point(5, 0))", math.Pi / 2, 1e-12)
    assertSqlApprox("ST_Azimuth(ST_Point(0, 0), ST_Point(0, -5))", math.Pi, 1e-12)
    assertSqlApprox("ST_Azimuth(ST_Point(0, 0), ST_Point(-5, 0))", 3 * math.Pi / 2, 1e-12)
    assertSql("ST_Azimuth(ST_Point(1, 1), ST_Point(1, 1))", null)
    // non-line inputs are NULL, bad fractions fail loudly
    assertSql("ST_LineInterpolatePoint(ST_Point(1, 1), 0.5)", null)
    intercept[Exception] { sql1(s"ST_LineSubstring($line, 0.9, 0.1)") }
  }

  test("segmentize and offset curve hand-checked") {
    assertSql("ST_AsText(ST_Segmentize(ST_GeomFromText('LINESTRING (0 0, 3 4)'), 2.5))",
      "LINESTRING (0 0, 1.5 2, 3 4)")
    assertSql("ST_AsText(ST_Segmentize(ST_GeomFromText('LINESTRING (0 0, 3 4)'), 10.0))",
      "LINESTRING (0 0, 3 4)") // already under the max: unchanged
    assertSql("ST_NPoints(ST_Segmentize(ST_GeomFromText('LINESTRING (0 0, 0 9)'), 3.0))", 4)
    // polygons densify too (every edge bounded)
    assertSql("ST_NPoints(ST_Segmentize(ST_MakeEnvelope(0, 0, 4, 4), 2.0))", 9)
    intercept[Exception] { sql1("ST_Segmentize(ST_Point(0, 0), -1.0)") }
    // offset: positive = left of travel, negative = right
    assertSql("ST_AsText(ST_OffsetCurve(ST_GeomFromText('LINESTRING (0 0, 10 0)'), 2.0))",
      "LINESTRING (0 2, 10 2)")
    assertSql("ST_AsText(ST_OffsetCurve(ST_GeomFromText('LINESTRING (0 0, 10 0)'), -2.0))",
      "LINESTRING (0 -2, 10 -2)")
    assertSql("ST_OffsetCurve(ST_Point(1, 1), 2.0)", null)
  }

  test("affine family, bounding circle, polygonize hand-checked") {
    assertSql("ST_AsText(ST_Scale(ST_Point(2, 3), 2.0, 10.0))", "POINT (4 30)")
    assertSql("ST_AsText(ST_Scale(ST_GeomFromText('LINESTRING (1 1, 2 2)'), -1.0, 1.0))",
      "LINESTRING (-1 1, -2 2)")
    assertSqlApprox("ST_X(ST_Rotate(ST_Point(1, 0), radians(90)))", 0.0, 1e-12)
    assertSqlApprox("ST_Y(ST_Rotate(ST_Point(1, 0), radians(90)))", 1.0, 1e-12)
    // rotation about an explicit origin: (2,0) about (1,0) by 180° -> (0,0)
    assertSqlApprox("ST_X(ST_Rotate(ST_Point(2, 0), radians(180), 1.0, 0.0))", 0.0, 1e-12)
    assertSql("ST_MinimumBoundingRadius(ST_MakeEnvelope(0, 0, 4, 3))", 2.5)
    assertSqlApprox("ST_XMin(ST_MinimumBoundingCircle(ST_MakeEnvelope(0, 0, 4, 3)))",
      -0.5, 1e-12)
    assertSql("ST_Area(ST_Polygonize(ST_Boundary(ST_MakeEnvelope(0, 0, 4, 4))))", 16.0)
    // unclosed linework forms nothing: empty collection, zero area
    assertSql("ST_NGeometries(ST_Polygonize(ST_GeomFromText('LINESTRING (0 0, 1 0)')))", 0)
  }

  test("delaunay, voronoi, snap hand-checked") {
    val corners = "ST_Collect(array(ST_Point(0,0), ST_Point(4,0), ST_Point(4,4), ST_Point(0,4)))"
    assertSql(s"ST_NGeometries(ST_DelaunayTriangles($corners))", 2)
    assertSql(s"ST_Area(ST_DelaunayTriangles($corners))", 16.0)
    // every triangle is inside the hull
    assertSql(s"ST_Within(ST_DelaunayTriangles($corners), ST_ConvexHull($corners))", true)
    val sites = "ST_Collect(array(ST_Point(1,1), ST_Point(3,1)))"
    assertSql(s"ST_NGeometries(ST_VoronoiPolygons($sites, 0.0, ST_MakeEnvelope(0,0,4,2)))", 2)
    assertSql(s"ST_Area(ST_VoronoiPolygons($sites, 0.0, ST_MakeEnvelope(0,0,4,2)))", 8.0)
    // each site falls inside its own cell (cells partition the box)
    assertSql(s"ST_Intersects(ST_VoronoiPolygons($sites, 0.0, ST_MakeEnvelope(0,0,4,2)), ST_Point(1,1))", true)
    assertSql("ST_AsText(ST_Snap(ST_Point(1.1, 0.05), ST_GeomFromText('LINESTRING (1 0, 5 0)'), 0.2))",
      "POINT (1 0)")
    // out of tolerance: unchanged
    assertSql("ST_AsText(ST_Snap(ST_Point(1.5, 0.5), ST_GeomFromText('LINESTRING (1 0, 5 0)'), 0.2))",
      "POINT (1.5 0.5)")
  }

  test("geohash encode/decode: canonical vectors, roundtrip, errors") {
    // the canonical wikipedia vector and a well-known city
    assertSql("ST_GeoHash(ST_Point(-5.6, 42.6), 5)", "ezs42")
    assertSql("ST_GeoHash(ST_Point(-74.006, 40.7128), 9)", "dr5regw3p")
    // prefix property: longer hashes extend shorter ones
    assertSql("ST_GeoHash(ST_Point(-5.6, 42.6), 3)", "ezs")
    // decode center of ezs42 (half-cell offsets are exact binary)
    assertSql("ST_X(ST_PointFromGeoHash('ezs42'))", -5.60302734375)
    assertSql("ST_Y(ST_PointFromGeoHash('ezs42'))", 42.60498046875)
    // cell covers the encoded point at any precision
    assertSql("ST_Covers(ST_GeomFromGeoHash(ST_GeoHash(ST_Point(11.08, 49.45), 12)), ST_Point(11.08, 49.45))", true)
    // non-point input is NULL; bad precision / range / characters fail
    assertSql("ST_GeoHash(ST_MakeEnvelope(0, 0, 1, 1), 5)", null)
    intercept[Exception] { sql1("ST_GeoHash(ST_Point(200, 0), 5)") }
    intercept[Exception] { sql1("ST_GeoHash(ST_Point(0, 0), 0)") }
    intercept[Exception] { sql1("ST_PointFromGeoHash('ab!c')") }
  }

  test("subdivide: bounded pieces, exact cover, under-budget passthrough") {
    val dense = "ST_Segmentize(ST_MakeEnvelope(0, 0, 8, 2), 1.0)"
    assertSql(s"ST_NPoints($dense)", 21)
    assertSql(s"ST_NGeometries(ST_Subdivide($dense, 10))", 4)
    assertSql(s"ST_Area(ST_Subdivide($dense, 10))", 16.0)
    // every piece stays under the budget
    val mx = spark.sql(s"SELECT max(ST_NPoints(d.geom)) FROM " +
      s"(SELECT explode(ST_Dump(ST_Subdivide($dense, 10))) AS d)").collect()(0).getInt(0)
    assert(mx <= 10, s"piece over budget: $mx")
    // pieces union back to the original (exact lattice arithmetic)
    assertSql(s"ST_Equals(ST_Union(ST_Dump(ST_Subdivide($dense, 10)).geom), ST_MakeEnvelope(0, 0, 8, 2))", true)
    assertSql("ST_AsText(ST_Subdivide(ST_MakeEnvelope(0, 0, 1, 1), 10))",
      "POLYGON ((0 0, 1 0, 1 1, 0 1, 0 0))")
    intercept[Exception] { sql1("ST_Subdivide(ST_Point(0, 0), 4)") }
  }

  test("aggregates") {
    spark.sql("SELECT explode(sequence(0, 9)) AS i").createOrReplaceTempView("ten")
    assertSql("(SELECT ST_AsText(ST_Extent_Agg(ST_Point(i, i))) FROM ten)",
      "POLYGON ((0 0, 9 0, 9 9, 0 9, 0 0))")
    assertSql("(SELECT ST_Area(ST_Union_Agg(ST_MakeEnvelope(i * 2, 0, i * 2 + 1, 1))) FROM ten)", 10.0)
    assertSql("(SELECT ST_Area(ST_Intersection_Agg(ST_MakeEnvelope(0, 0, 10 + i, 10 + i))) FROM ten)", 100.0)
  }
}
