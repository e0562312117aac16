package graft

import graft.functions.Jts
import graft.operators.SpatialJoin
import graft.GeoFunctions.st_within
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.execution.ExplainMode
import org.locationtech.jts.geom.Geometry

/** The broadcast STR-tree index join against brute force: every
 *  predicate SpatialJoinRule rewrites, each side as the build side,
 *  with adaptive execution on and off. */
class SpatialIndexJoinSpec extends SparkSpec {
  import spark.implicits._
  import SpatialIndexJoinSpec._

  private lazy val views: Unit = {
    def view(name: String, rows: Seq[(Int, Geometry)], cols: String*): Unit =
      rows.map { case (id, g) => (id, if (g == null) null else Jts.write(g)) }
        .toDF(cols: _*).createOrReplaceTempView(name)
    view("ij_a", setA, "aid", "ag")
    view("ij_b", setB, "bid", "bg")
    SpatialJoinSpec.latticePoints.toDF("pid", "x", "y")
      .selectExpr("pid", "ST_Point(x, y) AS pt").createOrReplaceTempView("ij_oct_pts")
    SpatialJoinSpec.octagonZones.toDF("zid", "zone").createOrReplaceTempView("ij_oct_zones")
  }

  private def sqlOf(pred: String, x: String, y: String): String =
    if (pred == "st_dwithin") s"ST_DWithin($x, $y, $Distance)" else s"$pred($x, $y)"

  private def pairs(df: DataFrame): Set[(Int, Int)] =
    df.collect().map(r => (r.getInt(0), r.getInt(1))).toSet

  /** Collects `df`, checks it ran as one index join building `buildCol`'s
   *  side, and returns its pairs. */
  private def indexed(df: DataFrame, buildCol: String): Set[(Int, Int)] = {
    val got = pairs(df)
    val joins = indexJoins(df)
    assert(joins.size == 1, s"expected one index join:\n${df.queryExecution.executedPlan}")
    assert(joins.head.build.output.map(_.name).contains(buildCol),
      s"build side ${joins.head.build.output} lacks $buildCol")
    got
  }

  for (aqe <- Seq("true", "false"); pred <- SpatialJoin.supported.toSeq.sorted) {
    test(s"index join == brute force: $pred, either side built, nulls (AQE $aqe)") {
      views
      withConf("spark.sql.adaptive.enabled" -> aqe) {
        val ab = brute(pred, setA, setB)
        val ba = brute(pred, setB, setA)
        assert(ab.nonEmpty && ba.nonEmpty, s"$pred: the fixture needs matches both ways")
        // ij_a (30 rows) is smaller than ij_b (60): it is the build side
        // on the join's left, with the predicate in both operand orders,
        // and on the join's right
        val q1 = spark.sql(s"SELECT aid, bid FROM ij_a JOIN ij_b ON ${sqlOf(pred, "ag", "bg")}")
        assert(indexed(q1, "ag") == ab && indexJoins(q1).head.buildFirst)
        val q2 = spark.sql(s"SELECT aid, bid FROM ij_a JOIN ij_b ON ${sqlOf(pred, "bg", "ag")}")
        assert(indexed(q2, "ag") == ba.map(_.swap) && !indexJoins(q2).head.buildFirst)
        val q3 = spark.sql(s"SELECT aid, bid FROM ij_b JOIN ij_a ON ${sqlOf(pred, "ag", "bg")}")
        assert(indexed(q3, "ag") == ab && indexJoins(q3).head.probeLeft)
      }
    }

    test(s"index self join == brute force: $pred (AQE $aqe)") {
      views
      withConf("spark.sql.adaptive.enabled" -> aqe) {
        val df = spark.sql(s"SELECT x.bid, y.bid FROM ij_b x JOIN ij_b y ON ${sqlOf(pred, "x.bg", "y.bg")}")
        assert(indexed(df, "bg") == brute(pred, setB, setB))
      }
    }
  }

  for (aqe <- Seq("true", "false")) {
    test(s"index join over 200 overlapping octagons (> 32 zones per cell) == brute force (AQE $aqe)") {
      views
      withConf("spark.sql.adaptive.enabled" -> aqe) {
        val within = spark.sql("SELECT pid, zid FROM ij_oct_pts JOIN ij_oct_zones ON ST_Within(pt, zone)")
        val contains = spark.sql("SELECT pid, zid FROM ij_oct_zones JOIN ij_oct_pts ON ST_Contains(zone, pt)")
        for (df <- Seq(within, contains)) {
          val got = df.collect().map(r => (r.getLong(0), r.getInt(1))).toSet
          assert(got == SpatialJoinSpec.octagonBrute,
            s"missing=${(SpatialJoinSpec.octagonBrute -- got).take(5)} extra=${(got -- SpatialJoinSpec.octagonBrute).take(5)}")
          assert(indexJoins(df).map(_.build.output.map(_.name).contains("zone")) == Seq(true))
        }
      }
    }
  }

  test("index join metrics: build rows, tree candidates and exact matches, shown by explain") {
    views
    val df = spark.sql("SELECT pid, zid FROM ij_oct_pts JOIN ij_oct_zones ON ST_Within(pt, zone)")
    assert(df.collect().length == SpatialJoinSpec.octagonBrute.size)
    val j = indexJoins(df).head
    def m(k: String): Long = j.metrics(k).value
    val zones = SpatialJoinSpec.octagonZones.map { case (_, w) => Jts.read(w).getEnvelopeInternal }
    val bboxPairs = SpatialJoinSpec.latticePoints.map { case (_, x, y) =>
      zones.count(_.intersects(new org.locationtech.jts.geom.Coordinate(x, y))).toLong
    }.sum
    assert(m("buildRows") == 200)
    assert(m("candidates") == bboxPairs, s"candidates ${m("candidates")} != bbox-overlapping pairs $bboxPairs")
    assert(m("matches") == SpatialJoinSpec.octagonBrute.size)
    assert(m("numOutputRows") == m("matches"))
    val formatted = df.queryExecution.explainString(ExplainMode.fromString("formatted"))
    assert(formatted.contains(s"number of tree candidates: $bboxPairs") &&
      formatted.contains(s"number of exact matches: ${m("matches")}"), formatted)
  }

  test("index join: an empty WKB operand raises the WKB parse error on either side") {
    val expected = intercept[org.locationtech.jts.io.ParseException](Jts.read(Array.emptyByteArray))
    val poly = Jts.write(Jts.fromWkt("POLYGON ((0 0, 10 0, 10 10, 0 10, 0 0))"))
    val pt = Jts.write(Jts.fromWkt("POINT (1 1)"))
    // the build side is the smaller one: the zones, two rows against three
    val pts = Seq((1, pt), (2, Array.emptyByteArray), (3, pt)).toDF("pid", "p")
    val zones = Seq((1, poly), (2, poly)).toDF("zid", "z")
    val emptyZone = Seq((1, poly), (2, Array.emptyByteArray)).toDF("zid", "z")
    val within = st_within(col("p"), col("z"))
    for ((where, df) <- Seq(
        "probe" -> pts.join(zones, within),
        "build" -> Seq((1, pt), (3, pt), (4, pt)).toDF("pid", "p").join(emptyZone, within))) {
      assert(indexJoins(df).nonEmpty, s"$where: no index join:\n${df.queryExecution.executedPlan}")
      val err = intercept[Throwable](df.collect())
      val chain = Iterator.iterate[Throwable](err)(_.getCause).takeWhile(_ != null).toSeq
      assert(chain.exists(c => c.getClass == expected.getClass && c.getMessage == expected.getMessage),
        s"$where: expected ${expected.getMessage}, got ${chain.mkString(" <- ")}")
    }
  }
}

object SpatialIndexJoinSpec {
  val Distance = 1.5

  private def box(x: Int, y: Int, w: Int, h: Int): Geometry =
    Jts.fromWkt(s"POLYGON (($x $y, ${x + w} $y, ${x + w} ${y + h}, $x ${y + h}, $x $y))")

  /** Boxes, lines and points on an integer lattice (so edges touch and
   *  boxes nest), two null geometries, and in `setB` copies of three of
   *  `setA`'s geometries. */
  private def mixed(seed: Int, boxes: Int, lines: Int, points: Int): Seq[Geometry] = {
    val r = new scala.util.Random(seed)
    def c = r.nextInt(11)
    Seq.fill(boxes)(box(r.nextInt(9), r.nextInt(9), 1 + r.nextInt(4), 1 + r.nextInt(4))) ++
      Seq.fill(lines) { val x = r.nextInt(8); Jts.fromWkt(s"LINESTRING ($x $c, ${x + 1 + r.nextInt(3)} $c)") } ++
      Seq.fill(points)(Jts.fromWkt(s"POINT (${c + r.nextInt(2) * 0.5} ${c + r.nextInt(2) * 0.5})")) ++
      Seq(null, null)
  }

  val setA: Seq[(Int, Geometry)] = mixed(7, 12, 8, 8).zipWithIndex.map(_.swap)
  val setB: Seq[(Int, Geometry)] =
    (mixed(11, 25, 15, 15) ++ Seq(setA(0)._2, setA(12)._2, setA(20)._2)).zipWithIndex.map(_.swap)

  /** `pred(x, y)` by plain JTS on the driver: no Spark, no prepared
   *  geometry. */
  def holds(pred: String, x: Geometry, y: Geometry): Boolean = pred match {
    case "st_intersects" => x.intersects(y)
    case "st_contains" => x.contains(y)
    case "st_containsproperly" => x.relate(y, "T**FF*FF*")
    case "st_within" => x.within(y)
    case "st_covers" => x.covers(y)
    case "st_coveredby" => x.coveredBy(y)
    case "st_crosses" => x.crosses(y)
    case "st_equals" => x.equalsTopo(y)
    case "st_overlaps" => x.overlaps(y)
    case "st_touches" => x.touches(y)
    case "st_dwithin" => x.isWithinDistance(y, Distance)
  }

  /** (x id, y id) of every non-null pair with `pred(x, y)`. */
  def brute(pred: String, xs: Seq[(Int, Geometry)], ys: Seq[(Int, Geometry)]): Set[(Int, Int)] =
    (for {
      (i, x) <- xs if x != null
      (j, y) <- ys if y != null && holds(pred, x, y)
    } yield (i, j)).toSet
}
