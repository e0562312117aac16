package graft

import graft.operators._
import graft.GeoFunctions._
import org.apache.spark.sql.functions._

class SpatialJoinSpec extends SparkSpec {
  import spark.implicits._

  test("grid join == broadcast join == brute force (points in polygons)") {
    // 200 points on a 20x20 area, 9 overlapping zones
    val pts = (0 until 200).map(i => (i.toLong, (i % 20) + 0.5, (i / 20) + 0.5))
      .toDF("pid", "x", "y").withColumn("pt", st_point($"x", $"y"))
    val zones = (for (zx <- 0 until 3; zy <- 0 until 3)
      yield (zx * 3 + zy, zx * 6.0, zy * 3.0, zx * 6.0 + 7.0, zy * 3.0 + 4.0))
      .toDF("zid", "x0", "y0", "x1", "y1")
      .withColumn("zone", st_makeenvelope($"x0", $"y0", $"x1", $"y1"))

    val grid = SpatialJoin.join(pts, zones, $"pt", $"zone", "st_within", cellSize = 2.0)
      .select("pid", "zid").as[(Long, Int)].collect().toSet
    val indexed = pts.join(zones, st_within($"pt", $"zone")).select("pid", "zid")
    val bcast = indexed.as[(Long, Int)].collect().toSet
    assert(indexJoins(indexed).size == 1, s"no index join:\n${indexed.queryExecution.executedPlan}")
    val brute = pts.crossJoin(zones).filter(st_within($"pt", $"zone"))
      .select("pid", "zid").as[(Long, Int)].collect().toSet

    assert(brute.nonEmpty)
    assert(grid == brute, s"grid join mismatch: missing=${brute -- grid} extra=${grid -- brute}")
    assert(bcast == brute)
  }

  test("grid join == broadcast join == brute force (200 overlapping octagons, > 32 zones per cell)") {
    import SpatialJoinSpec._
    val pts = latticePoints.toDF("pid", "x", "y").withColumn("pt", st_point($"x", $"y")).select("pid", "pt")
    val zones = octagonZones.toDF("zid", "zone")
    // the premise: single grid cells hold well over 32 distinct zones
    val cell = new org.locationtech.jts.geom.Envelope(12.0, 16.0, 12.0, 16.0)
    val perCell = octagonZones.count { case (_, z) =>
      graft.functions.Jts.read(z).getEnvelopeInternal.intersects(cell) }
    assert(perCell > 32, s"only $perCell zones in the centre cell")

    val grid = SpatialJoin.join(pts, zones, $"pt", $"zone", "st_within", cellSize = 4.0)
      .select("pid", "zid").as[(Long, Int)].collect().toSet
    val indexed = pts.join(zones, st_within($"pt", $"zone")).select("pid", "zid")
    val bcast = indexed.as[(Long, Int)].collect().toSet
    assert(indexJoins(indexed).size == 1, s"no index join:\n${indexed.queryExecution.executedPlan}")
    val brute = octagonBrute
    assert(brute.size > 10000)
    assert(grid == brute, s"grid join mismatch: missing=${(brute -- grid).take(5)} extra=${(grid -- brute).take(5)}")
    assert(bcast == brute)
  }

  test("grid join polygons x polygons (intersects, multi-cell dedup)") {
    val left = (0 until 30).map(i => (i, i * 1.0, 0.0, i * 1.0 + 5.0, 5.0))
      .toDF("lid", "x0", "y0", "x1", "y1")
      .withColumn("lg", st_makeenvelope($"x0", $"y0", $"x1", $"y1")).select("lid", "lg")
    val right = (0 until 30).map(i => (i, i * 1.0 + 2.0, 2.0, i * 1.0 + 6.0, 8.0))
      .toDF("rid", "x0", "y0", "x1", "y1")
      .withColumn("rg", st_makeenvelope($"x0", $"y0", $"x1", $"y1")).select("rid", "rg")
    val grid = SpatialJoin.join(left, right, $"lg", $"rg", "st_intersects", cellSize = 3.0)
      .select("lid", "rid").as[(Int, Int)].collect()
    val brute = left.crossJoin(right).filter(st_intersects($"lg", $"rg"))
      .select("lid", "rid").as[(Int, Int)].collect().toSet
    assert(grid.length == grid.toSet.size, "duplicate pairs emitted")
    assert(grid.toSet == brute)
  }

  test("auto cell-size estimation path matches brute force") {
    val pts = (0 until 150).map(i => (i.toLong, (i % 15) * 3.1, (i / 15) * 2.7))
      .toDF("pid", "x", "y").withColumn("pt", st_point($"x", $"y")).select("pid", "pt")
    val zones = (0 until 6).map(i => (i, i * 8.0, 0.0, i * 8.0 + 9.0, 30.0))
      .toDF("zid", "x0", "y0", "x1", "y1")
      .withColumn("zone", st_makeenvelope($"x0", $"y0", $"x1", $"y1")).select("zid", "zone")
    // cellSize <= 0 → the estimate, as a subquery: building and planning
    // the join runs no Spark job
    val (auto, jobs) = jobsDuring {
      val df = SpatialJoin.join(pts, zones, $"pt", $"zone", "st_within").select("pid", "zid")
      df.queryExecution.executedPlan
      df
    }
    assert(jobs == 0, s"SpatialJoin.join launched $jobs job(s) before an action")
    val brute = pts.crossJoin(zones).filter(st_within($"pt", $"zone"))
      .select("pid", "zid").as[(Long, Int)].collect().toSet
    assert(auto.as[(Long, Int)].collect().toSet == brute && brute.nonEmpty)
  }

  test("knn join equals brute-force k-nearest within radius (ties on id)") {
    val pts = (0 until 80).map(i => (i.toLong, (i % 10) * 2.0 + 0.3, (i / 10) * 2.0 + 0.7))
      .toDF("pid", "x", "y").withColumn("pt", st_point($"x", $"y")).select("pid", "pt")
    val poi = (0 until 30).map(i => (i.toLong, (i % 6) * 3.5, (i / 6) * 3.5))
      .toDF("qid", "qx", "qy").withColumn("pg", st_point($"qx", $"qy")).select("qid", "pg")
    val got = SpatialJoin.knnJoin(pts, poi, $"pid", $"pt", $"qid", $"pg",
        k = 3, maxDist = 5.0, cellSize = 5.0)
      .select("left_id", "right_id", "rank").as[(Long, Long, Int)].collect().toSet
    val brute = pts.crossJoin(poi)
      .withColumn("d", round(st_distance($"pt", $"pg"), 6))
      .filter(st_dwithin($"pt", $"pg", lit(5.0)))
      .withColumn("rnk", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy("pid")
          .orderBy($"d".asc, $"qid".asc)))
      .filter($"rnk" <= 3)
      .select($"pid", $"qid", $"rnk").as[(Long, Long, Int)].collect().toSet
    assert(got == brute && brute.nonEmpty)
  }

  test("dwithin grid join") {
    val a = (0 until 50).map(i => (i, i % 10 * 2.0, i / 10 * 2.0)).toDF("aid", "x", "y")
      .withColumn("ag", st_point($"x", $"y")).select("aid", "ag")
    val b = (0 until 50).map(i => (i, i % 10 * 2.0 + 0.6, i / 10 * 2.0)).toDF("bid", "x", "y")
      .withColumn("bg", st_point($"x", $"y")).select("bid", "bg")
    val grid = SpatialJoin.join(a, b, $"ag", $"bg", "st_dwithin", cellSize = 1.0, distance = 0.7)
      .select("aid", "bid").as[(Int, Int)].collect().toSet
    val brute = a.crossJoin(b).filter(st_dwithin($"ag", $"bg", lit(0.7)))
      .select("aid", "bid").as[(Int, Int)].collect().toSet
    assert(grid == brute)
  }
}

object SpatialJoinSpec {
  import org.locationtech.jts.geom.Coordinate
  import graft.functions.Jts

  /** 200 octagons, 50 around each of four nearby centres, with radii
   *  from 1 to 15.7 and rotations that make every one distinct: a cell
   *  near a centre holds far more than 32 overlapping zones. */
  val octagonZones: Seq[(Int, Array[Byte])] = (0 until 200).map { k =>
    val (cx, cy) = Seq((12.0, 12.0), (28.0, 12.0), (12.0, 28.0), (28.0, 28.0))(k % 4)
    val r = 1.0 + (k / 4) * 0.3
    val ring = (0 to 8).map { i =>
      val a = k * 0.05 + (i % 8) * math.Pi / 4
      new Coordinate(cx + r * math.cos(a), cy + r * math.sin(a))
    }
    (k, Jts.write(Jts.gf.createPolygon(ring.toArray)))
  }

  /** 1,600 points on a 40 x 40 lattice, off the octagons' centres. */
  val latticePoints: Seq[(Long, Double, Double)] =
    (0 until 1600).map(i => (i.toLong, i % 40 + 0.37, i / 40 + 0.61))

  /** (pid, zid) of every point inside an octagon, by plain JTS on the
   *  driver: no Spark, no GeoPredicate, no prepared geometry. */
  lazy val octagonBrute: Set[(Long, Int)] = {
    val zones = octagonZones.map { case (z, wkb) => (z, Jts.read(wkb)) }
    (for {
      (pid, x, y) <- latticePoints
      pt = Jts.gf.createPoint(new Coordinate(x, y))
      (zid, zone) <- zones if zone.contains(pt)
    } yield (pid, zid)).toSet
  }
}

class SpatialClusterSpec extends SparkSpec {
  import spark.implicits._

  /** Driver-side reference DBSCAN (naive all-pairs + union-find). */
  private def bruteDbscan(pts: Seq[(Long, Double, Double)], eps: Double,
      minPts: Int): Map[Long, (Boolean, Option[Long])] = {
    val e2 = eps * eps
    def d2(a: (Long, Double, Double), b: (Long, Double, Double)) = {
      val dx = a._2 - b._2; val dy = a._3 - b._3; dx * dx + dy * dy
    }
    val nbrs = pts.map(p => p._1 -> pts.filter(q => d2(p, q) <= e2).map(_._1)).toMap
    val core = pts.map(_._1).filter(i => nbrs(i).size >= minPts).toSet
    val parent = scala.collection.mutable.Map[Long, Long](core.toSeq.map(i => i -> i): _*)
    def find(x: Long): Long = { var r = x; while (parent(r) != r) r = parent(r); r }
    for (c <- core; n <- nbrs(c) if core(n) && n != c) {
      val (ra, rb) = (find(c), find(n))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    val rootOf = core.map(c => c -> find(c)).toMap
    val minByRoot = rootOf.groupBy(_._2).map { case (r, m) => r -> m.keys.min }
    pts.map { p =>
      val coreNbrs = nbrs(p._1).filter(core)
      val lbl = if (coreNbrs.nonEmpty) Some(coreNbrs.map(c => minByRoot(rootOf(c))).min)
                else None
      p._1 -> (core(p._1), lbl)
    }.toMap
  }

  private def run(pts: Seq[(Long, Double, Double)], eps: Double, minPts: Int,
      cellSize: Double = 0.0, parts: Int = 0): Map[Long, (Boolean, Option[Long])] = {
    var df = pts.toDF("id", "x", "y").withColumn("pt", st_point($"x", $"y"))
    if (parts > 0) df = df.repartition(parts)
    SpatialCluster.dbscan(df, $"id", $"pt", eps, minPts, cellSize)
      .collect().map(r => r.getLong(0) ->
        (r.getBoolean(1), if (r.isNullAt(2)) None else Some(r.getLong(2)))).toMap
  }

  test("dbscan: hand-checked blob/border/noise taxonomy") {
    // 3x3 dense blob (all core at eps=1.5/minPts=4), one border point
    // hanging off its edge, a 3-chain too sparse to seed a cluster,
    // and an isolated far point
    val blob = for (x <- 0 until 3; y <- 0 until 3)
      yield ((x * 3 + y).toLong, x.toDouble, y.toDouble)
    val pts = blob ++ Seq((9L, 3.0, 0.0), (10L, 10.0, 0.0), (11L, 11.0, 0.0),
      (12L, 12.0, 0.0), (13L, 100.0, 100.0))
    val got = run(pts, eps = 1.5, minPts = 4)
    blob.foreach { case (i, _, _) => assert(got(i) == (true, Some(0L)), s"blob $i: ${got(i)}") }
    assert(got(9L) == (false, Some(0L)), s"border: ${got(9L)}")   // border joins the blob
    Seq(10L, 11L, 12L, 13L).foreach(i =>
      assert(got(i) == (false, None), s"noise $i: ${got(i)}"))    // chain + isolate = noise
  }

  test("clusterWithin: dwithin transitive closure, chains merge, singletons self-label") {
    // chain 0-1-2 at spacing 1.0 (dist 1.5 chains them), pair 10-11,
    // and an isolated point — ST_ClusterWithin taxonomy
    val pts = Seq((0L, 0.0, 0.0), (1L, 1.0, 0.0), (2L, 2.0, 0.0),
      (10L, 50.0, 0.0), (11L, 50.0, 1.0), (99L, 200.0, 200.0))
    val df = pts.toDF("id", "x", "y").withColumn("pt", st_point($"x", $"y"))
    val got = SpatialCluster.clusterWithin(df, $"id", $"pt", dist = 1.5)
      .as[(Long, Long)].collect().toMap
    assert(got == Map(0L -> 0L, 1L -> 0L, 2L -> 0L, 10L -> 10L, 11L -> 10L, 99L -> 99L), got)
  }

  test("clusterIntersecting: brute-force closure parity on circles; touches cluster") {
    // circles (buffered points): envelope overlap does NOT imply
    // intersection (corner-adjacent circles miss), so this exercises
    // the exact predicate behind the grid candidates, not just bboxes
    val rnd = new scala.util.Random(7)
    val pts = (0 until 150).map(i =>
      (i.toLong, rnd.nextInt(20).toDouble, rnd.nextInt(20).toDouble))
    val df = pts.toDF("id", "x", "y")
      .withColumn("g", st_buffer(st_point($"x", $"y"), lit(0.8)))
    val got = SpatialCluster.clusterIntersecting(df, $"id", $"g")
      .as[(Long, Long)].collect().toMap
    // driver brute force over the same JTS buffers
    val geoms = pts.map { case (i, x, y) =>
      i -> graft.functions.Jts.gf.createPoint(
        new org.locationtech.jts.geom.Coordinate(x, y)).buffer(0.8)
    }.toMap
    val parent = scala.collection.mutable.Map(pts.map(p => p._1 -> p._1): _*)
    def find(x: Long): Long = { var r = x; while (parent(r) != r) r = parent(r); r }
    for ((a, ga) <- geoms; (b, gb) <- geoms if a < b && ga.intersects(gb)) {
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    val want = pts.map(p => p._1 -> find(p._1)).toMap
    assert(got == want, (got.toSet -- want.toSet).take(5).toString)
    assert(want.values.toSet.size > 1, "closure not exercised: everything merged")
    // shared-boundary polygons (distance 0, interiors disjoint) must
    // cluster — the touch case dwithin-thinking gets wrong
    val sq = Seq((0L, 0.0), (1L, 1.0), (2L, 3.0)).toDF("id", "x0")
      .withColumn("g", st_makeenvelope($"x0", lit(0.0), $"x0" + 1.0, lit(1.0)))
    val touch = SpatialCluster.clusterIntersecting(sq, $"id", $"g", cellSize = 1.0)
      .as[(Long, Long)].collect().toMap
    assert(touch == Map(0L -> 0L, 1L -> 0L, 2L -> 2L), touch.toString)
  }

  test("spatial kmeans: separable blobs recover, labels content-stable") {
    // ids interleaved (id % 3 = blob) so the k-smallest-id seeds span
    // the blobs — the documented contract of the deterministic seeding
    val pts = (for (b <- 0 until 3; m <- 0 until 20)
      yield ((m * 3 + b).toLong, b * 100.0 + (m % 5), b * 100.0 + (m / 5))).toSeq
    val df = pts.toDF("id", "x", "y").withColumn("pt", st_point($"x", $"y"))
    val got = SpatialCluster.kmeans(df, $"id", $"pt", k = 3, iters = 3)
      .as[(Long, Int)].collect().toMap
    // each spatial blob maps to exactly one cluster id
    val byBlob = pts.groupBy(_._1 % 3).map { case (b, ps) => b -> ps.map(p => got(p._1)).toSet }
    assert(byBlob.values.forall(_.size == 1), byBlob.toString)
    assert(byBlob.values.flatten.toSet.size == 3)
    val again = SpatialCluster.kmeans(df.repartition(5), $"id", $"pt", k = 3, iters = 3)
      .as[(Long, Int)].collect().toMap
    assert(got == again)
  }

  test("dbscan: brute-force parity on a random lattice; cell-size and partitioning invariant") {
    val rnd = new scala.util.Random(42)
    val pts = (0 until 220).map(i =>
      (i.toLong, rnd.nextInt(24).toDouble, rnd.nextInt(24).toDouble))
    val want = bruteDbscan(pts, eps = 1.5, minPts = 3)
    assert(want.values.exists(_._1) && want.values.exists(v => !v._1 && v._2.isDefined) &&
      want.values.exists(v => v._2.isEmpty), "taxonomy not exercised")
    assert(run(pts, 1.5, 3) == want)
    assert(run(pts, 1.5, 3, cellSize = 4.0) == want)   // cell size is a plan knob, not semantics
    assert(run(pts, 1.5, 3, parts = 7) == want)        // partitioning-invariant
  }
}

class DedupSpec extends SparkSpec {
  import spark.implicits._

  private lazy val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")

  test("exact dedup keeps min id per duplicate text") {
    val df = Seq((1L, "hello world"), (2L, "hello world"), (3L, "other text")).toDF("id", "text")
    val out = Dedup.exact(df, $"id", $"text").select("id").as[Long].collect().toSet
    assert(out == Set(1L, 3L))
  }

  test("jaro-winkler: published worked examples, edge cases, blocked pairs") {
    import graft.functions.{JaroSimilarity, JaroWinklerSimilarity}
    def jw(a: String, b: String): Double =
      JaroWinklerSimilarity(org.apache.spark.sql.catalyst.expressions.Literal(a),
        org.apache.spark.sql.catalyst.expressions.Literal(b))
        .eval(null).asInstanceOf[Double]
    def jaro(a: String, b: String): Double =
      JaroSimilarity(org.apache.spark.sql.catalyst.expressions.Literal(a),
        org.apache.spark.sql.catalyst.expressions.Literal(b))
        .eval(null).asInstanceOf[Double]
    // Winkler's published examples
    assert(math.abs(jaro("MARTHA", "MARHTA") - 0.9444444444444445) < 1e-12)
    assert(math.abs(jw("MARTHA", "MARHTA") - 0.9611111111111111) < 1e-12)
    assert(math.abs(jw("DWAYNE", "DUANE") - 0.84) < 1e-12)
    assert(math.abs(jw("DIXON", "DICKSONX") - 0.8133333333333332) < 1e-12)
    // below the 0.7 boost threshold the prefix does NOT boost
    assert(jw("abcdefgh", "abzzzzzz") == 0.5 && jaro("abcdefgh", "abzzzzzz") == 0.5)
    // prefix cap at 4
    assert(math.abs(jw("abcdexxxx", "abcdeyyyy") - 0.8222222222222222) < 1e-12)
    // empty scores 0 (the reference engine's convention), equal scores 1
    assert(jw("", "") == 0.0 && jw("", "x") == 0.0 && jw("same", "same") == 1.0)
    // window-0 short strings: transposed pairs don't match at all
    assert(jaro("ab", "ba") == 0.0)
    // odd mismatch count uses integer half-transpositions
    assert(math.abs(jaro("abcdef", "bcadef") - 0.9444444444444445) < 1e-12)

    // blocked operator: brute-force parity within blocks
    val names = Seq((1L, "martinez"), (2L, "martines"), (3L, "marteenez"),
      (4L, "smith"), (5L, "smyth"), (6L, "zz")).toDF("id", "nm")
    val got = Dedup.jaroWinklerPairs(names, $"id", $"nm", minSim = 0.8, blockPrefix = 2)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(got == Set((1L, 2L), (1L, 3L), (2L, 3L), (4L, 5L)), got.toString)
  }

  test("damerau-levenshtein: true (unrestricted) variant, pinned cases, bounds") {
    import graft.functions.DamerauLevenshtein
    import org.apache.spark.sql.catalyst.expressions.Literal
    def dl(a: String, b: String): Int =
      DamerauLevenshtein(Literal(a), Literal(b)).eval(null).asInstanceOf[Int]
    // the discriminator vs restricted OSA: edits may touch a swapped
    // block, so ca -> ac -> abc is 2 (OSA says 3)
    assert(dl("ca", "abc") == 2)
    assert(dl("ab", "ba") == 1)
    assert(dl("abcdef", "bacdfe") == 2) // two independent swaps
    assert(dl("kitten", "sitting") == 3)
    assert(dl("", "abc") == 3 && dl("abc", "") == 3 && dl("", "") == 0)
    assert(dl("same", "same") == 0)
    // randomized bounds: symmetric, 0 iff equal, never exceeds plain
    // levenshtein, and a single adjacent swap always costs exactly 1
    val rnd = new scala.util.Random(7)
    def randStr() = (0 until (1 + rnd.nextInt(8))).map(_ => ('a' + rnd.nextInt(4)).toChar).mkString
    (0 until 300).foreach { _ =>
      val (x, y) = (randStr(), randStr())
      val d = dl(x, y)
      assert(d == dl(y, x), s"asymmetric on $x/$y")
      assert((d == 0) == (x == y), s"$x/$y -> $d")
      val lev = org.apache.commons.text.similarity.LevenshteinDistance
        .getDefaultInstance.apply(x, y)
      assert(d <= lev, s"dl $d > lev $lev on $x/$y")
    }
    (0 until 100).foreach { _ =>
      val s = randStr() + "xy" + randStr()
      val i = s.indexOf("xy")
      val swapped = s.substring(0, i) + "yx" + s.substring(i + 2)
      if (s != swapped) assert(dl(s, swapped) >= 1 && dl(s, swapped) <= 1 + 0,
        s"swap cost on $s: ${dl(s, swapped)}")
    }
  }

  test("duplicatedSpans: planted shared sentence, self-repeat, canonical survives") {
    // delimiters deliberately differ on both sides so boundary grams
    // are unique and the span is exactly the shared sentence
    val shared = "the quick brown fox jumps over the lazy dog"
    val d1 = s"AA#$shared#BB"                 // canonical (lowest id)
    val d2 = s"prefix@$shared@suffix two"     // span expected here
    val d3 = "completely unrelated content without repeats 123456"
    val df = Seq((1L, d1), (2L, d2), (3L, d3)).toDF("doc_id", "text")
    val spans = Dedup.duplicatedSpans(df, $"doc_id", $"text", minLen = 10)
      .as[(Long, Long, Long)].collect().toSet
    // doc 1 holds every canonical occurrence -> no spans; doc 2's span
    // covers exactly the shared sentence (every 10-gram inside it dups)
    assert(spans.forall(_._1 == 2L), spans.toString)
    val start = d2.indexOf(shared).toLong
    assert(spans == Set((2L, start, shared.length.toLong)), s"$spans vs start=$start")

    // self-repeat within one doc: second copy removable, first kept
    val rep = "0123456789" * 3 + "tail"
    val one = Seq((7L, rep)).toDF("doc_id", "text")
    val s2 = Dedup.duplicatedSpans(one, $"doc_id", $"text", minLen = 10)
      .as[(Long, Long, Long)].collect().toSet
    // offsets 1..20 all have duplicated 10-grams; offset 0 is canonical
    // for "0123456789" but offsets 1..9 are canonical for their own
    // rotations -> removable run = offsets 10..20 -> span [10, 30)
    assert(s2 == Set((7L, 10L, 20L)), s2.toString)
  }

  test("duplicatedSpans + stripSpans == brute-force on a random corpus") {
    val rnd = new scala.util.Random(42)
    val words = Seq("alpha", "beta", "gamma", "delta", "epsilon")
    val texts = (0 until 60).map { i =>
      (i.toLong, (0 until 12).map(_ => words(rnd.nextInt(words.size))).mkString(" "))
    }
    val L = 12
    // brute force: gram -> sorted occurrence list; removable = all but
    // first; islands merged
    val occ = scala.collection.mutable.Map[String, List[(Long, Int)]]()
    for ((id, t) <- texts; o <- 0 to t.length - L)
      occ(t.substring(o, o + L)) = occ.getOrElse(t.substring(o, o + L), Nil) :+ ((id, o))
    val removable = occ.values.filter(_.size >= 2)
      .flatMap(v => v.sorted.drop(1)).toSet
    val expect = texts.flatMap { case (id, t) =>
      val offs = (0 to t.length - L).filter(o => removable((id, o)))
      // merge offsets whose char ranges overlap or touch (gap <= L)
      offs.foldLeft(List.empty[(Int, Int)]) {
        case ((s, e) :: rest, o) if o <= e + L => (s, o) :: rest
        case (acc, o) => (o, o) :: acc
      }.map { case (s, e) => (id, s.toLong, (e - s + L).toLong) }
    }.toSet
    val df = texts.toDF("doc_id", "text")
    val spans = Dedup.duplicatedSpans(df, $"doc_id", $"text", minLen = L)
    val got = spans.as[(Long, Long, Long)].collect().toSet
    assert(got == expect, s"missing=${expect -- got} extra=${got -- expect}")

    // strip: every doc equals its brute-force spliced text
    val expectText = texts.map { case (id, t) =>
      val cuts = expect.filter(_._1 == id).toSeq.sortBy(_._2)
      val sb = new StringBuilder
      var pos = 0
      for ((_, s, l) <- cuts) { sb.append(t.substring(pos, s.toInt)); pos = (s + l).toInt }
      (id, sb.append(t.substring(pos)).toString)
    }.toMap
    val stripped = Dedup.stripSpans(df, $"doc_id", $"text", spans)
      .select($"doc_id", $"text_dedup").as[(Long, String)].collect().toMap
    assert(stripped == expectText,
      stripped.collect { case (k, v) if expectText(k) != v => (k, v, expectText(k)) }.take(3).toString)
  }

  test("fuzzyPairs == brute-force levenshtein across band widths (boundary lengths)") {
    // strings engineered to straddle band boundaries: lengths 6..9
    // around a bandWidth-8 edge, plus planted lev-1/2 variants
    val rows = (0 until 80).map { i =>
      val base = ("abcdefghijklmnop" * 2).substring(0, 6 + i % 10) + (i / 4).toString
      val s = i % 4 match {
        case 0 => base
        case 1 => base + "x"           // lev 1 vs case 0
        case 2 => base.drop(1) + "qz"  // lev <= 3
        case _ => "Q" + base.drop(1)   // lev 1
      }
      (i.toLong, s)
    }
    val df = rows.toDF("id", "k")
    val brute = df.as("a").join(df.as("b"), col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"),
        levenshtein(col("a.k"), col("b.k")).as("dist"))
      .filter($"dist" <= 2)
      .as[(Long, Long, Int)].collect().toSet
    assert(brute.nonEmpty)
    for (bw <- Seq(1, 3, 8, 64)) {
      val got = Dedup.fuzzyPairs(df, $"id", $"k", maxDist = 2, bandWidth = bw)
        .as[(Long, Long, Int)].collect().toSet
      assert(got == brute, s"bandWidth=$bw: missing=${brute -- got} extra=${got -- brute}")
    }
    // maxDist 0 degenerates to exact-key pairs
    val exact0 = Dedup.fuzzyPairs(df, $"id", $"k", maxDist = 0, bandWidth = 8)
      .as[(Long, Long, Int)].collect()
    assert(exact0.forall(_._3 == 0))
  }

  test("exact dedup survives a 50%-identical corpus without a hot reducer") {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}
    val n = 40000L
    // adversarial corpus: every even id is the same boilerplate page
    val df = spark.range(n).select(col("id"),
      when(col("id") % 2 === 0, lit("the same boilerplate page body"))
        .otherwise(concat(lit("unique "), col("id"))).as("text"))
    val stageReads = scala.collection.concurrent.TrieMap[(Int, Long), Long]()
    val listener = new SparkListener {
      override def onTaskEnd(t: SparkListenerTaskEnd): Unit = {
        val m = t.taskMetrics
        if (m != null && m.shuffleReadMetrics.recordsRead > 0)
          stageReads.put((t.stageId, t.taskInfo.taskId), m.shuffleReadMetrics.recordsRead)
      }
    }
    spark.sparkContext.addSparkListener(listener)
    val out = try {
      val o = Dedup.exact(df, col("id"), col("text"))
      assert(o.count() == n / 2 + 1) // boilerplate survivor + all odd ids
      assert(o.agg(min("id")).head.getLong(0) == 0L) // min-id survivor rule
      o
    } finally spark.sparkContext.removeSparkListener(listener)
    assert(out.filter(col("id") % 2 === 0 && col("id") =!= 0).count() == 0)
    // balance: the window plan funneled all n/2 boilerplate rows into ONE
    // reduce task; with partial aggregation the hot key reaches the
    // exchange as ≤1 record per map partition, so within every shuffle
    // stage the heaviest task reads <2x the stage median (+ slack for
    // tiny stages)
    stageReads.groupBy(_._1._1).foreach { case (stage, tasks) =>
      val reads = tasks.values.toSeq.sorted
      if (reads.length > 1 && reads.sum > 1000) {
        val median = reads(reads.length / 2)
        assert(reads.last <= median * 2 + 64,
          s"stage $stage skewed: reads=$reads")
      }
    }
  }

  test("simhash blocking join carries ids only (sigs re-join after distinct)") {
    val df = Seq(
      (1L, "the quick brown fox jumps over the lazy dog again and again"),
      (2L, "the quick brown fox jumps over the lazy dog again and again!"),
      (3L, "completely different content about spark query engines at scale")
    ).toDF("id", "text")
    val out = Dedup.simhashCandidates(df, $"id", $"text", maxDist = 6)
    val plan = spark.sessionState.executePlan(out.queryExecution.logical).optimizedPlan
    val blocking = plan.collect {
      case j: org.apache.spark.sql.catalyst.plans.logical.Join
          if j.condition.exists(_.references.exists(_.name == "qh")) => j
    }
    assert(blocking.nonEmpty, "no quarter-blocking join in the plan")
    blocking.foreach { j =>
      val carried = j.children.flatMap(_.output).map(_.name)
      assert(!carried.exists(_.contains("sig")),
        s"blocking join shuffles signatures: $carried")
    }
  }

  test("minhash finds planted near-duplicates, not unrelated docs") {
    val base = docs.select($"doc_id", $"text").limit(40)
    // plant near-dups: copy of doc with tiny suffix change
    val dups = base.filter($"doc_id" < 5)
      .select(($"doc_id" + 100000).as("doc_id"), concat($"text", lit(" xyz")).as("text"))
    val all = base.unionAll(dups)
    // ground truth: brute-force exact word-shingle jaccard over all pairs
    val truth = all.as("a").crossJoin(all.as("b"))
      .filter($"a.doc_id" < $"b.doc_id")
      .withColumn("j", Dedup.jaccard($"a.text", $"b.text"))
      .filter($"j" >= 0.7)
      .select($"a.doc_id", $"b.doc_id").as[(Long, Long)].collect().toSet
    // every planted pair is in the truth set and found by LSH
    for (i <- 0L until 5L) assert(truth.contains((i, i + 100000)))
    val expectedDropped = truth.map(_._2)
    for (aqe <- Seq("true", "false")) withConf("spark.sql.adaptive.enabled" -> aqe) {
      val pairs = Dedup.minhashCandidates(all, $"doc_id", $"text", numHashes = 64, bands = 16)
        .filter($"est_jaccard" >= 0.7)
        .select($"id_a", $"id_b").as[(Long, Long)].collect().toSet
      assert(pairs == truth, s"AQE $aqe: missing=${truth -- pairs} spurious=${pairs -- truth}")
      val kept = Dedup.minhashDedup(all, $"doc_id", $"text", threshold = 0.7,
        numHashes = 64, bands = 16)
      assert(kept.count() == all.count() - expectedDropped.size, s"AQE $aqe")
      assert(kept.filter($"doc_id".isin(expectedDropped.toSeq: _*)).count() == 0, s"AQE $aqe")
    }
  }

  test("simhash hamming + candidates") {
    val df = Seq(
      (1L, "the quick brown fox jumps over the lazy dog again and again"),
      (2L, "the quick brown fox jumps over the lazy dog again and again!"),
      (3L, "completely different content about spark query engines at scale")
    ).toDF("id", "text")
    val pairs = Dedup.simhashCandidates(df, $"id", $"text", maxDist = 6)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(pairs.contains((1L, 2L)))
    assert(!pairs.contains((1L, 3L)) && !pairs.contains((2L, 3L)))
  }

  test("contamination flags eval-overlapping docs; decontaminate drops exactly those") {
    val bench = Seq(
      (100L, "the quick brown fox jumps over the lazy dog"),
      (101L, "completely unrelated benchmark question about nothing")).toDF("id", "text")
    val docs = Seq(
      (1L, "prefix text the quick brown fox jumps over the lazy dog suffix"), // contains bench 100 grams
      (2L, "the quick brown fox sleeps instead of jumping anywhere today"),   // shares <5-gram runs only
      (3L, "clean document with entirely original content and words"),
      (4L, "completely unrelated benchmark question about nothing at all")    // contains bench 101 grams
    ).toDF("id", "text")
    val flags = Dedup.contamination(docs, $"id", $"text", bench, $"id", $"text", n = 5)
      .select($"doc_id", $"n_overlap", $"bench_ids").collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getSeq[Long](2))).toMap
    assert(flags.keySet == Set(1L, 4L), flags.toString)
    assert(flags(1L)._2 == Seq(100L) && flags(4L)._2 == Seq(101L))
    assert(flags(1L)._1 >= 1 && flags(4L)._1 >= 1)
    val kept = Dedup.decontaminate(docs, $"id", $"text", bench, $"id", $"text", n = 5)
      .select("id").as[Long].collect().toSet
    assert(kept == Set(2L, 3L))
    // the eval members themselves are fully contaminated by construction
    val self = Dedup.contamination(bench, $"id", $"text", bench, $"id", $"text", n = 5)
      .select("doc_id").as[Long].collect().toSet
    assert(self == Set(100L, 101L))
  }

  test("ngram jaccard column") {
    val df = Seq(("abcdefghij", "abcdefghij"), ("abcdefghij", "zzzzzzzzzz")).toDF("a", "b")
    val sims = df.select(Dedup.jaccard($"a", $"b").as("j")).as[Double].collect()
    assert(sims(0) == 1.0)
    assert(sims(1) == 0.0)
  }

  test("fingerprint is deterministic and shift-robust-ish") {
    val df = Seq((1L, "some stable content here"), (2L, "some stable content here")).toDF("id", "t")
    val fps = df.select(Dedup.fingerprint($"t").as("fp")).as[Long].collect()
    assert(fps(0) == fps(1))
  }

  test("duplicateClusters fuzz: random graphs match a local union-find") {
    import org.apache.spark.sql.functions._
    val rnd = new scala.util.Random(20260813L)
    for (trial <- 0 until 3) {
      val n = 120 + trial * 60
      val nEdges = n / 2 + rnd.nextInt(2 * n)
      val edges = Seq.fill(nEdges)((rnd.nextInt(n).toLong, rnd.nextInt(n).toLong))
      // local union-find ground truth
      val parent = Array.tabulate(n)(identity)
      def find(x: Int): Int = { var r = x; while (parent(r) != r) r = parent(r); r }
      edges.foreach { case (a, b) =>
        val (ra, rb) = (find(a.toInt), find(b.toInt))
        if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
      }
      val want = (0 until n).map(i => i.toLong -> find(i).toLong).toMap
      for (aqe <- Seq("true", "false")) withConf("spark.sql.adaptive.enabled" -> aqe) {
        val got = Dedup.duplicateClusters(
          (0L until n.toLong).toDF("id"), edges.toDF("id_a", "id_b"))
          .as[(Long, Long)].collect().toMap
        assert(got == want, s"trial $trial, AQE $aqe: ${got.toSet -- want.toSet}")
      }
    }
  }

  test("clusterDedup keeps exactly one representative per transitive cluster") {
    // star: A~C and B~C but A!~B. Greedy pairwise (drop the larger id of
    // each pair) drops only C and keeps BOTH A and B — two survivors
    // from one transitive cluster; cluster-correct dedup keeps only A.
    val base = (1 to 20).map(i => s"word$i").mkString(" ")
    val a = base.replace("word1 ", "alpha ")   // differs from base in w1
    val b = base.replace(" word20", " omega")  // differs from base in w20
    val c = base                               // near both; a~b only 0.8
    val df = Seq((1L, a), (2L, b), (3L, c),
      (10L, "completely different text about nothing in particular at all")).toDF("id", "text")
    for (aqe <- Seq("true", "false")) withConf("spark.sql.adaptive.enabled" -> aqe) {
      val pairs = Dedup.nearDupPairs(df, $"id", $"text", threshold = 0.85,
        numHashes = 64, bands = 16).select("id_a", "id_b").as[(Long, Long)].collect().toSet
      assert(pairs == Set((1L, 3L), (2L, 3L)), s"AQE $aqe: pairs=$pairs")
      val greedy = Dedup.minhashDedup(df, $"id", $"text", threshold = 0.85,
        numHashes = 64, bands = 16).select("id").as[Long].collect().toSet
      assert(greedy == Set(1L, 2L, 10L), s"AQE $aqe") // two reps of one cluster
      val kept = Dedup.clusterDedup(df, $"id", $"text", threshold = 0.85,
        numHashes = 64, bands = 16)
        .select("id").as[Long].collect().toSet
      assert(kept == Set(1L, 10L), s"AQE $aqe: kept=$kept")
    }
  }

  test("duplicateClusters: large-star/small-star CC equals brute-force components") {
    import org.apache.spark.sql.functions._
    // chain 1-2-3-4, triangle 10-11-12, pair 20-21, singletons 30, 31
    val pairs = Seq((1L, 2L), (3L, 2L), (3L, 4L), (10L, 11L), (11L, 12L), (10L, 12L), (21L, 20L))
      .toDF("id_a", "id_b")
    val nodes = Seq(1L, 2L, 3L, 4L, 10L, 11L, 12L, 20L, 21L, 30L, 31L).toDF("id")
    val want = Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L,
      10L -> 10L, 11L -> 10L, 12L -> 10L, 20L -> 20L, 21L -> 20L, 30L -> 30L, 31L -> 31L)
    val path = (0L until 64L).sliding(2).map(w => (w(0), w(1))).toSeq.toDF("id_a", "id_b")
    val pathNodes = (0L until 64L).toDF("id")
    for (aqe <- Seq("true", "false")) withConf("spark.sql.adaptive.enabled" -> aqe) {
      val got = Dedup.duplicateClusters(nodes, pairs)
        .as[(Long, Long)].collect().toMap
      assert(got == want, s"AQE $aqe")
      // a long path (worst case for label propagation) still converges
      val clustered = Dedup.duplicateClusters(pathNodes, path).as[(Long, Long)].collect()
      assert(clustered.forall(_._2 == 0L), clustered.filter(_._2 != 0L).take(5).mkString(","))
      // empty pair set -> all singletons
      val none = Dedup.duplicateClusters(nodes, pairs.filter(lit(false)))
        .as[(Long, Long)].collect()
      assert(none.forall(p => p._1 == p._2), s"AQE $aqe")
    }
  }

  test("the LSH family and duplicateClusters leave no cached RDD behind") {
    val sc = spark.sparkContext
    val df = Seq(
      (1L, "the quick brown fox jumps over the lazy dog again and again"),
      (2L, "the quick brown fox jumps over the lazy dog again and again!"),
      (3L, "completely different content about spark query engines at scale"),
      (4L, "completely different content about spark query engines at scale today")
    ).toDF("id", "text")
    val sigs = df.select($"id".as("__id"), Dedup.minhashSignature($"text", 16, 3).as("__sig"))
    val calls = Seq[(String, () => org.apache.spark.sql.DataFrame)](
      "minhashCandidates" -> (() => Dedup.minhashCandidates(df, $"id", $"text", 16, 4, 3)),
      "minhashCandidatesFromSigs" -> (() => Dedup.minhashCandidatesFromSigs(sigs, 16, 4)),
      "minhashCandidatesFromSigs capped" ->
        (() => Dedup.minhashCandidatesFromSigs(sigs, 16, 4, maxBucketSize = 1)),
      "nearDupPairs" -> (() => Dedup.nearDupPairs(df, $"id", $"text", 0.5, 16, 4, 3)),
      // its own threshold: a cache of nearDupPairs' plan would otherwise be shared, hiding a leak
      "minhashDedup" -> (() => Dedup.minhashDedup(df, $"id", $"text", 0.6, 16, 4, 3)),
      "simhashCandidates" -> (() => Dedup.simhashCandidates(df, $"id", $"text", 6)),
      "duplicateClusters" -> (() => Dedup.duplicateClusters(df.select("id"),
        Seq((1L, 2L), (3L, 4L), (2L, 4L)).toDF("id_a", "id_b"))))
    for (aqe <- Seq("true", "false")) withConf("spark.sql.adaptive.enabled" -> aqe) {
      for ((name, call) <- calls) {
        val before = sc.getPersistentRDDs.keySet.toSet
        val out = call()
        assert(sc.getPersistentRDDs.keySet.toSet == before, s"$name, AQE $aqe: cached by the call")
        out.collect()
        assert(sc.getPersistentRDDs.keySet.toSet == before, s"$name, AQE $aqe: cached by a read")
      }
    }
  }

  test("exact and MinHash results keep their statistics; a small anti-join broadcasts them") {
    import org.apache.spark.sql.catalyst.plans.physical.UnknownPartitioning
    import org.apache.spark.sql.execution.LogicalRDD
    import org.apache.spark.sql.execution.joins.{BroadcastHashJoinExec, SortMergeJoinExec}
    val df = PlantedCorpus.rows(300, 30, 30, seed = 5L).toDF("id", "text", "ntok", "stage")
    for (aqe <- Seq("true", "false")) withConf("spark.sql.adaptive.enabled" -> aqe) {
      val kept = Dedup.exact(df, $"id", $"text")
      assert(kept.queryExecution.optimizedPlan.stats.sizeInBytes <=
        df.queryExecution.optimizedPlan.stats.sizeInBytes, s"AQE $aqe")
      // the relation claims no partitioning its RDD does not have:
      // none under AQE (the adaptive wrapper claims none), else the
      // executed plan's, with the RDD's partition count
      val rel = kept.queryExecution.analyzed.collectFirst { case r: LogicalRDD => r }.get
      rel.outputPartitioning match {
        case _: UnknownPartitioning => assert(aqe == "false" || rel.outputOrdering.isEmpty)
        case p => assert(aqe == "false" && p.numPartitions == rel.rdd.getNumPartitions, p)
      }
      val cands = Dedup.minhashCandidates(kept, $"id", $"text", numHashes = 16, bands = 8)
      val n = cands.count()
      assert(n >= 30, s"AQE $aqe: $n candidates")
      assert(cands.queryExecution.optimizedPlan.stats.rowCount.contains(BigInt(n)), s"AQE $aqe")
      // the planner sees 30-odd pairs, not an RDD of unknown size
      val probe = spark.range(1000).toDF("id")
      val anti = probe.join(cands.select($"id_b".as("id")), Seq("id"), "left_anti")
      val planned = anti.queryExecution.sparkPlan
      assert(planned.collect { case j: BroadcastHashJoinExec => j }.nonEmpty, s"AQE $aqe: $planned")
      assert(planned.collect { case j: SortMergeJoinExec => j }.isEmpty, s"AQE $aqe: $planned")
      val dropped = cands.select("id_b").as[Long].collect().toSet
      assert(anti.as[Long].collect().toSet == (0L until 1000L).toSet -- dropped, s"AQE $aqe")
    }
  }
}

/** A corpus with planted duplicates, as the corpus_dedup benchmark
 *  builds it: `originals` documents of 40–100 words from a 20,000-word
 *  vocabulary, then exact copies and near copies (last word replaced)
 *  of distinct originals, with ids above every original. Rows are
 *  (id, text, ntok, stage): stage 2 an original, 1 a near copy, 0 an
 *  exact copy. */
object PlantedCorpus {
  private def word(k: Int): String = {
    val b = new StringBuilder("w")
    var v = k
    do { b += ('a' + v % 26).toChar; v /= 26 } while (v > 0)
    b.toString
  }

  def rows(originals: Int, exactCopies: Int, nearCopies: Int,
      seed: Long): Seq[(Long, String, Int, Int)] = {
    val r = new java.util.SplittableRandom(seed * 104729 + 3)
    val texts = Array.fill(originals)(Array.fill(40 + r.nextInt(61))(word(r.nextInt(20000))))
    val order = (0 until originals).toArray
    (originals - 1 to 1 by -1).foreach { i =>
      val j = r.nextInt(i + 1); val t = order(i); order(i) = order(j); order(j) = t
    }
    val exact = (0 until exactCopies).map { k =>
      val w = texts(order(k))
      ((originals + k).toLong, w.mkString(" "), w.length, 0)
    }
    val near = (0 until nearCopies).map { k =>
      val w = texts(order(exactCopies + k)).clone()
      var repl = word(r.nextInt(20000))
      while (repl == w.last) repl = word(r.nextInt(20000))
      w(w.length - 1) = repl
      ((originals + exactCopies + k).toLong, w.mkString(" "), w.length, 1)
    }
    texts.toSeq.zipWithIndex.map { case (w, i) => (i.toLong, w.mkString(" "), w.length, 2) } ++
      exact ++ near
  }
}

class DedupPipelineSpec extends SparkSpec {
  import spark.implicits._
  import graft.operators.{Dedup, Similarity}

  test("end-to-end dedup chain: exact -> minhash -> semantic, survivors compose") {
    // corpus: 3 exact copies of doc A, a near-dup of doc B (shingle
    // overlap), and two embedding near-dups; each stage must remove
    // its own class and leave the rest
    val texts = Seq(
      (0L, "the quick brown fox jumps over the lazy dog again and again"),
      (1L, "the quick brown fox jumps over the lazy dog again and again"), // exact dup of 0
      (2L, "the quick brown fox jumps over the lazy dog again and again"), // exact dup of 0
      (3L, "completely different document about database engine internals today"),
      (4L, "completely different document about database engine internals yesterday"), // near-dup of 3
      (5L, "unrelated third topic entirely with its own words and phrasing here")
    ).toDF("doc_id", "text")
    val afterExact = Dedup.exact(texts, $"doc_id", $"text")
    assert(afterExact.select("doc_id").as[Long].collect().toSet == Set(0L, 3L, 4L, 5L))
    val afterNear = Dedup.minhashDedup(afterExact, $"doc_id", $"text",
      shingleSize = 3, numHashes = 64, bands = 16, threshold = 0.5)
    assert(afterNear.select("doc_id").as[Long].collect().toSet == Set(0L, 3L, 5L))
    // embedding stage on the survivors: 5 shares 3's embedding almost
    // exactly (planted), 0 is far away
    val emb = Map(
      0L -> Array.fill(8)(0.9f).toSeq,
      3L -> Array.tabulate(8)(d => if (d % 2 == 0) 0.8f else -0.6f).toSeq,
      5L -> Array.tabulate(8)(d => if (d % 2 == 0) 0.8001f else -0.6002f).toSeq)
    val withVec = afterNear.select($"doc_id").as[Long].collect().toSeq
      .map(id => (id, emb(id))).toDF("doc_id", "embedding")
    val afterSem = Similarity.semanticDedup(withVec, $"doc_id", $"embedding",
      k = 2, iters = 2, threshold = 0.9999)
    assert(afterSem.select("doc_id").as[Long].collect().toSet == Set(0L, 3L))
  }

  test("exact -> minhashCandidates -> packSequences: brute-force answers, <= 18 jobs, nothing cached") {
    val (numHashes, bands, verifyAt, budget, seed) = (16, 8, 0.5, 2048L, 1L)
    val corpus = PlantedCorpus.rows(6000, 750, 750, seed)
    val dir = java.nio.file.Files.createTempDirectory("graft-dedup-chain").toString
    corpus.toDF("id", "text", "ntok", "stage").repartition(4)
      .write.mode("overwrite").parquet(s"$dir/corpus")

    // brute force: min id per text; then LSH pairs from the same band
    // hashes, joined and deduplicated locally; then the md5-order cumsum
    val keepIds = corpus.groupBy(_._2).values.map(_.map(_._1).min).toSet
    val kept = corpus.filter(r => keepIds(r._1))
    val sigDf = kept.map(r => (r._1, r._2)).toDF("__id", "text")
      .select($"__id", Dedup.minhashSignature($"text", numHashes, 3).as("__sig"))
    val sig = sigDf.as[(Long, Seq[Int])].collect().toMap
    val truePairs = Dedup.bandBuckets(sigDf, numHashes, bands).as[(Long, Int, Int)].collect()
      .groupBy(b => (b._2, b._3)).values.toSeq
      .flatMap(g => for (a <- g.toSeq; b <- g.toSeq if a._1 < b._1) yield (a._1, b._1)).distinct
      .map { case (a: Long, b: Long) =>
        (a, b, sig(a).zip(sig(b)).count(p => p._1 == p._2) / numHashes.toDouble) }.toSet
    val dropped = truePairs.collect { case (_, b, est) if est >= verifyAt => b }
    val md = java.security.MessageDigest.getInstance("MD5")
    var acc = 0L
    val truePack = kept.filterNot(r => dropped(r._1))
      .sortBy(r => (md.digest(s"$seed:${r._1}".getBytes("UTF-8")).map("%02x".format(_)).mkString,
        r._1.toString))
      .map { r => val start = acc; acc += r._3; r._1 -> (start / budget, start % budget) }.toMap
    assert(dropped.size >= 700, s"${dropped.size} near copies found") // the planted ones
    assert(truePack.size == 6000 + 750 - dropped.size)

    // the chain, read as the benchmark reads it: each result by its
    // one aggregate, then handed to the next step
    def longs(r: org.apache.spark.sql.Row) = (0 until r.length).map(r.getLong)
    def chain() = {
      val in = spark.read.parquet(s"$dir/corpus").select("id", "text", "ntok")
      val exact = Dedup.exact(in, $"id", $"text")
      val ex = longs(exact.agg(count(lit(1)), sum("id"), sum($"id" * $"id")).head())
      val cands = Dedup.minhashCandidates(exact, $"id", $"text", numHashes = numHashes, bands = bands)
      val ok = $"est_jaccard" >= verifyAt
      val mh = longs(cands.agg(count(lit(1)), sum(when(ok, 1L).otherwise(0L)),
        sum(when(ok, $"id_a" * 1000003L + $"id_b").otherwise(0L))).head())
      val survivors = exact.join(cands.where(ok).select($"id_b".as("id")), Seq("id"), "left_anti")
      val packed = Packing.packSequences(survivors, $"id", $"ntok", budget, seed)
      val pk = longs(packed.agg(count(lit(1)), sum("seq_id"), sum("seq_offset"),
        sum($"id" * $"seq_id"), sum($"id" * $"seq_offset"), max("seq_id")).head())
      (exact, cands, packed, ex ++ mh ++ pk)
    }
    val verified = truePairs.filter(_._3 >= verifyAt)
    val trueAggs = Seq(keepIds.size.toLong, keepIds.sum, keepIds.toSeq.map(i => i * i).sum,
      truePairs.size.toLong, verified.size.toLong, verified.toSeq.map(p => p._1 * 1000003L + p._2).sum,
      truePack.size.toLong, truePack.values.map(_._1).sum, truePack.values.map(_._2).sum,
      truePack.map { case (i, p) => i * p._1 }.sum, truePack.map { case (i, p) => i * p._2 }.sum,
      truePack.values.map(_._1).max)
    val sc = spark.sparkContext
    try {
      for (aqe <- Seq("true", "false"))
        withConf("spark.sql.adaptive.enabled" -> aqe, "spark.sql.shuffle.partitions" -> "8") {
          val before = sc.getPersistentRDDs.keySet.toSet
          val ((exact, cands, packed, aggs), jobs) = jobsDuring(chain())
          assert(sc.getPersistentRDDs.keySet.toSet == before, s"AQE $aqe: the chain cached an RDD")
          if (aqe == "true") assert(jobs <= 18, s"$jobs jobs")
          assert(aggs == trueAggs, s"AQE $aqe")
          assert(exact.select("id").as[Long].collect().toSet == keepIds, s"AQE $aqe")
          assert(cands.as[(Long, Long, Double)].collect().toSet == truePairs, s"AQE $aqe")
          assert(packed.select("id", "seq_id", "seq_offset").as[(Long, Long, Long)].collect()
            .map(r => r._1 -> (r._2, r._3)).toMap == truePack, s"AQE $aqe")
          // the lazy formulation of the same chain: a semi-join on the
          // min id per text, and the anti-join on the verified pairs
          val in = spark.read.parquet(s"$dir/corpus").select("id", "text", "ntok")
          val lazyKept = in.join(in.groupBy("text").agg(min("id").as("__keep")),
            $"id" === $"__keep", "left_semi")
          val lazySurvivors = lazyKept.join(
            cands.where($"est_jaccard" >= verifyAt).select($"id_b".as("id")), Seq("id"), "left_anti")
          assert(lazySurvivors.select("id").as[Long].collect().toSet == truePack.keySet, s"AQE $aqe")
        }
    } finally {
      val fs = new java.io.File(dir)
      def rm(f: java.io.File): Unit = { Option(f.listFiles).foreach(_.foreach(rm)); f.delete() }
      rm(fs)
    }
  }
}

class WinnowSpec extends SparkSpec {
  import spark.implicits._
  import graft.operators.Dedup

  test("winnow: guarantee, short-doc fallback, shift invariance, determinism") {
    // k=8, w=4: any shared run of >= k+w-1 = 11 normalized chars must
    // share a selected fingerprint hash
    val shared = "the quick brown fox jumps"
    val docs = Seq(
      (1L, s"AAA $shared zebra ends here"),
      (2L, s"completely different prefix text $shared"),
      (3L, "unrelated content with nothing in common at all"),
      (4L, "tiny"),            // < k normalized chars -> no grams
      (5L, "ninechars")        // 9 chars: k <= len < k+w-1 -> 1 window
    ).toDF("doc_id", "text")
    val fp = Dedup.winnowFingerprints(docs, $"doc_id", $"text")
      .as[(Long, Int, Int, String)].collect().map(r => r._1 -> r).toMap
    assert(fp(4L)._2 == 0 && fp(4L)._3 == 0, s"short doc: ${fp(4L)}")
    assert(fp(5L)._2 == 2 && fp(5L)._3 == 1, s"sub-window doc: ${fp(5L)}")
    // shift invariance: the shared run is at different offsets in 1 and
    // 2, so the match must come from position-stripped hashes
    val pairs = Dedup.winnowPairs(docs, $"doc_id", $"text", minShared = 2)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(pairs == Set((1L, 2L)), s"pairs: $pairs")
    // determinism across partitionings
    val fp2 = Dedup.winnowFingerprints(docs.repartition(7), $"doc_id", $"text")
      .as[(Long, Int, Int, String)].collect().map(r => r._1 -> r).toMap
    assert(fp == fp2)
  }

  test("winnow property: a planted common run >= k+w-1 always shares a fingerprint") {
    // the winnowing guarantee (Schleimer et al. §2): 30 random doc
    // pairs, each sharing one planted run of >= 11 normalized chars in
    // otherwise-random text at random offsets
    val rnd = new scala.util.Random(42)
    def randStr(n: Int) = (0 until n).map(_ => ('a' + rnd.nextInt(26)).toChar).mkString
    val rows = (0 until 30).flatMap { i =>
      val shared = randStr(11 + rnd.nextInt(20))
      Seq((2L * i, s"${randStr(rnd.nextInt(40))} $shared ${randStr(rnd.nextInt(40))}"),
        (2L * i + 1, s"${randStr(rnd.nextInt(40))} $shared ${randStr(rnd.nextInt(40))}"))
    }
    val pairs = Dedup.winnowPairs(rows.toDF("doc_id", "text"),
      $"doc_id", $"text", minShared = 1, maxPostings = 0)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    val missing = (0 until 30).map(i => (2L * i, 2L * i + 1)).filterNot(pairs.contains)
    assert(missing.isEmpty, s"guarantee violated for planted pairs: $missing")
  }

  test("winnow: hot-gram posting cap drops boilerplate pairs") {
    // 20 docs all sharing one boilerplate sentence plus a planted
    // near-dup pair with unique shared content
    val boiler = "standard legal disclaimer text appended to all documents"
    val docs = ((1 to 20).map(i => (i.toLong, s"unique body number $i $boiler")) :+
      (100L, "very specific shared passage alpha") :+
      (101L, "also very specific shared passage alpha here")).toDF("doc_id", "text")
    val capped = Dedup.winnowPairs(docs, $"doc_id", $"text",
      minShared = 2, maxPostings = 5)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    // boilerplate grams sit in ~20 postings -> dropped by the cap;
    // the planted pair's grams are in 2 postings -> kept
    assert(capped.contains((100L, 101L)), s"planted pair lost: $capped")
    assert(!capped.exists { case (a, b) => a <= 20 && b <= 20 },
      s"boilerplate quadratic pairs survived the cap: ${capped.take(5)}")
  }
}

class SimilaritySpec extends SparkSpec {
  import spark.implicits._

  private lazy val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")

  test("randomProjectMicro: one-hot exactness, linearity, JL distance preservation") {
    // one-hot e_i projects to exactly 1e6 * sign(i, j)
    val oneHot = Seq((0L, Array.tabulate(16)(i => if (i == 3) 1.0f else 0.0f)))
      .toDF("vec_id", "embedding")
    val got = Similarity.randomProjectMicro(oneHot, $"vec_id", $"embedding", 16, 4)
      .select("component", "score_micro").as[(Int, Long)].collect().toMap
    (0 until 4).foreach { j =>
      assert(got(j) == 1000000L * Similarity.rpSign(3, j, 4, 42L), s"j=$j ${got(j)}")
    }
    // exact integer linearity: P(a+b) = P(a) + P(b) in micro units
    val a = Array.tabulate(16)(i => (i % 5 - 2) * 0.25f)
    val b = Array.tabulate(16)(i => (i % 3 - 1) * 0.125f)
    val ab = a.zip(b).map { case (x, y) => x + y }
    val three = Seq((0L, a), (1L, b), (2L, ab)).toDF("vec_id", "embedding")
    val p = Similarity.randomProjectMicro(three, $"vec_id", $"embedding", 16, 4)
      .as[(Long, Int, Long)].collect()
      .groupBy(_._1).map { case (k, v) => k -> v.sortBy(_._2).map(_._3).toSeq }
    assert(p(2L) == p(0L).zip(p(1L)).map { case (x, y) => x + y },
      s"${p(2L)} vs ${p(0L)} + ${p(1L)}")
    // JL: on the real corpus, 64->16 projections preserve relative
    // distances within a loose factor (sanity, not a proof)
    val sample = emb.limit(20)
    val proj = Similarity.randomProjectMicro(sample, $"vec_id", $"embedding", 64, 16)
      .groupBy("id").agg(collect_list(struct($"component", $"score_micro")).as("p"))
      .select($"id", expr("transform(array_sort(p), x -> x.score_micro)").as("pv"))
      .as[(Long, Seq[Long])].collect().toMap
    val orig = sample.select($"vec_id", $"embedding").as[(Long, Seq[Float])].collect().toMap
    def d2(x: Seq[Double], y: Seq[Double]) =
      x.zip(y).map { case (a1, b1) => (a1 - b1) * (a1 - b1) }.sum
    val ids = orig.keys.toSeq.sorted.take(10)
    for (i <- ids; j <- ids if i < j) {
      val od = d2(orig(i).map(_.toDouble), orig(j).map(_.toDouble))
      // scale: micro units and sqrt(dOut=16) normalization -> od * 1e12 * 16
      val pd = d2(proj(i).map(_.toDouble), proj(j).map(_.toDouble)) / (1e12 * 16)
      if (od > 1e-9)
        assert(pd / od > 0.2 && pd / od < 5.0, s"JL distortion out of band: $pd / $od")
    }
  }

  test("cosine expression matches manual computation") {
    val df = Seq((Array(1.0f, 0.0f), Array(0.0f, 1.0f)), (Array(1.0f, 1.0f), Array(1.0f, 1.0f)))
      .toDF("a", "b")
    val sims = df.select(Similarity.cosine($"a", $"b").as("c")).as[Double].collect()
    assert(math.abs(sims(0)) < 1e-12)
    assert(math.abs(sims(1) - 1.0) < 1e-12)
  }

  test("brute-force topk returns k best, self excluded") {
    val q = emb.filter($"vec_id" < 3)
    val res = Similarity.bruteForceTopK(emb, q, $"vec_id", $"embedding", $"vec_id", $"embedding", k = 5)
    val grouped = res.groupBy("query_id").count().as[(Long, Long)].collect().toMap
    assert(grouped.size == 3 && grouped.values.forall(_ == 5))
    assert(res.filter($"query_id" === $"corpus_id").count() == 0)
    // ranks ordered by cosine desc
    val r0 = res.filter($"query_id" === 0).orderBy($"rank").select("cosine").as[Double].collect()
    assert(r0.sliding(2).forall(w => w(0) >= w(1) - 1e-12))
  }

  test("signSignature packs sign bits; hammingTopK ranks by distance with id tie-break") {
    import org.apache.spark.sql.functions.col
    // bit i = vec[i+1] > 0 (strict: 0.0 and negatives clear)
    val one = Seq(Tuple1(Array(1.0f, -1.0f, 0.0f, 2.0f))).toDF("v")
    val sig = one.select(Similarity.signSignature(col("v"), 4).as("s")).as[Long].head()
    assert(sig == 9L, s"expected 0b1001, got $sig") // bits 0 and 3
    // hand-built corpus: signatures 0b0001, 0b0011, 0b0111, 0b1111
    def vec(bits: Int): Array[Float] =
      Array.tabulate(4)(i => if ((bits & (1 << i)) != 0) 1.0f else -1.0f)
    val corpus = Seq((1L, vec(1)), (3L, vec(3)), (7L, vec(7)), (15L, vec(15)))
      .toDF("id", "v")
    val queries = Seq((100L, vec(1))).toDF("id", "v")
    val res = Similarity.hammingTopK(corpus, queries,
        col("id"), col("v"), col("id"), col("v"), k = 4, nBits = 4)
      .orderBy("rank")
      .select("corpus_id", "hamming", "rank").as[(Long, Int, Int)].collect()
    // distances from 0b0001: id1=0, id3=1, id7=2, id15=3
    assert(res.toSeq == Seq((1L, 0, 1), (3L, 1, 2), (7L, 2, 3), (15L, 3, 4)), res.toSeq.toString)
    // tie-break: two corpus rows at equal distance rank by id asc
    val tied = Seq((20L, vec(3)), (10L, vec(3))).toDF("id", "v")
    val t = Similarity.hammingTopK(tied, queries, col("id"), col("v"),
        col("id"), col("v"), k = 2, nBits = 4)
      .orderBy("rank").select("corpus_id").as[Long].collect()
    assert(t.toSeq == Seq(10L, 20L))
    // full-width 63-bit signature on the real embeddings: reproducible
    val s1 = emb.select(Similarity.signSignature(col("embedding")).as("s")).as[Long].collect()
    val s2 = emb.select(Similarity.signSignature(col("embedding")).as("s")).as[Long].collect()
    assert(s1.toSeq == s2.toSeq && s1.exists(_ != 0L))
  }

  test("hammingPairs: banded search reproduces the exact radius join (pigeonhole recall)") {
    import org.apache.spark.sql.functions._
    // md5-bit vectors (fully distinct signatures) + planted near-dups
    val base = spark.range(200L)
      .selectExpr("id", "concat(md5(CAST(id AS STRING)), md5(concat(CAST(id AS STRING), 'x'))) AS h")
      .selectExpr("id",
        "transform(sequence(1, 63), j -> instr('0123456789abcdef', substring(h, j, 1)) - 8.5) AS v")
    val planted = base.filter(col("id") < 30)
      .select((col("id") + 1000).as("id"),
        expr("transform(v, (x, i) -> CASE WHEN i < 2 THEN -x ELSE x END)").as("v"))
    val all = base.select("id", "v").unionAll(planted)
    val banded = Similarity.hammingPairs(all, col("id"), col("v"), maxDist = 4)
      .select("id_a", "id_b", "hamming").as[(Long, Long, Int)].collect().toSet
    // brute force over the same signatures
    val sigs = all.select(col("id"), Similarity.signSignature(col("v")).as("s"))
      .as[(Long, Long)].collect()
    val brute = (for {
      (ia, sa) <- sigs; (ib, sb) <- sigs if ia < ib
      h = java.lang.Long.bitCount(sa ^ sb) if h <= 4
    } yield (ia, ib, h)).toSet
    assert(banded == brute, s"banded ${banded.size} vs brute ${brute.size}")
    assert(brute.size >= 30, "planted pairs must be present")
  }

  test("hammingPairsWide: word-aligned banding reproduces the exact radius join") {
    import org.apache.spark.sql.functions.col
    // plant guaranteed in-radius pairs (exact copies, distance 0) on
    // top of whatever the natural distribution yields
    val base0 = emb.limit(200).select(col("vec_id"), col("embedding"))
    val sub = base0.unionAll(base0.filter(col("vec_id") < 20)
      .select((col("vec_id") + 5000).as("vec_id"), col("embedding")))
    val banded = Similarity.hammingPairsWide(sub, col("vec_id"), col("embedding"),
        maxDist = 5, bitsPerWord = 8)
      .select("id_a", "id_b", "hamming").as[(Long, Long, Int)].collect().toSet
    val sigs = sub.select(col("vec_id"),
        Similarity.hyperplaneSignatureWide(col("embedding"), 6, 8).as("s"))
      .as[(Long, Seq[Long])].collect()
    val brute = (for {
      (ia, sa) <- sigs; (ib, sb) <- sigs if ia < ib
      h = sa.zip(sb).map { case (x, y) => java.lang.Long.bitCount(x ^ y) }.sum if h <= 5
    } yield (ia, ib, h)).toSet
    assert(banded == brute, s"banded ${banded.size} vs brute ${brute.size}")
    assert(brute.nonEmpty, "the radius must capture some pairs for this test to mean anything")
  }

  test("bench workload parity pin: hamming_topk generator at 100k matches the oracle values") {
    // the bench harness compares TIMES only, so the hamming_topk_10m
    // recipe's value parity is pinned here: the DuckDB oracle
    // (Bench operatorOracles at range(100000)) returns (200, 3257, 1100)
    import org.apache.spark.sql.functions._
    def vecs(m: Long) = spark.range(m)
      .selectExpr("id", "concat(md5(CAST(id AS STRING)), md5(concat(CAST(id AS STRING), 'x'))) AS h")
      .selectExpr("id",
        "transform(sequence(1, 63), j -> instr('0123456789abcdef', substring(h, j, 1)) - 8.5) AS v")
    val r = Similarity.hammingTopK(vecs(100000L), vecs(20L),
        col("id"), col("v"), col("id"), col("v"), k = 10)
      .agg(count(lit(1)), sum("hamming"), sum("rank")).collect()(0)
    assert((r.getLong(0), r.getLong(1), r.getLong(2)) == ((200L, 3257L, 1100L)), r.toString)
  }

  test("ann pairs recall vs brute force at high threshold") {
    val brute = emb.as("a").crossJoin(emb.as("b"))
      .filter($"a.vec_id" < $"b.vec_id")
      .withColumn("cos", Similarity.cosine($"a.embedding", $"b.embedding"))
      .filter($"cos" >= 0.95)
      .select($"a.vec_id", $"b.vec_id").as[(Long, Long)].collect().toSet
    val ann = Similarity.annPairs(emb, $"vec_id", $"embedding", threshold = 0.95,
      numPlanes = 12, numTables = 6)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    // every ann pair is a true pair (exact verify), recall is decent
    assert(ann.subsetOf(brute))
    if (brute.nonEmpty) {
      val recall = ann.size.toDouble / brute.size
      assert(recall >= 0.5, s"ANN recall too low: $recall (${ann.size}/${brute.size})")
    }
  }

  test("dedupByEmbedding keeps min-id survivors, drops every pair's higher id") {
    val dropped = Similarity.annPairs(emb, $"vec_id", $"embedding", threshold = 0.35,
      numPlanes = 10, numTables = 6)
      .select("id_b").as[Long].collect().toSet
    val survivors = Similarity.dedupByEmbedding(emb, $"vec_id", $"embedding",
      threshold = 0.35, numPlanes = 10, numTables = 6)
      .select("vec_id").as[Long].collect().toSet
    val all = emb.select("vec_id").as[Long].collect().toSet
    assert(survivors == all -- dropped)
  }

  test("int8 quantization: range, roundtrip error bound, zero-vector guard") {
    import org.apache.spark.sql.functions._
    val df = emb.withColumn("__s", Similarity.int8Scale($"embedding"))
      .withColumn("__q", Similarity.quantizeInt8($"embedding", $"__s"))
      .withColumn("__d", Similarity.dequantizeInt8($"__q", $"__s"))
    // quantized values stay in int8 range
    assert(df.filter(exists($"__q", q => abs(q) > 127)).count() == 0)
    // max dequantization error <= scale/2 (round-to-nearest)
    val bad = df.withColumn("__err",
        aggregate(zip_with($"embedding", $"__d", (a, b) => abs(a.cast("double") - b)),
          lit(0.0), (m, e) => greatest(m, e)))
      .filter($"__err" > $"__s" * 0.5 + lit(1e-12))
    assert(bad.count() == 0)
    // zero vector: guard keeps scale positive, q all zero
    val z = Seq(Seq.fill(4)(0.0f)).toDF("embedding")
      .withColumn("__s", Similarity.int8Scale($"embedding"))
      .withColumn("__q", Similarity.quantizeInt8($"embedding", $"__s"))
      .collect()(0)
    assert(z.getDouble(1) > 0 && z.getSeq[Byte](2).forall(_ == 0))
  }

  test("topk_by_score aggregate equals row_number window, ties included") {
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.functions._
    // engineered ties: score has only 7 distinct values over 500 rows, so
    // the (score desc, id asc) tie-break is exercised heavily
    val df = spark.range(500).select(
      (col("id") % 20).as("g"), col("id"),
      ((col("id") * 37 % 7).cast("double") / 7.0).as("score"))
    val w = Window.partitionBy("g").orderBy(col("score").desc, col("id").asc)
    val viaWindow = df.withColumn("rnk", row_number().over(w)).filter(col("rnk") <= 5)
      .select("g", "id", "score", "rnk")
      .as[(Long, Long, Double, Int)].collect().toSet
    val viaAgg = df.groupBy("g")
      .agg(Similarity.topKByScore(col("score"), col("id"), 5).as("tk"))
      .select(col("g"), posexplode(col("tk")))
      .select(col("g"), col("col.id"), col("col.score"), (col("pos") + lit(1)).as("rnk"))
      .as[(Long, Long, Double, Int)].collect().toSet
    assert(viaAgg == viaWindow)
    // SQL registration works too
    df.createOrReplaceTempView("tk_in")
    val viaSql = spark.sql(
      """SELECT g, e.id AS id, e.score AS score, pos + 1 AS rnk
         FROM (SELECT g, topk_by_score(score, id, 5) AS tk FROM tk_in GROUP BY g)
         LATERAL VIEW posexplode(tk) AS pos, e""")
      .as[(Long, Long, Double, Int)].collect().toSet
    assert(viaSql == viaWindow)
  }

  test("topk_by_score fuzz: random scores/groups/k match the window plan") {
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.functions._
    val rnd = new scala.util.Random(42L)
    for (k <- Seq(1, 4, 17)) {
      val rows = Seq.fill(800)((rnd.nextInt(12).toLong, rnd.nextLong().abs % 1000,
        // heavy ties + negatives + exact duplicates
        (rnd.nextInt(9) - 4).toDouble / (1 + rnd.nextInt(3))))
      val df = rows.toDF("g", "id", "score")
      val w = Window.partitionBy("g").orderBy(col("score").desc, col("id").asc)
      val viaWindow = df.dropDuplicates("g", "id")
        .withColumn("rnk", row_number().over(w)).filter(col("rnk") <= k)
        .select("g", "id", "score", "rnk")
        .as[(Long, Long, Double, Int)].collect().toSet
      val viaAgg = df.dropDuplicates("g", "id").groupBy("g")
        .agg(Similarity.topKByScore(col("score"), col("id"), k).as("tk"))
        .select(col("g"), posexplode(col("tk")))
        .select(col("g"), col("col.id"), col("col.score"), (col("pos") + lit(1)).as("rnk"))
        .as[(Long, Long, Double, Int)].collect().toSet
      assert(viaAgg == viaWindow, s"k=$k diff=${(viaAgg -- viaWindow).take(3)}")
    }
  }

  test("bruteForceTopK window fallback for non-integral ids matches agg semantics") {
    import org.apache.spark.sql.functions._
    val named = emb.select(concat(lit("doc-"), format_string("%04d", $"vec_id")).as("name"),
      $"embedding")
    val qs = named.filter($"name" < "doc-0003")
    val res = Similarity.bruteForceTopK(named, qs, $"name", $"embedding", $"name", $"embedding", k = 5)
    val viaLong = Similarity.bruteForceTopK(emb, emb.filter($"vec_id" < 3),
      $"vec_id", $"embedding", $"vec_id", $"embedding", k = 5)
      .select($"query_id", $"corpus_id", $"rank").as[(Long, Long, Int)].collect().toSet
    val viaString = res.select($"query_id", $"corpus_id", $"rank")
      .as[(String, String, Int)].collect()
      .map { case (q, c, r) => (q.stripPrefix("doc-").toLong, c.stripPrefix("doc-").toLong, r) }.toSet
    assert(viaString == viaLong)
  }

  test("ivf topk: probed search recalls most brute-force neighbors, deterministic") {
    val cent = emb.filter($"vec_id" % 25 === 0)
    val qs = emb.filter($"vec_id" < 20)
    def run() = Similarity.ivfTopK(emb, qs, cent,
      $"vec_id", $"embedding", $"vec_id", $"embedding", $"vec_id", $"embedding",
      k = 5, nprobe = 3)
    val ivf = run().select("query_id", "corpus_id").as[(Long, Long)].collect().toSet
    assert(ivf == run().select("query_id", "corpus_id").as[(Long, Long)].collect().toSet)
    assert(ivf.groupBy(_._1).size == 20 && ivf.groupBy(_._1).values.forall(_.size == 5))

    val brute = Similarity.bruteForceTopK(emb, qs,
      $"vec_id", $"embedding", $"vec_id", $"embedding", k = 5)
      .select("query_id", "corpus_id").as[(Long, Long)].collect().toSet
    val recall = ivf.intersect(brute).size.toDouble / brute.size
    // 3 of 20 lists probed (15% of the corpus scanned per query)
    assert(recall >= 0.4, s"IVF recall too low: $recall")
  }

  test("pq encode/topk: codes bounded, self-coding, exact vs independent replication") {
    // sf0.001 has 50 vectors: %5 gives a 10-entry codebook
    val cbDf = emb.filter($"vec_id" % 5 === 0)
    val qs = emb.filter($"vec_id" < 10)
    val cb = Similarity.pqCodebook(cbDf, $"vec_id", $"embedding", m = 8)
    assert(cb.length == 8 && cb.forall(_.length == cb.head.length))
    val nCodes = cb.head.length

    val codes = emb.select($"vec_id", Similarity.pqEncode($"embedding", cb).as("c"))
      .as[(Long, Seq[Int])].collect()
    assert(codes.forall(_._2.length == 8))
    assert(codes.forall(_._2.forall(c => c >= 0 && c < nCodes)))
    // a codebook member encodes to its own code in every subspace
    val cbIds = cbDf.select($"vec_id").as[Long].collect().sorted
    val self = codes.toMap.apply(cbIds(3))
    assert(self.forall(_ == 3), s"codebook vector 3 encoded as $self")

    def run() = Similarity.pqTopK(emb, qs, cbDf,
      $"vec_id", $"embedding", $"vec_id", $"embedding", $"vec_id", $"embedding",
      m = 8, k = 5)
    val pq = run().select("query_id", "corpus_id", "adc", "rank")
      .as[(Long, Long, Double, Int)].collect().toSet
    assert(pq == run().select("query_id", "corpus_id", "adc", "rank")
      .as[(Long, Long, Double, Int)].collect().toSet) // deterministic
    assert(pq.groupBy(_._1).size == 10 && pq.groupBy(_._1).values.forall(_.size == 5))

    // independent replication of the whole ADC pipeline in driver-side
    // scala over the collected vectors (same rounding contract)
    val vecs = emb.select($"vec_id", $"embedding").as[(Long, Seq[Float])].collect().toMap
    def r6(d: Double) = math.rint(d * 1e6) / 1e6
    def sub(v: Seq[Float], s: Int): Array[Double] =
      Array.tabulate(8)(j => v(s * 8 + j).toDouble)
    def l2(a: Array[Double], b: Array[Double]): Double = {
      var d = 0.0; var i = 0
      while (i < a.length) { val x = a(i) - b(i); d += x * x; i += 1 }
      d
    }
    def encode(v: Seq[Float]): Array[Int] = Array.tabulate(8) { s =>
      (0 until nCodes).minBy(c => (r6(l2(sub(v, s), cb(s)(c))), c))
    }
    val expected = (for {
      (qid, qv) <- vecs.toSeq if qid < 10
    } yield {
      val scored = vecs.toSeq.filter(_._1 != qid).map { case (cid, cv) =>
        val cds = encode(cv)
        val adc = r6((0 until 8).map(s => r6(l2(sub(qv, s), cb(s)(cds(s))))).sum)
        (cid, adc)
      }.sortBy { case (cid, adc) => (adc, cid) }.take(5)
      scored.zipWithIndex.map { case ((cid, adc), i) => (qid, cid, adc, i + 1) }
    }).flatten.toSet
    assert(pq == expected,
      s"missing=${(expected -- pq).take(5)} extra=${(pq -- expected).take(5)}")
  }

  test("ivf-pq: routing containment, ADC consistency with pqTopK, deterministic") {
    val cbDf = emb.filter($"vec_id" % 5 === 0)
    val qs = emb.filter($"vec_id" < 10)
    def run() = Similarity.ivfPqTopK(emb, qs, cbDf, cbDf,
      $"vec_id", $"embedding", $"vec_id", $"embedding",
      $"vec_id", $"embedding", $"vec_id", $"embedding",
      m = 8, k = 5, nprobe = 4)
    val got = run().select("query_id", "corpus_id", "adc", "rank")
      .as[(Long, Long, Double, Int)].collect()
    assert(got.toSet == run().select("query_id", "corpus_id", "adc", "rank")
      .as[(Long, Long, Double, Int)].collect().toSet) // deterministic
    assert(got.groupBy(_._1).size == 10 && got.groupBy(_._1).values.forall(_.size == 5))

    // routing containment: every retrieved corpus row's assigned list is
    // one of its query's probed lists
    val (cids, cvecs) = Similarity.centroidArrays(cbDf, $"vec_id", $"embedding")
    val assigned = emb.select($"vec_id",
      element_at(Similarity.nearestCentroids($"embedding", cvecs, cids, 1), 1).as("cid"))
      .as[(Long, Long)].collect().toMap
    val probed = qs.select($"vec_id",
      Similarity.nearestCentroids($"embedding", cvecs, cids, 4).as("p"))
      .as[(Long, Seq[Long])].collect().toMap
    got.foreach { case (q, c, _, _) =>
      assert(probed(q).contains(assigned(c)), s"corpus $c (list ${assigned(c)}) not in probes of $q")
    }

    // ADC consistency: the same (query, corpus) pair scores identically
    // in pqTopK (which scans the whole corpus)
    val pqAll = Similarity.pqTopK(emb, qs, cbDf,
      $"vec_id", $"embedding", $"vec_id", $"embedding", $"vec_id", $"embedding",
      m = 8, k = 499) // full corpus: every candidate pair gets an adc
      .select("query_id", "corpus_id", "adc").as[(Long, Long, Double)].collect()
      .map(t => (t._1, t._2) -> t._3).toMap
    got.foreach { case (q, c, adc, _) =>
      assert(pqAll((q, c)) == adc, s"adc mismatch for ($q, $c)")
    }
  }

  test("ivf-pq retrieves only own-cluster members on separable data with nprobe=1") {
    val rows = for (cl <- 0 until 10; mem <- 0 until 20) yield {
      val base = Array.tabulate(64)(d => ((cl * 64 + d) * 2654435761L % 97).toFloat / 10.0f)
      base(mem % 64) += 0.3f
      (cl * 100L + mem, base.toSeq)
    }
    val df = rows.toDF("vec_id", "embedding")
    val centers = (0 until 10).map { cl =>
      (cl.toLong, Array.tabulate(64)(d => ((cl * 64 + d) * 2654435761L % 97).toFloat / 10.0f).toSeq)
    }.toDF("vec_id", "embedding")
    val qs = df.filter($"vec_id" % 100 === 7)
    val res = Similarity.ivfPqTopK(df, qs, centers, centers,
      $"vec_id", $"embedding", $"vec_id", $"embedding",
      $"vec_id", $"embedding", $"vec_id", $"embedding",
      m = 8, k = 5, nprobe = 1)
      .select("query_id", "corpus_id").as[(Long, Long)].collect()
    assert(res.nonEmpty)
    assert(res.forall { case (q, c) => q / 100 == c / 100 },
      s"cross-cluster retrievals: ${res.filter { case (q, c) => q / 100 != c / 100 }.take(5).toSeq}")
  }

  test("pq topk recalls cluster neighbors on separable data") {
    // 10 well-separated cluster centers, 20 members each with a small
    // one-dim perturbation; codebook = the centers. ADC must rank a
    // query's own cluster members first.
    val rows = for (cl <- 0 until 10; mem <- 0 until 20) yield {
      val base = Array.tabulate(64)(d => ((cl * 64 + d) * 2654435761L % 97).toFloat / 10.0f)
      base(mem % 64) += 0.3f
      (cl * 100L + mem, base.toSeq)
    }
    val df = rows.toDF("vec_id", "embedding")
    val centers = (0 until 10).map { cl =>
      (cl.toLong, Array.tabulate(64)(d => ((cl * 64 + d) * 2654435761L % 97).toFloat / 10.0f).toSeq)
    }.toDF("vec_id", "embedding")
    val qs = df.filter($"vec_id" % 100 === 0) // one query per cluster
    val res = Similarity.pqTopK(df, qs, centers,
      $"vec_id", $"embedding", $"vec_id", $"embedding", $"vec_id", $"embedding",
      m = 8, k = 5)
      .select("query_id", "corpus_id").as[(Long, Long)].collect()
    // every retrieved neighbor comes from the query's own cluster
    val sameCluster = res.count { case (q, c) => q / 100 == c / 100 }
    assert(sameCluster.toDouble / res.length >= 0.95,
      s"cluster recall ${sameCluster.toDouble / res.length}")
  }

  test("semdedup: planted near-dup found within its cluster, min-id survivor kept") {
    // 3 separable blobs (seeds span blobs via id % 3 layout) plus a
    // planted almost-copy of id 3 (blob 0's second member) at id 90
    // 8 members per blob, each perturbing a DISTINCT dim (mem == dim)
    // so intra-blob cosines stay ~0.99997 — under the 0.99999 gate —
    // while the planted copy of id 3 sits at ~1.0
    val rows = (for (cl <- 0 until 3; mem <- 0 until 8) yield {
      val base = Array.tabulate(8)(d => ((cl * 8 + d) * 2654435761L % 97).toFloat / 100.0f)
      base(mem) += 0.01f
      (mem * 3L + cl, base.toSeq)
    }) :+ {
      val near = Array.tabulate(8)(d => ((0 * 8 + d) * 2654435761L % 97).toFloat / 100.0f)
      near(1) += 0.0101f // vs id 3's +0.01 in dim 1
      (90L, near.toSeq)
    }
    val df = rows.toDF("vec_id", "embedding")
    val pairs = Similarity.semanticPairs(df, $"vec_id", $"embedding",
      k = 3, iters = 2, threshold = 0.99999)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(pairs == Set((3L, 90L)), s"expected exactly the planted pair: $pairs")
    val kept = Similarity.semanticDedup(df, $"vec_id", $"embedding",
      k = 3, iters = 2, threshold = 0.99999)
      .select("vec_id").as[Long].collect().toSet
    assert(kept.contains(3L) && !kept.contains(90L), "min-id survivor policy violated")
    assert(kept.size == rows.size - pairs.size, s"${kept.size} survivors for ${pairs.size} pairs")
  }

  test("centroidOutliersMicro: brute-force parity with negative coords, ranking scale-invariance") {
    // 2 groups, negative components (the division-free d2 exists
    // precisely because floor-div of negative sums differs per engine)
    val rows = (0 until 40).map { i =>
      val g = i % 2
      val v = Array.tabulate(4)(d => ((i * 13 + d * 7) % 21 - 10) / 10.0)
      (i.toLong, g, v.toSeq)
    }
    val df = rows.toDF("id", "g", "v")
    val got = Similarity.centroidOutliersMicro(df, $"id", $"v", $"g", k = 3)
      .select("grp", "id", "rank").as[(Int, Long, Int)].collect().toSet
    // brute force: exact rational distance ranking via scaled integers
    val byG = rows.groupBy(_._2)
    val expect = byG.flatMap { case (g, rs) =>
      val n = rs.size
      val micro = rs.map { case (id, _, v) => (id, v.map(x => math.round(x * 1e6))) }
      val sums = micro.map(_._2).transpose.map(_.sum)
      micro.map { case (id, vm) =>
        val d2 = vm.zip(sums).map { case (x, s) => val t = x * n - s; t * t }.sum
        (g, id, d2)
      }.sortBy { case (_, id, d2) => (-d2, id) }.take(3).zipWithIndex
        .map { case ((gg, id, _), r) => (gg, id, r + 1) }
    }.toSet
    assert(got == expect, s"missing=${expect -- got} extra=${got -- expect}")
  }

  test("kmeans: hand-checked Lloyd run on 1-D data, exact integer fixed point") {
    // points 0.0, 0.2, 1.0, 1.2 (micro 0, 200000, 1000000, 1200000);
    // seeds = two smallest ids -> c0=[0], c1=[200000].
    // iter1 assign: 0->c0; 0.2->c1; 1.0,1.2->c1.
    //   update: c0=[0], c1=(200000+1000000+1200000)/3=[800000]
    // iter2 assign: 0->c0, 0.2->c0 (|200000-0| < |200000-800000|),
    //   1.0,1.2->c1; update: c0=[100000], c1=[1100000]
    // final assign: 0,0.2 -> c0; 1.0,1.2 -> c1
    val df = Seq((0L, Seq(0.0f)), (1L, Seq(0.2f)), (2L, Seq(1.0f)), (3L, Seq(1.2f)))
      .toDF("vec_id", "embedding")
    val got = Similarity.kmeansMicro(df, $"vec_id", $"embedding", k = 2, iters = 2)
      .as[(Long, Int)].collect().toMap
    assert(got == Map(0L -> 0, 1L -> 0, 2L -> 1, 3L -> 1), got.toSeq.sorted)
    val cents = Similarity.kmeansCentroidsMicro(df, $"vec_id", $"embedding", k = 2, iters = 2)
      .as[(Int, Int, Long)].collect().toSet
    assert(cents == Set((0, 0, 100000L), (1, 0, 1100000L)), cents)
  }

  test("kmeans: partitioning-invariant, recovers separable blobs, empty-cluster safe") {
    // id = mem*3 + cl so the k smallest ids (the seeds) span the blobs
    // — deterministic smallest-id seeding is only as good as the id
    // order, exactly like any fixed-seed k-means
    val rows = for (cl <- 0 until 3; mem <- 0 until 30) yield {
      val base = Array.tabulate(8)(d => ((cl * 8 + d) * 2654435761L % 97).toFloat / 100.0f)
      base(mem % 8) += 0.01f
      (mem * 3L + cl, base.toSeq)
    }
    val df = rows.toDF("vec_id", "embedding")
    def run(d: org.apache.spark.sql.DataFrame) =
      Similarity.kmeansMicro(d, $"vec_id", $"embedding", k = 3, iters = 3)
        .as[(Long, Int)].collect().toMap
    val a = run(df)
    assert(a == run(df.repartition(7, $"vec_id")), "partitioning changed the fit")
    // purity: every blob lands in exactly one cluster
    val byBlob = a.groupBy(_._1 % 3).map { case (b, m) => b -> m.values.toSet }
    assert(byBlob.values.forall(_.size == 1), s"impure blobs: $byBlob")
    assert(byBlob.values.toSet.size == 3, s"merged blobs: $byBlob")
    // duplicate seed vectors force an emptied cluster: must not throw,
    // must keep every point assigned
    val dup = Seq((0L, Seq(0.0f, 0.0f)), (1L, Seq(0.0f, 0.0f)), (2L, Seq(1.0f, 1.0f)))
      .toDF("vec_id", "embedding")
    val d2 = Similarity.kmeansMicro(dup, $"vec_id", $"embedding", k = 2, iters = 2)
      .as[(Long, Int)].collect().toMap
    assert(d2.keySet == Set(0L, 1L, 2L) && d2.values.forall(c => c == 0 || c == 1))
  }

  test("pca power iteration: recovers a planted dominant direction, unit norm") {
    // variance concentrated along (1,1,0,...)/sqrt(2): x = t*(1,1,0..0) + noise
    val rnd = new scala.util.Random(7)
    val rows = (0 until 300).map { i =>
      val t = rnd.nextGaussian() * 2.0
      val v = Array.tabulate(8)(d =>
        (t * (if (d < 2) 1.0 else 0.0) + rnd.nextGaussian() * 0.05).toFloat)
      (i.toLong, v.toSeq)
    }
    val df = rows.toDF("vec_id", "embedding")
    val comp = Similarity.topComponentMicro(df, $"embedding", iters = 5)
      .orderBy("dim").as[(Int, Long)].collect().map(_._2 / 1e6)
    val norm = math.sqrt(comp.map(x => x * x).sum)
    assert(math.abs(norm - 1.0) < 1e-3, s"not unit norm: $norm")
    val target = Array.tabulate(8)(d => if (d < 2) 1.0 / math.sqrt(2) else 0.0)
    val dot = math.abs(comp.zip(target).map { case (a, b) => a * b }.sum)
    assert(dot > 0.99, s"planted direction not recovered: dot=$dot comp=${comp.toSeq}")
    // partitioning invariance (integer sums are order-free)
    val again = Similarity.topComponentMicro(df.repartition(7), $"embedding", iters = 5)
      .orderBy("dim").as[(Int, Long)].collect().map(_._2 / 1e6)
    assert(comp.toSeq == again.toSeq)
  }

  test("pca deflation: second component orthogonal, captures the second direction") {
    // two planted orthogonal directions with distinct variance scales:
    // strong along (1,1,0,...)/sqrt2, weaker along (0,0,1,1,0,...)/sqrt2
    val rnd = new scala.util.Random(11)
    val rows = (0 until 400).map { i =>
      val t1 = rnd.nextGaussian() * 3.0
      val t2 = rnd.nextGaussian() * 1.0
      val v = Array.tabulate(8) { d =>
        val a = if (d < 2) t1 else 0.0
        val b = if (d == 2 || d == 3) t2 else 0.0
        (a + b + rnd.nextGaussian() * 0.03).toFloat
      }
      (i.toLong, v.toSeq)
    }
    val df = rows.toDF("vec_id", "embedding")
    val comps = Similarity.topComponentsMicro(df, $"embedding", nComponents = 2, iters = 6)
      .orderBy("component", "dim").as[(Int, Int, Long)].collect()
      .groupBy(_._1).view.mapValues(_.sortBy(_._2).map(_._3 / 1e6)).toMap
    val (c0, c1) = (comps(0), comps(1))
    val ortho = math.abs(c0.zip(c1).map { case (a, b) => a * b }.sum)
    assert(ortho < 0.02, s"components not orthogonal: $ortho")
    val dir2 = Array.tabulate(8)(d => if (d == 2 || d == 3) 1.0 / math.sqrt(2) else 0.0)
    val dot2 = math.abs(c1.zip(dir2).map { case (a, b) => a * b }.sum)
    assert(dot2 > 0.98, s"second direction not recovered: dot=$dot2 c1=${c1.toSeq}")
    // projections: component-0 scores track t1 (sign-invariant corr)
    val compArr = Array(comps(0).map(x => math.round(x * 1e6)), comps(1).map(x => math.round(x * 1e6)))
    val proj = Similarity.projectMicro(df, $"vec_id", $"embedding", compArr)
      .filter($"component" === 0).select("id", "score_micro")
      .as[(Long, Long)].collect().toMap
    assert(proj.size == 400 && proj.values.exists(_ != 0L))
  }

  test("standardize: hand-computed z-scores, zero-variance dim maps to 0") {
    // dim0: values 1,3 -> mean 2, sigma 1; dim1: constant 5 -> sigma 0
    val df = Seq((1L, Seq(1.0f, 5.0f)), (2L, Seq(3.0f, 5.0f)))
      .toDF("vec_id", "embedding")
    val moments = Similarity.groupMomentsMicro(df, lit(0), $"embedding")
    val z = df.select($"vec_id",
      Similarity.standardize(df, $"embedding", moments).as("z"))
      .as[(Long, Seq[Double])].collect().toMap
    assert(z(1L) == Seq(-1.0, 0.0) && z(2L) == Seq(1.0, 0.0), z)
    // standardized corpus has mean 0 / variance 1 per live dim
    val zdf = df.select(Similarity.standardize(df, $"embedding", moments).as("embedding"))
    val m2 = Similarity.groupMomentsMicro(zdf, lit(0), $"embedding")
      .orderBy("dim").collect()
    assert(m2(0).getLong(3) == 0L, "mean not centered") // sum_micro dim0
  }

  test("kmeans: convergence variant reaches the exact integer fixed point") {
    val rows = for (cl <- 0 until 3; mem <- 0 until 30) yield {
      val base = Array.tabulate(8)(d => ((cl * 8 + d) * 2654435761L % 97).toFloat / 100.0f)
      base(mem % 8) += 0.01f
      (mem * 3L + cl, base.toSeq)
    }
    val df = rows.toDF("vec_id", "embedding")
    val (fit, used) = Similarity.kmeansConverged(df, $"vec_id", $"embedding",
      k = 3, maxIters = 20)
    assert(used < 20, s"did not converge in 20 updates")
    val got = fit.as[(Long, Int)].collect().toMap
    // the fixed point equals a fixed-iteration fit run for `used` steps
    val fixedIters = Similarity.kmeansMicro(df, $"vec_id", $"embedding",
      k = 3, iters = used).as[(Long, Int)].collect().toMap
    assert(got == fixedIters)
    // and one more update changes nothing
    val more = Similarity.kmeansMicro(df, $"vec_id", $"embedding",
      k = 3, iters = used + 3).as[(Long, Int)].collect().toMap
    assert(got == more, "assignments moved past the claimed fixed point")
  }

}

class SamplingSpec extends SparkSpec {
  import spark.implicits._

  test("weightedPredicate: exact-integer Bernoulli — 0 never, 1e6 always, rate tracks the weight") {
    import org.apache.spark.sql.functions._
    val df = spark.range(20000L).toDF("id")
    assert(df.where(Sampling.weightedPredicate(col("id"), lit(0L))).count() == 0)
    assert(df.where(Sampling.weightedPredicate(col("id"), lit(1000000L))).count() == 20000)
    val kept = df.where(Sampling.weightedPredicate(col("id"), lit(250000L))).count()
    assert(math.abs(kept - 5000L) < 400, s"25% of 20k -> got $kept") // md5-uniform tolerance
    // deterministic: same key set every run
    val a = df.where(Sampling.weightedPredicate(col("id"), lit(250000L))).as[Long].collect().toSet
    val b = df.where(Sampling.weightedPredicate(col("id"), lit(250000L))).as[Long].collect().toSet
    assert(a == b)
  }

  test("tokenBudgetSample: start-offset cut is exact and partition-count independent") {
    import org.apache.spark.sql.functions._
    val docs = spark.range(500L).select(col("id"),
      (lit(1L) + pmod(col("id") * 37, lit(50))).as("tok"))
    val out = Packing.tokenBudgetSample(docs, col("id"), col("tok"), budget = 2000L, seed = 7L)
      .select("id").as[Long].collect().toSet
    // replicate with a driver-side cumsum over the same md5 order
    val ordered = docs.select(col("id"), col("tok"),
        md5(concat_ws(":", lit("7"), col("id").cast("string"))).as("ord"))
      .as[(Long, Long, String)].collect().sortBy(r => (r._3, r._1.toString))
    var acc = 0L
    val expect = ordered.flatMap { case (id, tok, _) =>
      val start = acc; acc += tok
      if (start < 2000L) Some(id) else None
    }.toSet
    assert(out == expect, s"got ${out.size}, expected ${expect.size}")
    // different partitioning, same inclusion (content-stability)
    val out2 = Packing.tokenBudgetSample(docs.repartition(17), col("id"), col("tok"),
      budget = 2000L, seed = 7L).select("id").as[Long].collect().toSet
    assert(out2 == out)
  }

  test("cluster-balanced selection: exactly n per big cluster, all of a small one") {
    // 3 separable blobs sized 40/40/5 (ids laid out so seeds span blobs)
    val rows = (for (cl <- 0 until 3; mem <- 0 until (if (cl == 2) 5 else 40)) yield {
      val base = Array.tabulate(8)(d => ((cl * 8 + d) * 2654435761L % 97).toFloat / 100.0f)
      base(mem % 8) += 0.01f
      (mem * 3L + cl, base.toSeq)
    })
    val df = rows.toDF("vec_id", "embedding")
    val sel = Sampling.clusterBalanced(df, $"vec_id", $"embedding",
      k = 3, iters = 3, n = 10)
      .as[(Long, Int)].collect()
    val byCluster = sel.groupBy(_._2).view.mapValues(_.length).toMap
    assert(byCluster.values.count(_ == 10) == 2 && byCluster.values.count(_ == 5) == 1,
      s"cluster sizes after balancing: $byCluster")
    // content-stable: rerun equals
    val again = Sampling.clusterBalanced(df.repartition(5), $"vec_id", $"embedding",
      k = 3, iters = 3, n = 10).as[(Long, Int)].collect()
    assert(sel.toSet == again.toSet)
  }

  test("hash split: deterministic, partitioning-invariant, roughly proportional, disjoint") {
    val n = 20000
    val df = spark.range(n).toDF("id")
    val tagged = df.select($"id", Sampling.splitTag($"id", 10, 10).as("s"),
      Sampling.hashBucket($"id").as("b"))
    val counts = tagged.groupBy("s").count().as[(String, Long)].collect().toMap
    assert(counts.keySet == Set("train", "val", "test"))
    assert(counts.values.sum == n)
    // ~10% each for val/test (md5 uniformity; generous 3-sigma-ish band)
    assert(math.abs(counts("val") - n / 10.0) < n * 0.02, counts.toString)
    assert(math.abs(counts("test") - n / 10.0) < n * 0.02, counts.toString)
    // repartitioning must not move any row between splits
    val again = df.repartition(13).select($"id", Sampling.splitTag($"id", 10, 10).as("s2"))
    assert(tagged.join(again, "id").filter($"s" =!= $"s2").count() == 0)
    // sample predicate is a superset-consistent bucket cut: 10% ⊂ 25%
    val s10 = df.filter(Sampling.samplePredicate($"id", 10)).as[Long].collect().toSet
    val s25 = df.filter(Sampling.samplePredicate($"id", 25)).as[Long].collect().toSet
    assert(s10.subsetOf(s25))
    assert(math.abs(s25.size - n / 4.0) < n * 0.02)
  }

  test("weightedSampleK: dominant weight always wins, zero never samples, draw is stable") {
    import org.apache.spark.sql.functions._
    val df = (0L until 500L).map(i => (i, if (i == 7L) 1000000000000000L
      else if (i % 50 == 0) 0L else 1000000L)).toDF("id", "w")
    val sel = Sampling.weightedSampleK(df, $"id", $"w", k = 20)
      .select("id", "key_micro").as[(Long, Long)].collect()
    assert(sel.length == 20)
    // weight ratio 1e9 exceeds the bounded Gumbel spread (~17.2 nats):
    // the dominant row is deterministically rank 1
    assert(sel.head._1 == 7L, sel.take(3).mkString(","))
    assert(!sel.exists(s => s._1 % 50 == 0), "zero-weight row sampled")
    val again = Sampling.weightedSampleK(df.repartition(9), $"id", $"w", k = 20)
      .select("id", "key_micro").as[(Long, Long)].collect()
    assert(sel.toSeq == again.toSeq)
  }

  test("weightedSamplePerGroup: exact per-stratum counts, salted draws, rank contract") {
    import org.apache.spark.sql.functions._
    val df = (0L until 300L).map(i => (i, s"g${i % 3}", 1000000L + (i % 7) * 1000L))
      .toDF("id", "grp", "w")
      .unionByName(Seq((999L, "tiny", 1000000L)).toDF("id", "grp", "w"))
    val sel = Sampling.weightedSamplePerGroup(df, $"id", $"grp", $"w", n = 10)
      .select("group", "id", "rank").as[(String, Long, Int)].collect()
    val byG = sel.groupBy(_._1).view.mapValues(_.map(_._3).sorted.toSeq).toMap
    assert(byG.keySet == Set("g0", "g1", "g2", "tiny"))
    Seq("g0", "g1", "g2").foreach(g => assert(byG(g) == (1 to 10), s"$g: ${byG(g)}"))
    assert(byG("tiny") == Seq(1)) // min(n, |stratum|)
    // salting: the same ids drawn in g0 and g1 would mean unsalted uniforms
    val g0 = sel.filter(_._1 == "g0").map(_._2 % 100).toSet
    val g1 = sel.filter(_._1 == "g1").map(_._2 % 100).toSet
    assert(g0 != g1, "per-group draws are correlated — salt missing")
  }

  test("dsir/weighted-sample edges: empty pool, all-zero weights, k > pool") {
    import org.apache.spark.sql.functions._
    // all rows are target -> pool is empty -> no weights, select empty
    val allTgt = Seq((1L, "alpha beta", true), (2L, "gamma", true)).toDF("id", "t", "tgt")
    assert(Sampling.dsirWeights(allTgt, $"id", $"t", $"tgt").count() == 0)
    assert(Sampling.dsirSelect(allTgt, $"id", $"t", $"tgt", k = 5).count() == 0)
    // all-zero weights -> nothing samples; k larger than pool -> all rows
    val w0 = Seq((1L, 0L), (2L, 0L)).toDF("id", "w")
    assert(Sampling.weightedSampleK(w0, $"id", $"w", k = 3).count() == 0)
    val w2 = Seq((1L, 500000L), (2L, 1000000L)).toDF("id", "w")
    assert(Sampling.weightedSampleK(w2, $"id", $"w", k = 10).count() == 2)
  }

  test("dsir: target-like pool docs outweigh off-target ones; select is stable and pool-only") {
    import org.apache.spark.sql.functions._
    // target corpus: "alpha beta" language; pool: half target-like, half noise
    val target = (0 until 30).map(i => (1000L + i, s"alpha beta alpha gamma beta", true))
    val poolLike = (0 until 10).map(i => (i.toLong, s"alpha beta gamma alpha", false))
    val poolNoise = (10 until 20).map(i => (i.toLong, s"zork$i quux$i flarn blort", false))
    val df = (target ++ poolLike ++ poolNoise).toDF("doc_id", "text", "tgt")
    val w = Sampling.dsirWeights(df, $"doc_id", $"text", $"tgt", buckets = 256)
      .as[(Long, Long, Long)].collect().map(r => r._1 -> r._3).toMap
    // only pool rows scored
    assert(w.keySet == (0L until 20L).toSet)
    // every target-like doc outweighs every noise doc
    val likeMin = (0L until 10L).map(w).min
    val noiseMax = (10L until 20L).map(w).max
    assert(likeMin > noiseMax, s"likeMin=$likeMin noiseMax=$noiseMax")
    // ratio table is model-sized and exact-integer
    val ratios = Sampling.dsirLogRatios(df, $"text", $"tgt", buckets = 256)
    assert(ratios.count() <= 256)
    // gumbel top-k: k rows, deterministic under repartitioning
    val sel = Sampling.dsirSelect(df, $"doc_id", $"text", $"tgt", k = 8, buckets = 256)
      .select("id", "key_micro").as[(Long, Long)].collect()
    assert(sel.length == 8)
    val again = Sampling.dsirSelect(df.repartition(7), $"doc_id", $"text", $"tgt",
      k = 8, buckets = 256).select("id", "key_micro").as[(Long, Long)].collect()
    assert(sel.toSeq == again.toSeq)
    // selection favors the target-like half (noise logw is far below;
    // gumbel noise spans ~17 nats so allow a minority of noise draws)
    assert(sel.count(_._1 < 10L) >= 5, sel.mkString(","))
  }

  test("sequenceFunnel: ordered first-touch steps, window bound, strict ordering") {
    import graft.operators.EventOps
    import java.sql.Timestamp
    def ev(u: Long, s: Long, ty: String) = (u, new Timestamp(s * 1000), ty)
    val events = Seq(
      ev(1, 100, "view"), ev(1, 200, "click"), ev(1, 300, "purchase"), // full funnel
      ev(2, 100, "view"), ev(2, 5000, "click"),                        // click outside window
      ev(3, 200, "click"), ev(3, 300, "view"),                         // click BEFORE view: not step 2
      ev(4, 100, "view"), ev(4, 100, "click")                          // same second: strict > fails
    ).toDF("user_id", "ts", "event_type")
    val out = EventOps.sequenceFunnel(events, $"user_id", $"ts", $"event_type",
        Seq("view", "click", "purchase"), withinMs = 1000L * 1000L)
      .orderBy("step_idx").as[(Int, String, Long)].collect()
    assert(out.toSeq == Seq((1, "view", 4L), (2, "click", 1L), (3, "purchase", 1L)),
      out.mkString(";"))
  }

  test("retentionCohorts: first-period cohorting, offset cap, churn visible") {
    import graft.operators.EventOps
    import java.sql.Timestamp
    val P = 100L * 1000L // 100 s periods
    def ev(u: Long, period: Long) = (u, new Timestamp(period * 100 * 1000), s"e")
    val events = Seq(
      ev(1, 0), ev(1, 1), ev(1, 2),  // cohort 0, retained through k=2
      ev(2, 0), ev(2, 2),            // cohort 0, skips k=1
      ev(3, 1), ev(3, 9),            // cohort 1, k=8 beyond cap
      ev(4, 0)                       // cohort 0, churns immediately
    ).toDF("user_id", "ts", "event_type")
    val out = EventOps.retentionCohorts(events, $"user_id", $"ts", P, maxPeriods = 4)
      .orderBy("cohort_period", "period_offset")
      .as[(Long, Long, Long)].collect().toSeq
    assert(out == Seq((0L, 0L, 3L), (0L, 1L, 1L), (0L, 2L, 2L), (1L, 0L, 1L)),
      out.mkString(";"))
  }

  test("resample: dense grid spans min..max, gaps zero-filled, sums exact, no collect") {
    import graft.operators.EventOps
    import java.sql.Timestamp
    val P = 10L * 1000L // 10 s periods
    def ev(g: String, sec: Long, v: Long) = (g, new Timestamp(sec * 1000), v)
    val events = Seq(
      ev("a", 5, 100), ev("a", 7, 50), // period 0
      ev("a", 45, 7),                  // period 4 (1..3 are gaps)
      ev("b", 12, 9)                   // b only in period 1; 0,2,3,4 gaps
    ).toDF("g", "ts", "v")
    val out = EventOps.resample(events, $"g", $"ts", $"v", P)
      .orderBy("group", "period_start")
      .as[(String, Long, Long, Long)].collect().toSeq
    val expect = Seq(
      ("a", 0L, 2L, 150L), ("a", 10000L, 0L, 0L), ("a", 20000L, 0L, 0L),
      ("a", 30000L, 0L, 0L), ("a", 40000L, 1L, 7L),
      ("b", 0L, 0L, 0L), ("b", 10000L, 1L, 9L), ("b", 20000L, 0L, 0L),
      ("b", 30000L, 0L, 0L), ("b", 40000L, 0L, 0L))
    assert(out == expect, out.mkString(";"))
    // grid is built in-plan (sequence over a 1-row agg), not collected:
    // the whole thing is one DataFrame with no eager action
    val plan = EventOps.resample(events, $"g", $"ts", $"v", P)
      .queryExecution.optimizedPlan.toString
    assert(plan.contains("sequence") || plan.contains("Sequence"), plan)
  }

  test("triangleCounts: hand-checked K4+path, brute-force parity on a random graph") {
    import graft.operators.LinkGraph
    // K4 on {0,1,2,3} (4 triangles; every vertex in 3) + pendant path 3-4-5
    val k4 = for (i <- 0 to 3; j <- 0 to 3 if i < j) yield (i.toLong, j.toLong)
    val edges = (k4 ++ Seq((3L, 4L), (4L, 5L))).toDF("s", "d")
    val got = LinkGraph.triangleCounts(edges, $"s", $"d")
      .as[(Long, Long)].collect().toMap
    assert(got == Map(0L -> 3L, 1L -> 3L, 2L -> 3L, 3L -> 3L), got.toString)

    // pseudo-random multigraph with dupes/self-loops/reversed edges
    val rnd = (0 until 400).map(i => ((i * 17 + 3) % 30L, (i * 29 + 7) % 30L)).toDF("s", "d")
    val gotR = LinkGraph.triangleCounts(rnd, $"s", $"d")
      .as[(Long, Long)].collect().toMap
    val und = rnd.filter($"s" =!= $"d")
      .select(least($"s", $"d").as("a"), greatest($"s", $"d").as("b")).distinct()
    val e1 = und.select($"a".as("x"), $"b".as("y"))
    val e2 = und.select($"a".as("y"), $"b".as("z"))
    val e3 = und.select($"a".as("x"), $"b".as("z"))
    val brute = e1.join(e2, "y").join(e3, Seq("x", "z"))
      .select(explode(array($"x", $"y", $"z")).as("v"))
      .groupBy("v").agg(count(lit(1)).as("n"))
      .as[(Long, Long)].collect().toMap
    assert(brute.nonEmpty && gotR == brute, s"got=$gotR brute=$brute")
  }

  test("labelPropagation: hand-checked synchronous rounds, triangle converges, path oscillates") {
    import graft.operators.LinkGraph
    import org.apache.spark.sql.functions.col
    // path 1-2-3 plus triangle 10-11-12
    val edges = Seq((1L, 2L), (2L, 3L), (10L, 11L), (11L, 12L), (10L, 12L))
      .toDF("s", "d")
    def labelsAt(r: Int) = LinkGraph.labelPropagation(edges, col("s"), col("d"), rounds = r)
      .as[(Long, Long)].collect().toMap
    // round 1: v2 ties {1,3} -> 1; triangle: 10<-11, 11<-10, 12<-10
    assert(labelsAt(1) == Map(1L -> 2L, 2L -> 1L, 3L -> 2L, 10L -> 11L, 11L -> 10L, 12L -> 10L))
    // round 3: the triangle has converged to label 10; the 2-coloring
    // of the path keeps oscillating (classic synchronous-LPA behavior)
    assert(labelsAt(3) == Map(1L -> 2L, 2L -> 1L, 3L -> 2L, 10L -> 10L, 11L -> 10L, 12L -> 10L))
    // rounds = 0 is the identity labeling
    assert(labelsAt(0) == Map(1L -> 1L, 2L -> 2L, 3L -> 3L, 10L -> 10L, 11L -> 11L, 12L -> 12L))
  }

  test("kCore: triangle+tail, path cascade, clique core, empty core") {
    import graft.operators.LinkGraph
    import org.apache.spark.sql.functions.col
    // triangle 1-2-3 with a tail 3-4: 2-core = the triangle
    val g1 = Seq((1L, 2L), (2L, 3L), (1L, 3L), (3L, 4L)).toDF("s", "d")
    val c1 = LinkGraph.kCore(g1, col("s"), col("d"), k = 2)
      .as[(Long, Long)].collect().toMap
    assert(c1 == Map(1L -> 2L, 2L -> 2L, 3L -> 2L), c1.toString)
    // path of 7: k=2 peels one endpoint layer per round (the
    // maxRounds-is-a-cascade-depth case) and ends empty
    val path = (1L until 7L).map(i => (i, i + 1)).toDF("s", "d")
    assert(LinkGraph.kCore(path, col("s"), col("d"), k = 2).count() == 0L)
    // capped rounds return the partial peel (superset of the core):
    // endpoints 1/7 removed, degrees re-measured in what remains
    val partial = LinkGraph.kCore(path, col("s"), col("d"), k = 2, maxRounds = 1)
      .as[(Long, Long)].collect().toMap
    assert(partial == Map(2L -> 1L, 3L -> 2L, 4L -> 2L, 5L -> 2L, 6L -> 1L), partial.toString)
    // K5 with a pendant: 4-core = K5 at degree 4
    val k5 = (for (i <- 1L to 5L; j <- (i + 1) to 5L) yield (i, j)) :+ ((5L, 99L))
    val c5 = LinkGraph.kCore(k5.toDF("s", "d"), col("s"), col("d"), k = 4)
      .as[(Long, Long)].collect().toMap
    assert(c5 == (1L to 5L).map(_ -> 4L).toMap, c5.toString)
    // k above the max degree: empty
    assert(LinkGraph.kCore(g1, col("s"), col("d"), k = 5).count() == 0L)
  }

  test("pageRankMicro: exact integer iteration, hand-checked, partitioning-invariant") {
    import graft.operators.LinkGraph
    // a->b, a->c, b->c, c->a; deg(a)=2. After one iteration at d=85%:
    // b: 0.15e9 + 85*(1e9/2)/100          = 575_000_000
    // c: 0.15e9 + 85*(1e9/2 + 1e9)/100    = 1_425_000_000
    // a: 0.15e9 + 85*1e9/100              = 1_000_000_000
    val edges = Seq((1L, 2L), (1L, 3L), (2L, 3L), (3L, 1L)).toDF("s", "d")
    val r1 = LinkGraph.pageRankMicro(edges, $"s", $"d", iterations = 1)
      .as[(Long, Long)].collect().toMap
    assert(r1 == Map(1L -> 1000000000L, 2L -> 575000000L, 3L -> 1425000000L), r1.toString)
    // exact integers: repartitioned input yields bit-identical ranks at depth 5
    val a = LinkGraph.pageRankMicro(edges, $"s", $"d", iterations = 5)
      .as[(Long, Long)].collect().toMap
    val b = LinkGraph.pageRankMicro(edges.repartition(7), $"s", $"d", iterations = 5)
      .as[(Long, Long)].collect().toMap
    assert(a == b)
    // total mass is conserved up to the dangling leak (none here: every
    // vertex has outlinks), so the sum stays near N * base
    assert(math.abs(a.values.sum - 3000000000L) <= 3)
  }

  test("fixedSizePerGroup: exact n per group, content-stable, salted") {
    val df = spark.range(1000).select($"id",
      concat(lit("g"), ($"id" % 4).cast("string")).as("grp"))
    val s5 = Sampling.fixedSizePerGroup(df, $"id", $"grp", 5)
    val counts = s5.groupBy("grp").count().as[(String, Long)].collect().toMap
    assert(counts.values.toSet == Set(5L) && counts.size == 4)
    // rerun on repartitioned input selects the SAME rows
    val again = Sampling.fixedSizePerGroup(df.repartition(13), $"id", $"grp", 5)
    assert(s5.exceptAll(again).count() == 0 && again.exceptAll(s5).count() == 0)
    // n larger than the group returns the whole group
    val small = df.filter($"id" < 3)
    assert(Sampling.fixedSizePerGroup(small, $"id", $"grp", 5).count() == 3)
  }

  test("stratified predicate: per-stratum rates, salted, content-stable") {
    val n = 20000
    val df = spark.range(n).select($"id", concat(lit("s"), ($"id" % 4).cast("string")).as("src"))
    val pred = Sampling.stratifiedPredicate($"id", $"src",
      Seq("s0" -> 100, "s1" -> 50, "s2" -> 0), defaultPct = 25)
    val kept = df.filter(pred)
    val counts = kept.groupBy("src").count().as[(String, Long)].collect().toMap
    val per = n / 4.0
    assert(counts("s0") == per.toLong)                 // 100% keeps everything
    assert(!counts.contains("s2"))                     // 0% keeps nothing
    assert(math.abs(counts("s1") - per * 0.5) < per * 0.06, counts.toString)
    assert(math.abs(counts("s3") - per * 0.25) < per * 0.06, counts.toString)
    // content-stable across repartitioning
    val again = df.repartition(13).filter(pred)
    assert(kept.exceptAll(again).count() == 0 && again.exceptAll(kept).count() == 0)
    // salted per stratum: the same key id sampled under different strata
    // must not be correlated with the unsalted plain-key sample
    val plain = df.filter(Sampling.samplePredicate($"id", 25)).select("id").as[Long].collect().toSet
    val s3 = kept.filter($"src" === "s3").select("id").as[Long].collect().toSet
    assert(s3 != plain.filter(_ % 4 == 3))
  }

  test("mixture: epoch replication + fractional top-up, content-stable, no shuffle") {
    val n = 10000
    val a = spark.range(n).toDF("id")
    val b = spark.range(n, 2 * n).toDF("id")
    val mixed = Sampling.mixture(Seq(("a", a, 2.3), ("b", b, 0.5)), "id")
    val counts = mixed.groupBy("source", "epoch").count()
      .as[(String, Int, Long)].collect().map(t => (t._1, t._2) -> t._3).toMap
    // two full epochs of a, one fractional ~30% epoch
    assert(counts(("a", 0)) == n && counts(("a", 1)) == n)
    assert(math.abs(counts(("a", 2)) - n * 0.3) < n * 0.02, counts.toString)
    assert(math.abs(counts(("b", 0)) - n * 0.5) < n * 0.02, counts.toString)
    assert(!counts.contains(("b", 1)))
    // content-stable: same mixture on repartitioned input
    val again = Sampling.mixture(
      Seq(("a", a.repartition(7), 2.3), ("b", b.repartition(3), 0.5)), "id")
    assert(mixed.exceptAll(again).count() == 0 && again.exceptAll(mixed).count() == 0)
    // plan-level unions of scans: no exchange anywhere
    assert(!mixed.queryExecution.executedPlan.toString.contains("Exchange"))
  }
}

class TextOpsSpec extends SparkSpec {
  import spark.implicits._

  test("stupidBackoff: all three backoff levels hand-checked on a tiny corpus") {
    // unigrams: x:3 y:3 z:2 q:1, N=9; surviving (cnt>=2) bigrams:
    // "x y":3 "y z":2; surviving trigram: "x y z":2
    val docs = Seq((1L, "x y z x y z"), (2L, "x y q")).toDF("id", "t")
    def micro(d: Double) = math.round(d * 1e6)
    // doc1 positions: "x y z" -> ln(2/3); "y z x" -> bigram "z x"
    // pruned -> floor ln(a2*3/9); "z x y" -> bigram path ln(0.4*3/3);
    // "x y z" -> ln(2/3)
    val a2 = 0.4 * 0.4
    val d1 = 2 * micro(math.log(2.0 / 3.0)) +
      micro(math.log(a2 * 3.0 / 9.0)) + micro(math.log(0.4 * 3.0 / 3.0))
    // doc2's single position "x y q": trigram and bigram "y q" pruned
    // -> floor with uni q=1
    val d2 = micro(math.log(a2 * 1.0 / 9.0))
    val got = TextOps.stupidBackoff(docs, $"id", $"t", docs, $"t")
      .select("id", "n_scored", "sb_micro").as[(Long, Long, Long)].collect()
      .map(r => r._1 -> ((r._2, r._3))).toMap
    assert(got(1L) == ((4L, d1)), s"${got(1L)} vs $d1")
    assert(got(2L) == ((1L, d2)), s"${got(2L)} vs $d2")
    // non-broadcast path is value-identical
    val shuffled = TextOps.stupidBackoff(docs, $"id", $"t", docs, $"t",
        broadcastCounts = false)
      .select("id", "sb_micro").as[(Long, Long)].collect().toMap
    assert(shuffled == Map(1L -> d1, 2L -> d2))
  }

  test("char entropy: closed-form values, degenerate text scores low") {
    val df = Seq(
      (1L, "aaaa"),     // H = 0
      (2L, "abab"),     // H = ln 2
      (3L, "abcd"),     // H = ln 4
      (4L, "")          // empty -> 0
    ).toDF("id", "t")
    val got = TextOps.charEntropyMicro(df, $"id", $"t")
      .select("id", "entropy_micro").as[(Long, Long)].collect().toMap
    assert(got(1L) == 0L, got(1L))
    // ln 2 = 0.693147...; each of 2 chars contributes round6(0.5*ln2)
    val half = math.round(0.5 * math.log(2.0) * 1e6)
    assert(got(2L) == 2 * half, s"${got(2L)} vs ${2 * half}")
    val quarter = math.round(0.25 * math.log(4.0) * 1e6)
    assert(got(3L) == 4 * quarter, s"${got(3L)} vs ${4 * quarter}")
    assert(got(4L) == 0L)
    // natural text >> repeated filler
    val real = Seq((1L, "the quick brown fox jumps over the lazy dog"),
      (2L, "xxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxx")).toDF("id", "t")
    val r = TextOps.charEntropyMicro(real, $"id", $"t")
      .select("id", "entropy_micro").as[(Long, Long)].collect().toMap
    assert(r(1L) > 5 * r(2L), r)
  }

  test("normalizeText: NFC composition, control strip, whitespace collapse") {
    // "e" + combining acute (U+0301) must compose to U+00E9
    val decomposed = "caf" + "e\u0301"
    val composed = "caf\u00e9"
    val df = Seq(
      (1L, decomposed),
      (2L, composed),
      (3L, "a\u0001b\u0007c"), // control chars strip
      (4L, "  lots   of\t\twhitespace  "),
      (5L, "keep\nnewlines\nintact")
    ).toDF("id", "t")
    val got = df.select($"id", TextOps.normalizeText($"t").as("n"))
      .as[(Long, String)].collect().toMap
    assert(got(1L) == composed && got(1L) == got(2L),
      s"NFC: ${got(1L).codePoints().toArray.toSeq}")
    assert(got(3L) == "abc", got(3L))
    assert(got(4L) == "lots of whitespace", got(4L))
    assert(got(5L) == "keep\nnewlines\nintact", got(5L))
  }

  test("linear classifier apply: bucket-sum score, sigmoid, bias on empty docs") {
    import graft.operators.Sampling
    // weights w(b) = b so the score equals the sum of token buckets —
    // independently recomputable via Sampling.hashBucket
    val w = Array.tabulate(64)(_.toLong)
    val docs = Seq((1L, "alpha beta gamma"), (2L, ""), (3L, "alpha alpha"))
      .toDF("doc_id", "text")
    val got = TextOps.linearTextScore(docs, $"doc_id", $"text", w, biasMicro = 7L)
      .select("id", "n_tok", "score_micro", "label")
      .as[(Long, Int, Long, Boolean)].collect().map(r => r._1 -> r).toMap
    val bucketOf = Seq("alpha", "beta", "gamma").map { t =>
      t -> spark.range(1).select(Sampling.hashBucket(lit(t), 64)).as[Long].collect()(0)
    }.toMap
    assert(got(1L)._3 == 7L + bucketOf("alpha") + bucketOf("beta") + bucketOf("gamma"))
    assert(got(2L) == ((2L, 0, 7L, true)), s"empty doc: ${got(2L)}")
    assert(got(3L)._3 == 7L + 2 * bucketOf("alpha"))
    // negative score -> label false, prob < 0.5
    val neg = TextOps.linearTextScore(docs, $"doc_id", $"text",
      Array.fill(64)(-1000000L), biasMicro = 0L)
      .filter($"id" === 1).select("label", "prob").as[(Boolean, Double)].collect()(0)
    assert(!neg._1 && neg._2 < 0.5)
  }

  test("collocations: pmi ranks bound pairs over chance pairs, minCount prunes") {
    // "new york" always co-occurs (bound); "the" pairs with everything
    val docs = (1 to 10).flatMap(i => Seq(
      (i.toLong * 2, s"the visit to new york was number $i"),
      (i.toLong * 2 + 1, s"the report about new york and the city"))).toDF("doc_id", "text")
    val got = TextOps.collocations(docs, $"text", minCount = 3, k = 10)
      .select("w1", "w2", "pmi_micro").as[(String, String, Long)].collect()
    val pmiOf = got.map(r => (r._1, r._2) -> r._3).toMap
    assert(pmiOf.contains(("new", "york")), s"bound pair missing: ${got.toSeq}")
    // bound pair outranks a function-word pair
    val looser = pmiOf.filterKeys(p => p._1 == "the" || p._2 == "the")
    assert(looser.values.forall(_ < pmiOf(("new", "york"))),
      s"'new york' not on top: ${got.toSeq}")
    // minCount prunes: a pair occurring < 3 times never appears
    assert(!pmiOf.contains(("was", "number")) || pmiOf.size <= 10)
    val rare = TextOps.collocations(docs, $"text", minCount = 100, k = 10)
    assert(rare.count() == 0)
  }

  test("phrase search: consecutive positions, multi-occurrence, repeated terms") {
    val docs = Seq(
      (1L, "spark shuffle hash join beats sort merge join sometimes"),
      (2L, "join hash is not hash join reversed"),
      (3L, "hash hash join twice hash join again"),
      (4L, "hashjoin as one token does not match"),
      (5L, "tail ends with hash")).toDF("doc_id", "text")
    val got = TextOps.phraseSearch(docs, $"doc_id", $"text", "hash join")
      .as[(Long, Int, Int)].collect().map(r => r._1 -> (r._2, r._3)).toMap
    assert(got == Map(1L -> (1, 2), 2L -> (1, 4), 3L -> (2, 1)), got)
    // three-term phrase
    val three = TextOps.phraseSearch(docs, $"doc_id", $"text", "sort merge join")
      .as[(Long, Int, Int)].collect()
    assert(three.toSeq == Seq((1L, 1, 5)), three.toSeq)
    // repeated term in the phrase
    val rep = TextOps.phraseSearch(docs, $"doc_id", $"text", "hash hash join")
      .as[(Long, Int, Int)].collect()
    assert(rep.toSeq == Seq((3L, 1, 0)), rep.toSeq)
    assert(TextOps.phraseSearch(docs, $"doc_id", $"text", "absent phrase").count() == 0)
  }

  test("inverted index: ordered positions, tf, df dials prune both tails") {
    val docs = Seq(
      (1L, "alpha beta alpha gamma"),
      (2L, "beta beta delta"),
      (3L, "alpha delta")).toDF("doc_id", "text")
    val full = TextOps.invertedIndex(docs, $"doc_id", $"text")
    val a1 = full.filter($"term" === "alpha" && $"doc_id" === 1)
      .select($"tf", $"positions").as[(Long, Seq[Int])].collect()(0)
    assert(a1 == ((2L, Seq(0, 2))), a1)
    assert(full.count() == 7) // alpha x2, beta x2, gamma x1, delta x2 postings
    // df: alpha 2, beta 2, gamma 1, delta 2 — minDf drops gamma,
    // maxDf=1 would keep only gamma
    val pruned = TextOps.invertedIndex(docs, $"doc_id", $"text", minDf = 2, maxDf = 2)
    assert(pruned.select("term").distinct().as[String].collect().toSet ==
      Set("alpha", "beta", "delta"))
    val onlyRare = TextOps.invertedIndex(docs, $"doc_id", $"text", maxDf = 1)
    assert(onlyRare.select("term").distinct().as[String].collect().toSet == Set("gamma"))
    // collect_list order is partitioning-dependent; sort_array must fix it
    val re = TextOps.invertedIndex(docs.repartition(5), $"doc_id", $"text")
      .filter($"term" === "alpha" && $"doc_id" === 1)
      .select($"positions").as[Seq[Int]].collect()(0)
    assert(re == Seq(0, 2))
  }

  test("bm25: closed-form replication, idf ordering, tf saturation, length norm") {
    // corpus: "cat" appears in 1/4 docs (rare), "dog" in 3/4 (common)
    val docs = Seq(
      (1L, "cat dog bird"),          // tf(cat)=1, dl=3
      (2L, "dog dog fish lizard"),   // tf(dog)=2, dl=4
      (3L, "dog fish"),              // tf(dog)=1, dl=2
      (4L, "fish fish fish fish")    // dl=4
    ).toDF("doc_id", "text")
    val qs = Seq((1L, "cat dog")).toDF("query_id", "query_text")
    val got = TextOps.bm25TopK(docs, $"doc_id", $"text", qs, $"query_id", $"query_text", k = 4)
      .select("doc_id", "score_micro", "rank").as[(Long, Long, Int)].collect()
      .map(r => r._1 -> (r._2, r._3)).toMap
    // closed-form: T=13, N=4
    val (bigT, n) = (13L, 4L)
    def idfM(df: Long) = math.round(math.log((n - df + 0.5) / (df + 0.5) + 1.0) * 1e6)
    def ts(idf: Long, tf: Long, dl: Long) =
      math.round(idf.toDouble * (22L * tf * bigT).toDouble /
        (10L * tf * bigT + 3L * bigT + 9L * dl * n).toDouble)
    val exp = Map(
      1L -> (ts(idfM(1), 1, 3) + ts(idfM(3), 1, 3)), // cat + dog
      2L -> ts(idfM(3), 2, 4),
      3L -> ts(idfM(3), 1, 2),
      4L -> 0L)
    // doc 4 matches nothing -> absent from results
    assert(!got.contains(4L), s"unmatched doc retrieved: $got")
    assert(got.view.mapValues(_._1).toMap == exp.filter(_._2 > 0),
      s"scores: got=$got exp=$exp")
    // rare "cat" outweighs everything: doc 1 first despite tf(dog)=2 in doc 2
    assert(got(1L)._2 == 1, s"idf ordering broken: $got")
    // length normalization: same tf(dog)=1 would rank shorter doc 3 over doc 1's
    // dog term alone; with saturation, doc 2 (tf=2, dl=4) vs doc 3 (tf=1, dl=2)
    assert(got(2L)._1 > ts(idfM(3), 1, 4), "tf saturation lost the second occurrence")
  }

  test("pii detection counts + typed redaction") {
    val df = Seq(
      ("mail me at a.b+c@test.org or admin@sub.example.co.uk thanks", 2, 0, 0, 0, 0),
      ("see https://ex.org/p?q=1 and http://plain.net", 0, 2, 0, 0, 0),
      ("ssn 123-45-6789 here", 0, 0, 1, 0, 0),
      ("host 192.168.0.1 and 10.0.255.7", 0, 0, 0, 2, 0),
      ("call (555) 123-4567 or 555.987.6543 today", 0, 0, 0, 0, 2),
      ("clean text without identifiers", 0, 0, 0, 0, 0)
    ).toDF("t", "e", "u", "s", "i", "p")
    val got = df.select(
      TextOps.emailCount($"t"), TextOps.urlCount($"t"), TextOps.ssnCount($"t"),
      TextOps.ipv4Count($"t"), TextOps.phoneCount($"t"), TextOps.hasPii($"t"),
      $"e", $"u", $"s", $"i", $"p").collect()
    got.foreach { r =>
      assert((r.getInt(0), r.getInt(1), r.getInt(2), r.getInt(3), r.getInt(4)) ==
        (r.getInt(6), r.getInt(7), r.getInt(8), r.getInt(9), r.getInt(10)), r.toString)
      assert(r.getBoolean(5) == (r.getInt(6) + r.getInt(8) + r.getInt(9) + r.getInt(10) > 0))
    }
    val masked = Seq("a@b.io at https://x.io/u?e=c@d.io ssn 123-45-6789 ip 10.0.0.1 call 555-123-4567")
      .toDF("t").select(TextOps.maskPii($"t")).as[String].collect()(0)
    assert(masked == "<EMAIL> at <URL> ssn <SSN> ip <IP> call <PHONE>", masked)
  }

  test("token + subword counts") {
    val df = Seq("hello world  foo", "a b", "").toDF("t")
    val counts = df.select(TextOps.tokenCount($"t").as("c")).as[Int].collect()
    assert(counts(0) == 3 && counts(1) == 2)
    val sub = Seq("don't stop-me now123").toDF("t")
      .select(TextOps.subwordCount($"t").as("c")).as[Int].collect()
    // don + ' + t + stop + - + me + now + 1 + 2 + 3 = 10
    assert(sub(0) == 10)
  }

  test("topTokens: counts, determinism, and the no-global-sort plan") {
    val df = Seq("b a a", "c b a", "").toDF("text")
    val top = TextOps.topTokens(df, $"text", k = 2)
    assert(top.as[(String, Long)].collect().toSeq == Seq(("a", 3L), ("b", 2L)))
    val plan = top.queryExecution.executedPlan.toString
    assert(plan.contains("TakeOrderedAndProject"), plan.take(400))
  }

  test("quality + ratios") {
    val good = "the quick brown fox jumps over the lazy dog and runs for it"
    val bad = "$$$ !!! ### 12345 @@@@ %% ^^ && ** (( ))"
    val df = Seq(good, bad).toDF("t")
    val q = df.select(TextOps.qualityScore($"t").as("q")).as[Double].collect()
    assert(q(0) > 0.7, s"good text scored ${q(0)}")
    assert(q(1) < 0.4, s"garbage scored ${q(1)}")
  }

  test("langId picks stopword language / cjk") {
    val df = Seq(
      "the cat is on the mat and it is happy",
      "der hund ist nicht auf der matte und das ist gut",
      "el gato es una maravilla para la casa y no sale",
      "le chat est dans la maison et les enfants sont pour",
      "这是一个中文句子这是一个中文句子这是一个中文句子").toDF("t")
    val langs = df.select(TextOps.langId($"t").as("l")).as[String].collect()
    assert(langs.toSeq == Seq("en", "de", "es", "fr", "zh"), langs.mkString(","))
  }

  test("applyVocab: ordered id sequences, unk=0, broadcast join") {
    val docs = Seq((1L, "b a c a"), (2L, "zz a"), (3L, "b b b")).toDF("id", "t")
    val vocab = Seq(("a", 1), ("b", 2), ("c", 3)).toDF("token", "tid")
    val out = TextOps.applyVocab(docs, $"id", $"t", vocab)
    val rows = out.collect().map(r => r.getLong(0) ->
      (r.getLong(1), r.getLong(2), r.getSeq[Int](3).toList)).toMap
    assert(rows(1L) == ((4L, 0L, List(2, 1, 3, 1))))   // order preserved
    assert(rows(2L) == ((2L, 1L, List(0, 1))))          // unknown -> 0
    assert(rows(3L) == ((3L, 0L, List(2, 2, 2))))
    assert(out.queryExecution.executedPlan.toString.contains("BroadcastHashJoin"))
    // buildVocab: rank by (count desc, token asc), 1-based dense ids
    val v = TextOps.buildVocab(docs, $"t", k = 3)
      .as[(String, Int)].collect().toMap
    assert(v == Map("b" -> 1, "a" -> 2, "c" -> 3), v.toString)
  }

  test("chunkTokens: window geometry, full coverage, overlap, no shuffle") {
    val text = (1 to 100).map(i => s"w$i").mkString(" ")
    val df = Seq((1L, text), (2L, "short doc"), (3L, (1 to 32).map(i => s"t$i").mkString(" "))).toDF("id", "t")
    val chunks = TextOps.chunkTokens(df, $"id", $"t", chunkSize = 32, stride = 24)
    val byDoc = chunks.collect().groupBy(_.getLong(0))
    // 100 tokens, size 32 stride 24: k = ceil(68/24) = 3 -> 4 windows
    assert(byDoc(1L).length == 4)
    assert(byDoc(2L).length == 1 && byDoc(2L)(0).getInt(2) == 2)
    assert(byDoc(3L).length == 1)   // exactly chunkSize tokens -> one window
    // windows cover every token: union of [k*24, k*24+n_tok) = [0, 100)
    val covered = byDoc(1L).flatMap(r =>
      (r.getInt(1) * 24) until (r.getInt(1) * 24 + r.getInt(2))).toSet
    assert(covered == (0 until 100).toSet)
    // consecutive windows overlap by size - stride = 8 tokens
    val c0 = byDoc(1L).find(_.getInt(1) == 0).get.getString(3).split(" ")
    val c1 = byDoc(1L).find(_.getInt(1) == 1).get.getString(3).split(" ")
    assert(c0.takeRight(8).toSeq == c1.take(8).toSeq)
    // narrow map plan: no exchange
    assert(!chunks.queryExecution.executedPlan.toString.contains("Exchange"))
  }

  test("filterFunnel: running-conjunction survivor counts in one scan") {
    val df = Seq(
      ("aa bb", 10, true), ("cc dd", 5, true), ("ee ff", 10, false), ("gg", 1, true)
    ).toDF("t", "n", "ok")
    val out = TextOps.filterFunnel(df, Seq(
      "s1" -> ($"n" >= 5), "s2" -> $"ok", "s3" -> ($"t".contains("a"))))
    val r = out.collect()(0)
    assert(r.getLong(0) == 4)          // n_total
    assert(r.getLong(1) == 3)          // n>=5
    assert(r.getLong(2) == 2)          // and ok
    assert(r.getLong(3) == 1)          // and contains 'a'
    // monotone non-increasing by construction
    val vals = (0 to 3).map(r.getLong)
    assert(vals == vals.sorted.reverse)
    // one scan: a single aggregate, no joins/unions in the plan
    val plan = out.queryExecution.executedPlan.toString
    assert(!plan.contains("Union") && !plan.contains("Join"), plan)
  }

  test("tfIdfTopTerms: group-distinctive terms outrank ubiquitous ones, k bound, stable") {
    // 'common' appears in every doc (idf ~ 0); 'alpha'/'beta' are
    // group-exclusive and must take rank 1 in their group
    val df = Seq(
      (1L, "g1", "common alpha alpha alpha common"),
      (2L, "g1", "common alpha words here common"),
      (3L, "g2", "common beta beta beta common"),
      (4L, "g2", "common beta words here common")).toDF("id", "grp", "text")
    val top = TextOps.tfIdfTopTerms(df, $"id", $"text", $"grp", k = 3)
      .select("grp", "term", "rank").as[(String, String, Int)].collect()
    assert(top.count(_._1 == "g1") <= 3 && top.count(_._2 == "g2") <= 3)
    assert(top.contains(("g1", "alpha", 1)), top.mkString(";"))
    assert(top.contains(("g2", "beta", 1)), top.mkString(";"))
    // 'common' (df = all docs) scores 0 micro-units: ln(5/5)=0
    assert(!top.exists(t => t._2 == "common" && t._3 == 1))
    // partitioning-invariant (exact integer scoring)
    val again = TextOps.tfIdfTopTerms(df.repartition(7), $"id", $"text", $"grp", k = 3)
      .select("grp", "term", "rank").as[(String, String, Int)].collect()
    assert(top.toSet == again.toSet)
  }
}

class PerceptronSpec extends SparkSpec {
  import spark.implicits._
  import org.apache.spark.sql.functions._

  test("exact-integer batch perceptron: hand-computed separable case") {
    // rows (x=2, y=+1), (x=-3, y=-1) with bias feature:
    // iter1: w=(0,0) -> dot=0 -> pred=-1 for both -> only row1 wrong
    //        -> w = (0+1*1, 0+1*2) = (1, 2)
    // iter2: row1 dot=1+4=5>0 pred=+1 ok; row2 dot=1-6=-5 pred=-1 ok
    //        -> no update; final errors 0
    val df = Seq((2L, 1L), (-3L, -1L)).toDF("x", "y")
    val (w, errs) = TextOps.perceptronFit(df, Seq(lit(1L), col("x")), col("y"), iters = 3)
    assert(w.toSeq == Seq(1L, 2L) && errs == 0L, s"${w.toSeq} errs=$errs")
  }

  test("perceptron: zero iterations returns zero weights; all-ties predict -1") {
    val df = Seq((5L, 1L), (7L, -1L)).toDF("x", "y")
    val (w0, errs0) = TextOps.perceptronFit(df, Seq(col("x")), col("y"), iters = 0)
    // w=0 -> dot=0 -> pred=-1 everywhere -> the y=+1 row is the error
    assert(w0.toSeq == Seq(0L) && errs0 == 1L)
  }

  test("perceptron on real documents: deterministic, and iterations actually move the model") {
    // the lang task is NOT linearly separable in these features, so
    // batch updates oscillate rather than monotonically improve —
    // the operator contract is the EXACT integer recurrence (the gate
    // row certifies it against the unrolled-CTE oracle), not accuracy
    val d = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val feats = Seq(lit(1L), length(col("text")).cast("long"),
      size(regexp_extract_all(col("text"), lit("\\w+"), lit(0))).cast("long"))
    val lbl = when(col("lang") === "en", 1L).otherwise(-1L)
    val (w3a, errsA) = TextOps.perceptronFit(d, feats, lbl, iters = 3)
    val (w3b, errsB) = TextOps.perceptronFit(d, feats, lbl, iters = 3)
    assert(w3a.toSeq == w3b.toSeq && errsA == errsB, "non-deterministic fit")
    val (w1, _) = TextOps.perceptronFit(d, feats, lbl, iters = 1)
    assert(w1.exists(_ != 0L), "first iteration must update the zero model")
    assert(w3a.toSeq != w1.toSeq, "later iterations must keep training")
  }
}

class RepetitionSpec extends SparkSpec {
  import spark.implicits._

  test("duplicate line fraction + top n-gram fraction") {
    val df = Seq(
      (1L, "a b\na b\nc d"),                   // 3 lines, 1 dup
      (2L, "x y x y x y"),                     // bigram 'x y' 3 of 5, 'y x' 2 of 5
      (3L, "all words unique here now"),
      (4L, "")).toDF("id", "text")
    val r = df.select($"id",
        TextOps.duplicateLineFraction($"text").as("dl"),
        TextOps.topNgramFraction($"text", 2).as("t2"))
      .orderBy("id").as[(Long, Double, Double)].collect()
    assert(math.abs(r(0)._2 - 1.0 / 3) < 1e-12)
    assert(math.abs(r(1)._3 - 3.0 / 5) < 1e-12)
    assert(r(2)._2 == 0.0 && math.abs(r(2)._3 - 0.25) < 1e-12)
    assert(r(3)._2 == 0.0 && r(3)._3 == 0.0)
    // SQL registration
    val viaSql = spark.sql(
      "SELECT top_ngram_fraction('x y x y x y', 2) AS f").collect()(0).getDouble(0)
    assert(math.abs(viaSql - 0.6) < 1e-12)
  }
}

class MultimodalSpec extends SparkSpec {
  import spark.implicits._

  test("decodeAndFeaturize contract: schema, determinism, null-safety") {
    val df = Seq(
      (1L, Array[Byte](1, 2, 3, 4, 5, 6, 7, 8)),
      (2L, Array[Byte](9, 9, 9)),
      (3L, null.asInstanceOf[Array[Byte]])).toDF("media_id", "payload")
    val out = Multimodal.decodeAndFeaturize(df, "media_id", "payload", featureDim = 16)
    assert(out.schema == Multimodal.decodedSchema)
    val rows = out.orderBy("media_id").collect()
    assert(rows.length == 3)
    val f1 = rows(0).getSeq[Float](2)
    assert(f1.length == 16)
    // deterministic
    val again = Multimodal.decodeAndFeaturize(df, "media_id", "payload", 16)
      .orderBy("media_id").collect()(0).getSeq[Float](2)
    assert(f1 == again)
    // null payload → empty meta, zero features
    assert(rows(2).getStruct(1).getString(0) == "empty")
  }

  test("audioFrameFeatures: hand-checked PCM frames, 8/16-bit paths, non-WAV yields no rows") {
    // crafted 16-bit mono WAV: known samples -> known energy and
    // zero-crossings, frame boundary does NOT count the cross-pair
    val samples = Array[Int](100, -100, 50, 0, -50, 25, 25, -25, 3)
    val header = Multimodal.wavBytes(8000, 1, 16, samples.length, seed = 0L)
    samples.zipWithIndex.foreach { case (s, k) =>
      val v = if (s < 0) s + 65536 else s
      header(44 + 2 * k) = (v & 0xFF).toByte
      header(44 + 2 * k + 1) = ((v >> 8) & 0xFF).toByte
    }
    val df = Seq((1L, header), (2L, "not audio".getBytes("UTF-8"))).toDF("media_id", "payload")
    val rows = Multimodal.audioFrameFeatures(df, "media_id", "payload", frameSamples = 4)
      .orderBy("media_id", "frame_idx")
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getInt(2), r.getLong(3), r.getInt(4)))
    // frame 0: [100,-100,50,0]   e=22500 zc=2 (100/-100, -100/50; 50->0 no)
    // frame 1: [-50,25,25,-25]   e=4375  zc=2 (cross-frame 0/-50 NOT counted)
    // frame 2: [3]               e=9     zc=0 (tail, n=1)
    assert(rows.toSeq == Seq((1L, 0, 4, 22500L, 2), (1L, 1, 4, 4375L, 2), (1L, 2, 1, 9L, 0)),
      rows.mkString(","))
    // 8-bit path: unsigned center-128; recompute from the builder's filler
    val w8 = Multimodal.wavBytes(8000, 1, 8, 600, seed = 3L)
    val got8 = Multimodal.audioFrameFeatures(Seq((9L, w8)).toDF("media_id", "payload"),
      "media_id", "payload", 256).orderBy("frame_idx")
      .collect().map(r => (r.getInt(2), r.getLong(3), r.getInt(4)))
    val s8 = (0 until 600).map(j => ((j * 7 + 3) & 0xFF) - 128)
    val want8 = s8.grouped(256).map { fr =>
      val zc = fr.sliding(2).count(p => p.length == 2 && p(0) * p(1) < 0)
      (fr.length, fr.map(s => s.toLong * s).sum, zc)
    }.toSeq
    assert(got8.toSeq == want8)
  }

  test("sampleFrames explodes blocks with stride") {
    val payload = Array.fill[Byte](5000)(7)
    val df = Seq((10L, payload)).toDF("media_id", "payload")
    val frames = Multimodal.sampleFrames(df, "media_id", "payload", stride = 2)
    val got = frames.select("frame_no").as[Int].collect().sorted
    assert(got.toSeq == Seq(0, 2, 4)) // 5 blocks, every 2nd
  }

  test("resize keeps schema and is deterministic") {
    val df = Seq((1L, Array[Byte](1, 2, 3))).toDF("id", "payload")
    val out = Multimodal.resize(df, "payload", 32, 32)
    assert(out.schema == df.schema)
    val bytes = out.collect()(0).getAs[Array[Byte]](1)
    assert(bytes.length == math.max(16, 32 * 32 / 256))
  }

  /** Real image payload in `fmt`, `w`x`h`, deterministic gradient. */
  private def imageBytes(fmt: String, w: Int, h: Int): Array[Byte] = {
    val img = new java.awt.image.BufferedImage(w, h,
      java.awt.image.BufferedImage.TYPE_INT_RGB)
    for (x <- 0 until w; y <- 0 until h)
      img.setRGB(x, y, ((x * 37 + y * 101) & 0xFFFFFF))
    val bos = new java.io.ByteArrayOutputStream()
    assert(javax.imageio.ImageIO.write(img, fmt, bos), s"JDK cannot encode $fmt")
    bos.toByteArray
  }

  test("real image decode: PNG/JPEG/BMP/GIF/TIFF metadata through the operator") {
    val df = Seq(
      (1L, imageBytes("png", 48, 32)),
      (2L, imageBytes("jpg", 20, 40)),
      (3L, imageBytes("bmp", 17, 11)),
      (4L, imageBytes("gif", 8, 9)),
      (5L, "just some text, not an image".getBytes("UTF-8")),
      (6L, imageBytes("tiff", 13, 7))).toDF("media_id", "payload")
    val rows = Multimodal.decodeAndFeaturize(df, "media_id", "payload", 8)
      .orderBy("media_id")
      .select("meta.format", "meta.width", "meta.height", "meta.channels").collect()
    assert(rows(0).getString(0) == "png" && rows(0).getInt(1) == 48 && rows(0).getInt(2) == 32)
    assert(rows(1).getString(0) == "jpeg" && rows(1).getInt(1) == 20 && rows(1).getInt(2) == 40)
    assert(rows(2).getString(0) == "bmp" && rows(2).getInt(1) == 17 && rows(2).getInt(2) == 11)
    assert(rows(3).getString(0) == "gif" && rows(3).getInt(1) == 8 && rows(3).getInt(2) == 9)
    assert(rows(0).getInt(3) >= 3) // RGB(A)
    // non-image payload takes the deterministic stub path, not the codec
    assert(Set("jpeg", "png", "webp").contains(rows(4).getString(0)))
    // TIFF: JDK 9+ ships the ImageIO plugin — real decode, not a stub
    assert(rows(5).getString(0) == "tiff" && rows(5).getInt(1) == 13 && rows(5).getInt(2) == 7)
  }

  test("real image features: pooled grayscale grid, solid colors exact") {
    // a solid mid-gray PNG must featurize to all cells == 128/255
    def solid(rgb: Int, w: Int, h: Int): Array[Byte] = {
      val img = new java.awt.image.BufferedImage(w, h,
        java.awt.image.BufferedImage.TYPE_INT_RGB)
      for (x <- 0 until w; y <- 0 until h) img.setRGB(x, y, rgb)
      val bos = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(img, "png", bos); bos.toByteArray
    }
    val df = Seq((1L, solid(0x808080, 32, 32)), (2L, solid(0x000000, 16, 8)),
      (3L, solid(0xFFFFFF, 9, 9))).toDF("media_id", "payload")
    val rows = Multimodal.decodeAndFeaturize(df, "media_id", "payload", 16)
      .orderBy("media_id").select("feature").as[Seq[Float]].collect()
    assert(rows(0).forall(f => math.abs(f - 128f / 255f) < 1e-6), rows(0).take(4).toString)
    assert(rows(1).forall(_ == 0f))
    assert(rows(2).forall(f => math.abs(f - 1f) < 1e-6))
    // gradient image: features vary across cells (not a constant stub)
    val grad = Multimodal.decodeAndFeaturize(
        Seq((9L, imageBytes("png", 64, 64))).toDF("media_id", "payload"),
        "media_id", "payload", 16)
      .select("feature").as[Seq[Float]].head()
    assert(grad.distinct.size > 4, grad.toString)
  }

  test("real image resize: transcode to target dims, PNG re-encode") {
    val df = Seq((1L, imageBytes("png", 64, 48)), (2L, imageBytes("jpg", 100, 100)))
      .toDF("media_id", "payload")
    val out = Multimodal.resize(df, "payload", 16, 12)
    val decoded = Multimodal.decodeAndFeaturize(out, "media_id", "payload", 4)
      .orderBy("media_id").select("meta.format", "meta.width", "meta.height").collect()
    decoded.foreach { r =>
      assert(r.getString(0) == "png" && r.getInt(1) == 16 && r.getInt(2) == 12, r.toString)
    }
  }

  test("real WAV decode: header round-trip through the operator, malformed falls to stub") {
    val wav1 = Multimodal.wavBytes(sampleRate = 16000, channels = 2,
      bitsPerSample = 16, nSamples = 16000) // exactly 1 s stereo 16-bit
    val wav2 = Multimodal.wavBytes(sampleRate = 8000, channels = 1,
      bitsPerSample = 8, nSamples = 2000) // 250 ms mono 8-bit
    val truncated = wav1.take(20) // RIFF magic but no complete fmt chunk
    val df = Seq((1L, wav1), (2L, wav2), (3L, truncated)).toDF("media_id", "payload")
    val rows = Multimodal.decodeAndFeaturize(df, "media_id", "payload", 8)
      .orderBy("media_id")
      .select("meta.format", "meta.width", "meta.height", "meta.channels", "meta.duration_ms")
      .collect()
    assert(rows(0).getString(0) == "wav" && rows(0).getInt(1) == 16000 &&
      rows(0).getInt(2) == 16 && rows(0).getInt(3) == 2 && rows(0).getLong(4) == 1000L)
    assert(rows(1).getString(0) == "wav" && rows(1).getInt(1) == 8000 &&
      rows(1).getInt(2) == 8 && rows(1).getInt(3) == 1 && rows(1).getLong(4) == 250L)
    // malformed header: deterministic stub, never a throw
    assert(Set("jpeg", "png", "webp").contains(rows(2).getString(0)))
  }

  test("WAV decode: truncated data chunk clamps duration to bytes present") {
    val full = Multimodal.wavBytes(16000, 1, 16, 16000) // 1 s mono
    val cut = full.take(44 + 16000) // half the PCM data -> 500 ms
    val r = Multimodal.decodeAndFeaturize(
        Seq((1L, cut)).toDF("media_id", "payload"), "media_id", "payload", 4)
      .select("meta.format", "meta.width", "meta.height", "meta.channels", "meta.duration_ms")
      .head()
    assert((r.getString(0), r.getInt(1), r.getInt(2), r.getInt(3), r.getLong(4)) ==
      (("wav", 16000, 16, 1, 500L)), r.toString)
  }

  test("WAV decode: hostile chunk sizes near 2^31 terminate the walk, fall to stub") {
    // a crafted fmt-chunk size that would wrap an Int cursor negative
    // (r8 ADVICE): the walk must terminate and degrade, never throw
    def hostile(sz: Long): Array[Byte] = {
      val b = Multimodal.wavBytes(16000, 1, 16, 8)
      var i = 0
      while (i < 4) { b(16 + i) = ((sz >> (8 * i)) & 0xFF).toByte; i += 1 }
      b
    }
    // 0x7FFFFFEF is exactly the value the old `sz > Int.MaxValue - 16`
    // guard let through into an Int-wrapping `off +=`
    val payloads = Seq(0x7FFFFFEFL, 0x7FFFFFF0L, 0x7FFFFFFFL, 0xFFFFFFFFL, 0x80000000L)
    val df = payloads.zipWithIndex.map { case (sz, i) => (i.toLong, hostile(sz)) }
      .toDF("media_id", "payload")
    val rows = Multimodal.decodeAndFeaturize(df, "media_id", "payload", 4)
      .select("meta.format").collect()
    rows.foreach(r => assert(Set("jpeg", "png", "webp").contains(r.getString(0)), r.toString))
  }

  test("real FLAC decode: STREAMINFO bit-unpack, 36-bit sample counts, malformed to stub") {
    val f1 = Multimodal.flacBytes(44100, 2, 16, 44100L) // 1 s CD stereo
    val f2 = Multimodal.flacBytes(48000, 1, 24, 12000L) // 250 ms mono 24-bit
    // total_samples above 2^32 exercises the 4 high bits in byte 21
    val f3 = Multimodal.flacBytes(8000, 8, 32, (1L << 33) + 8000L)
    val truncated = f1.take(20)
    val df = Seq((1L, f1), (2L, f2), (3L, f3), (4L, truncated)).toDF("media_id", "payload")
    val rows = Multimodal.decodeAndFeaturize(df, "media_id", "payload", 4)
      .orderBy("media_id")
      .select("meta.format", "meta.width", "meta.height", "meta.channels", "meta.duration_ms")
      .collect()
    assert(rows(0).getString(0) == "flac" && rows(0).getInt(1) == 44100 &&
      rows(0).getInt(2) == 16 && rows(0).getInt(3) == 2 && rows(0).getLong(4) == 1000L)
    assert(rows(1).getString(0) == "flac" && rows(1).getInt(1) == 48000 &&
      rows(1).getInt(2) == 24 && rows(1).getInt(3) == 1 && rows(1).getLong(4) == 250L)
    assert(rows(2).getString(0) == "flac" && rows(2).getInt(1) == 8000 &&
      rows(2).getInt(2) == 32 && rows(2).getInt(3) == 8 &&
      rows(2).getLong(4) == ((1L << 33) + 8000L) * 1000L / 8000L)
    assert(Set("jpeg", "png", "webp").contains(rows(3).getString(0)))
  }

  test("real MP3 decode: frame walk, ID3v2 skip, trailing junk, lone-sync rejection") {
    val m1 = Multimodal.mp3Bytes(9, 0, stereo = true, nFrames = 38) // 128k 44100 ~1 s
    val m2 = Multimodal.mp3Bytes(1, 2, stereo = false, nFrames = 10,
      withId3 = true, id3Size = 500) // 32k 32000 mono behind an ID3v2 tag
    // trailing non-frame junk (an ID3v1-like tag) must end the walk cleanly
    val m3 = Multimodal.mp3Bytes(14, 1, stereo = true, nFrames = 5) ++
      Array.fill[Byte](128)(0x54)
    // a lone sync-looking pair in otherwise random bytes: no second
    // witness frame -> must NOT classify as mp3
    val fake = Array.tabulate[Byte](600)(i => ((i * 31 + 5) & 0x7F).toByte)
    fake(100) = 0xFF.toByte; fake(101) = 0xFB.toByte; fake(102) = 0x92.toByte
    val df = Seq((1L, m1), (2L, m2), (3L, m3), (4L, fake)).toDF("media_id", "payload")
    val rows = Multimodal.decodeAndFeaturize(df, "media_id", "payload", 4)
      .orderBy("media_id")
      .select("meta.format", "meta.width", "meta.height", "meta.channels", "meta.duration_ms")
      .collect()
    assert(rows(0).getString(0) == "mp3" && rows(0).getInt(1) == 44100 &&
      rows(0).getInt(2) == 128 && rows(0).getInt(3) == 2 &&
      rows(0).getLong(4) == 38L * 1152 * 1000 / 44100)
    assert(rows(1).getString(0) == "mp3" && rows(1).getInt(1) == 32000 &&
      rows(1).getInt(2) == 32 && rows(1).getInt(3) == 1 &&
      rows(1).getLong(4) == 10L * 1152 * 1000 / 32000)
    assert(rows(2).getString(0) == "mp3" && rows(2).getInt(1) == 48000 &&
      rows(2).getInt(2) == 320 && rows(2).getInt(3) == 2 &&
      rows(2).getLong(4) == 5L * 1152 * 1000 / 48000)
    assert(Set("jpeg", "png", "webp").contains(rows(3).getString(0)),
      s"lone sync must not classify: ${rows(3)}")
  }

  test("videoFrameFeatures: DIB-in-AVI pixels decode closed-form exact") {
    // 4x4 24bpp DIB frames with the deterministic byte formula; the
    // pooled grid at g=4 over a 4x4 source is an identity copy, so
    // every feature cell is the exact ITU-601 integer gray of the
    // formula bytes — recompute it here independently of the decoder
    val w = 4; val h = 4
    val avi = Multimodal.aviBytes(w, h, usPerFrame = 40000L,
      frames = (0 until 3).map(f => ("db", Multimodal.dibBytes(w, h, seed = 100L + f))))
    val df = Seq((7L, avi)).toDF("media_id", "payload")
    val rows = Multimodal.videoFrameFeatures(df, "media_id", "payload", featureDim = 16)
      .orderBy("frame_idx").collect()
    assert(rows.length == 3)
    def expectGray(seed: Long, x: Int, yTop: Int): Int = {
      val stride = (w * 3 + 3) / 4 * 4
      def px(k: Int): Int = ((seed * 31 + k * 7) % 256).toInt
      val base = (h - 1 - yTop) * stride + x * 3
      val (b, g, r) = (px(base), px(base + 1), px(base + 2))
      (r * 299 + g * 587 + b * 114) / 1000
    }
    rows.zipWithIndex.foreach { case (row, f) =>
      assert(row.getInt(1) == f && row.getString(2) == "bmp" &&
        row.getInt(3) == w && row.getInt(4) == h, row.toString)
      val feats = row.getSeq[Float](5)
      assert(feats.length == 16)
      for (y <- 0 until 4; x <- 0 until 4) {
        val got = math.round(feats(y * 4 + x) * 255)
        assert(got == expectGray(100L + f, x, y), s"frame $f cell ($x,$y)")
      }
    }
    // AVI container metadata is real too (avih walk, not the stub)
    val meta = Multimodal.decodeAndFeaturize(df, "media_id", "payload", 4)
      .select("meta.format", "meta.width", "meta.height", "meta.channels",
        "meta.duration_ms").collect()(0)
    assert(meta.getString(0) == "avi" && meta.getInt(1) == 4 && meta.getInt(2) == 4 &&
      meta.getInt(3) == 1 && meta.getLong(4) == 120L, meta.toString)
  }

  test("videoFrameFeatures: MJPEG-in-AVI and MOV sample tables decode real JPEGs") {
    // real JPEG frames (ImageIO-encoded gradient) packed as '00dc'
    // MJPEG chunks and as MOV stsz/stsc/stco samples: both containers
    // must slice out byte-identical frames, and each frame's features
    // must equal poolGray of the standalone JPEG
    def jpegOf(seed: Int): Array[Byte] = {
      val img = new java.awt.image.BufferedImage(32, 24,
        java.awt.image.BufferedImage.TYPE_INT_RGB)
      for (y <- 0 until 24; x <- 0 until 32)
        img.setRGB(x, y, ((x * 8 + seed) << 16) | ((y * 10) << 8) | ((x + y) & 0xFF))
      val bos = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(img, "jpeg", bos)
      bos.toByteArray
    }
    val jpegs = (0 until 4).map(jpegOf)
    val avi = Multimodal.aviBytes(32, 24, 33333L, jpegs.map(("dc", _)))
    val mov = Multimodal.movBytes(32, 24, 600L, 2400L, jpegs)
    val df = Seq((1L, avi), (2L, mov)).toDF("media_id", "payload")
    val rows = Multimodal.videoFrameFeatures(df, "media_id", "payload", featureDim = 16)
      .orderBy("media_id", "frame_idx").collect()
    assert(rows.length == 8, rows.length.toString)
    // expected features: decode each standalone JPEG directly
    val want = jpegs.map { j =>
      Multimodal.decodeAndFeaturize(
        Seq((0L, j)).toDF("media_id", "payload"), "media_id", "payload", 16)
        .collect()(0).getSeq[Float](2)
    }
    rows.foreach { row =>
      val f = row.getInt(1)
      assert(row.getString(2) == "jpeg" && row.getInt(3) == 32 && row.getInt(4) == 24)
      assert(row.getSeq[Float](5) == want(f),
        s"media ${row.getLong(0)} frame $f drifted from the standalone decode")
    }
    // frameStep sampling keeps original indices
    val sampled = Multimodal.videoFrameFeatures(df.filter($"media_id" === 1L),
        "media_id", "payload", featureDim = 16, frameStep = 2)
      .select("frame_idx").as[Int].collect().sorted
    assert(sampled.toSeq == Seq(0, 2))
    // MOV metadata path unchanged: the mvhd/tkhd walk sees this file
    val meta = Multimodal.decodeAndFeaturize(
      Seq((9L, mov)).toDF("media_id", "payload"), "media_id", "payload", 4)
      .select("meta.format", "meta.width", "meta.height", "meta.duration_ms")
      .collect()(0)
    assert(meta.getString(0) == "mp4" && meta.getInt(1) == 32 &&
      meta.getInt(2) == 24 && meta.getLong(3) == 4000L, meta.toString)
    // hostile payloads: truncated AVI / non-video bytes yield no rows
    val hostile = Seq((5L, avi.take(40).toArray), (6L, Array.fill[Byte](64)(3)))
      .toDF("media_id", "payload")
    assert(Multimodal.videoFrameFeatures(hostile, "media_id", "payload").count() == 0)
  }

  test("video parsers: 200-round hostile fuzz never throws, never fabricates frames") {
    // random bytes, valid magics grafted onto garbage, and random
    // truncations/corruptions of VALID containers — the decode
    // fall-through contract says every path degrades to zero rows (or
    // fewer frames), never a task failure
    val rnd = new scala.util.Random(1234)
    val validAvi = Multimodal.aviBytes(4, 4, 40000L,
      (0 until 3).map(f => ("db", Multimodal.dibBytes(4, 4, f))))
    val validMov = Multimodal.movBytes(4, 4, 600L, 1200L,
      (0 until 2).map(f => Multimodal.bmpBytes(4, 4, f)))
    val payloads = (0 until 200).map { i =>
      i % 4 match {
        case 0 => // pure noise
          val b = new Array[Byte](rnd.nextInt(4096)); rnd.nextBytes(b); b
        case 1 => // valid magic + noise tail
          val b = new Array[Byte](16 + rnd.nextInt(512)); rnd.nextBytes(b)
          val magic = if (i % 8 == 1) "RIFF????AVI " else "????ftypisom"
          magic.zipWithIndex.foreach { case (c, j) =>
            if (c != '?') b(j) = c.toByte }
          b
        case 2 => // random truncation of a valid container
          val src = if (i % 8 == 2) validAvi else validMov
          src.take(1 + rnd.nextInt(src.length)).toArray
        case _ => // single-byte corruption of a valid container
          val src = (if (i % 8 == 3) validAvi else validMov).clone()
          src(rnd.nextInt(src.length)) = rnd.nextInt(256).toByte
          src
      }
    }
    payloads.zipWithIndex.foreach { case (p, i) =>
      // must not throw; frame count bounded by the valid originals'
      val frames = Multimodal.videoFrames(p, maxFrames = 64)
      assert(frames.length <= 3, s"fuzz $i fabricated ${frames.length} frames")
    }
    // the full operator paths over the whole fuzz corpus in one pass:
    // frame features AND the metadata decode chain must both survive
    val df = payloads.zipWithIndex.map { case (p, i) => (i.toLong, p) }
      .toDF("media_id", "payload")
    val rows = Multimodal.videoFrameFeatures(df, "media_id", "payload").collect()
    assert(rows.forall(r => r.getInt(3) > 0 && r.getInt(4) > 0),
      "decoded frames must carry real dimensions")
    assert(Multimodal.decodeAndFeaturize(df, "media_id", "payload", 8)
      .count() == payloads.length)
  }
}

class BloomSpec extends SparkSpec {
  import org.apache.spark.sql.functions._
  import graft.operators.Bloom

  private def docsDf(rows: Seq[(Long, String)]) = {
    import spark.implicits._
    rows.toDF("doc_id", "text")
  }

  test("window hashes: kernel identity with Fingerprint (min over windows)") {
    import graft.functions.{Fingerprint, WindowHashes}
    import org.apache.spark.sql.catalyst.expressions.Literal
    import org.apache.spark.sql.catalyst.util.ArrayData
    val rnd = new scala.util.Random(11)
    (0 until 50).foreach { _ =>
      val s = (0 until (8 + rnd.nextInt(60))).map(_ => ('a' + rnd.nextInt(26)).toChar).mkString
      val fp = Fingerprint(Literal(s), 8).eval(null).asInstanceOf[Long]
      val ws = WindowHashes(Literal(s), 8).eval(null).asInstanceOf[ArrayData].toLongArray()
      assert(ws.nonEmpty && ws.min == fp, s"kernel drift on '$s'")
    }
    // shorter than the window -> empty array, Fingerprint's 0 sentinel
    val empty = WindowHashes(Literal("abc"), 8).eval(null).asInstanceOf[ArrayData]
    assert(empty.numElements() == 0)
  }

  test("bloom: no false negatives, discriminative positives, distributed build == local build") {
    val phrase = "the quick brown fox jumps over the lazy dog again and again"
    val bench = docsDf(Seq(1L -> phrase, 2L -> "completely different benchmark sentence with unique words"))
    // doc 10 shares a >=20-char span with bench doc 1; doc 11 shares nothing
    val probe = docsDf(Seq(
      10L -> ("prefix text then " + phrase.substring(4, 40) + " and a suffix"),
      11L -> "zxqvw pltk mnbgh rrtyu eeiop aasdf gghjk llzxc vvbnm qqwer"))
    val out = Bloom.contamination(probe, col("doc_id"), col("text"),
        bench, col("text"), mBits = 1 << 22, kHashes = 5, gram = 20)
      .orderBy("doc_id").collect()
    assert(out.length == 2)
    assert(out(0).getAs[Boolean]("contaminated"), "planted overlap missed (false negative!)")
    assert(!out(1).getAs[Boolean]("contaminated"), "clean doc flagged at 4M bits")
    // self-probe: every bench doc's every gram must hit (Bloom guarantee)
    val self = Bloom.contamination(bench, col("doc_id"), col("text"),
        bench, col("text"), mBits = 1 << 22, kHashes = 5, gram = 20)
      .collect()
    self.foreach { r =>
      assert(r.getAs[Long]("n_hits") == r.getAs[Long]("n_grams"),
        s"false negative on bench self-probe: $r")
    }
    // merge path: a 13-partition build must produce the identical bitset
    val many = docsDf((0L until 200L).map(i => i -> s"document number $i with some repeated filler content block"))
    val one = Bloom.buildBits(many.coalesce(1), col("text"), mBits = 1 << 16, kHashes = 5, gram = 20)
    val dist = Bloom.buildBits(many.repartition(13), col("text"), mBits = 1 << 16, kHashes = 5, gram = 20)
    assert(java.util.Arrays.equals(one, dist), "distributed OR-merge drifted from local build")
  }

  test("bloom positions: in-range, odd-stride double hashing") {
    import graft.functions.BloomKernel
    val rnd = new scala.util.Random(3)
    (0 until 200).foreach { _ =>
      val z = rnd.nextLong()
      val ps = BloomKernel.positions(z, 5, 1 << 17)
      assert(ps.forall(p => p >= 0 && p < (1 << 17)))
      // odd stride => k distinct probe slots whenever k <= table size
      assert(ps.distinct.length == ps.length, s"probe collision for z=$z: ${ps.toSeq}")
    }
  }
}

class CmsSpec extends SparkSpec {
  import org.apache.spark.sql.functions._
  import graft.operators.Sketches

  test("count-min: kernel cell matches engine md5, estimate bounds, distributed == local") {
    import graft.functions.CmsKernel
    // cell position cross-check vs Spark's own md5/conv (independent path)
    for (j <- 0 until 4; w <- Seq("the", "quick", "Fox-42", "ü")) {
      val viaSql = sql1(s"conv(substring(md5('$j:$w'), 1, 8), 16, 10) % 64")
        .toString.toLong.toInt
      assert(CmsKernel.pos(j, w, 64) == viaSql, s"kernel/md5 drift on ($j,$w)")
    }
    import spark.implicits._
    val rnd = new scala.util.Random(5)
    val items = (0 until 5000).map(_ => s"item${rnd.nextInt(80)}")
    val df = items.toDF("w")
    val acc = Sketches.cmsAccounting(df, col("w"), depth = 4, width = 32).collect()
    assert(acc.length == 80)
    val exact = items.groupBy(identity).view.mapValues(_.size.toLong).toMap
    acc.foreach { r =>
      val (it, ne, est) = (r.getString(0), r.getLong(1), r.getLong(2))
      assert(ne == exact(it))
      assert(est >= ne, s"UNDER-estimate on $it: $est < $ne")
    }
    // 80 items in a 4x4096 sketch: collision-free -> estimates exact
    val wide = Sketches.cmsAccounting(df, col("w"), depth = 4, width = 4096).collect()
    wide.foreach(r => assert(r.getLong(2) == r.getLong(1), s"collision at width 4096: $r"))
    // merge path: partitioned build must equal single-partition build
    val one = Sketches.countMin(df.coalesce(1), col("w"), 4, 32)
    val dist = Sketches.countMin(df.repartition(11), col("w"), 4, 32)
    assert(java.util.Arrays.equals(one, dist), "distributed add-merge drifted")
  }
}

class AhoCorasickSpec extends SparkSpec {
  import graft.functions.AhoCorasick

  private def bruteCount(text: String, p: String): Long =
    (0 to text.length - p.length).count(i => text.regionMatches(i, p, 0, p.length)).toLong

  test("aho-corasick: textbook case, overlaps, nesting, randomized brute-force parity") {
    // the classic Aho-Corasick 1975 example
    val ac = AhoCorasick.build(Seq("he", "she", "his", "hers"))
    assert(ac.countAll("ushers").toSeq == Seq(1L, 1L, 0L, 1L))
    // overlapping self-matches and nested patterns
    assert(AhoCorasick.build(Seq("aa")).countAll("aaaa").toSeq == Seq(3L))
    assert(AhoCorasick.build(Seq("order", "or", "rde")).countAll("reorder order")
      .toSeq == Seq(2L, 2L, 2L))
    // randomized: small alphabet forces dense overlap; brute force is truth
    val rnd = new scala.util.Random(17)
    (0 until 40).foreach { _ =>
      val text = (0 until (20 + rnd.nextInt(120))).map(_ => ('a' + rnd.nextInt(3)).toChar).mkString
      val pats = (0 until (2 + rnd.nextInt(6))).map(_ =>
        (0 until (1 + rnd.nextInt(4))).map(_ => ('a' + rnd.nextInt(3)).toChar).mkString).distinct
      val got = AhoCorasick.build(pats).countAll(text)
      pats.zipWithIndex.foreach { case (p, i) =>
        assert(got(i) == bruteCount(text, p), s"pattern '$p' over '$text': ${got(i)}")
      }
    }
  }

  test("blocklist accounting: planted doc, empty-match doc, csv ordering") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val df = Seq((1L, "the shorthand hash"), (2L, "zzz qqq")).toDF("doc_id", "text")
    val out = graft.operators.TextOps.blocklistAccounting(
        df, col("doc_id"), col("text"), Seq("the", "he", "hash", "ash", "or"))
      .orderBy("doc_id").collect()
    // "the shorthand hash": the=1, he=1(inside the), hash=1, ash=1(inside hash), or=1(shorthand)
    assert(out(0).getAs[Long]("n_matches") == 5L, out(0).toString)
    assert(out(0).getAs[Long]("n_pats") == 5L)
    assert(out(0).getAs[String]("pats_csv") == "ash,hash,he,or,the")
    assert(out(1).getAs[Long]("n_matches") == 0L)
    assert(out(1).getAs[String]("pats_csv") == "")
  }
}

class HllSpec extends SparkSpec {
  import org.apache.spark.sql.functions._
  import graft.operators.Sketches

  test("hll: estimate within theory error in the valid regime, partition-invariant registers") {
    import spark.implicits._
    val df = (0 until 5000).map(i => s"unique-item-$i").toDF("w")
    val acc = Sketches.hllAccounting(df, col("w"), b = 6).collect()
    assert(acc.length == 64)
    val est = acc.head.getAs[Long]("est_micro") / 1e6
    val exact = acc.head.getAs[Long]("n_exact")
    assert(exact == 5000)
    // sigma = 1.04/sqrt(64) = 13%; 3-sigma gate
    assert(math.abs(est - 5000) / 5000.0 < 0.39, s"est $est vs 5000")
    // register table is partitioning-invariant (max commutes)
    val r1 = Sketches.hllRegisters(df.coalesce(1), col("w"), 6)
      .orderBy("register").collect().map(_.toSeq).toSeq
    val r2 = Sketches.hllRegisters(df.repartition(17), col("w"), 6)
      .orderBy("register").collect().map(_.toSeq).toSeq
    assert(r1 == r2)
    // duplicates don't move the estimate (cardinality, not frequency)
    val dup = df.unionAll(df).unionAll(df)
    val acc2 = Sketches.hllAccounting(dup, col("w"), 6).collect()
    assert(acc2.head.getAs[Long]("est_micro") == acc.head.getAs[Long]("est_micro"))
  }

  test("hll alpha: published constants and closed form stay rational") {
    assert(Sketches.hllAlpha(64) == (709L, 1000L))
    val (n, d) = Sketches.hllAlpha(1 << 14)
    // 0.7213 / (1 + 1.079/16384) ~= 0.72125
    assert(math.abs(n.toDouble / d - 0.72125) < 1e-4)
  }
}

class CdcSpec extends SparkSpec {
  import org.apache.spark.sql.functions._
  import graft.operators.Dedup

  private def chunks(rows: Seq[(Long, String)]): Map[Long, Seq[(Long, String, Long)]] = {
    import spark.implicits._
    Dedup.contentDefinedChunks(rows.toDF("doc_id", "text"), col("doc_id"), col("text"),
        gram = 16, divisor = 32L)
      .orderBy("doc_id", "chunk_idx").collect()
      .map(r => (r.getAs[Long]("doc_id"),
        (r.getAs[Int]("chunk_idx").toLong, r.getAs[String]("chunk_md5"), r.getAs[Long]("chunk_len"))))
      .groupBy(_._1).view.mapValues(_.map(_._2).toSeq).toMap
  }

  test("cdc: chunks reconstruct the document and boundaries are content-defined") {
    val rnd = new scala.util.Random(23)
    val body = (0 until 2000).map(_ => ('a' + rnd.nextInt(26)).toChar).mkString
    val out = chunks(Seq(1L -> body))
    val cs = out(1L)
    assert(cs.map(_._3).sum == body.length, "chunk lengths must cover the doc exactly")
    assert(cs.map(_._1) == (1L to cs.length), "contiguous 1-based chunk indexes")
    assert(cs.length > 5, s"expected multiple chunks at divisor 32, got ${cs.length}")
    // shift-invariance: prepend an insertion — all chunks strictly after
    // the insertion point must reappear (same md5 multiset suffix)
    val edited = "INSERTED-PREFIX-BLOCK " + body
    val cs2 = chunks(Seq(1L -> edited))(1L)
    val origSet = cs.map(_._2).toSet
    val shared = cs2.map(_._2).count(origSet)
    assert(shared >= cs.length - 2,
      s"insertion destroyed distant chunks: only $shared of ${cs.length} survived")
    // short doc: single chunk, whole-doc md5
    val s = chunks(Seq(2L -> "tiny"))(2L)
    assert(s == Seq((1L, sql1("md5('tiny')").toString, 4L)))
  }
}

class KmvSpec extends SparkSpec {
  import org.apache.spark.sql.functions._
  import graft.operators.Sketches

  test("kmv: bottom-k equals brute-force distinct order statistics, any partitioning") {
    import spark.implicits._
    // duplicates on purpose: every item appears 3x — the sketch must dedup
    val items = (0 until 3).flatMap(_ => (0 until 5000).map(i => s"item-$i"))
    val expected = (0 until 5000).map(i => s"item-$i").distinct
      .map(w => java.lang.Long.parseLong(
        java.security.MessageDigest.getInstance("MD5").digest(w.getBytes("UTF-8"))
          .take(8).map("%02x".format(_)).mkString.take(15), 16))
      .sorted.take(64)
    for (parts <- Seq(1, 7, 32)) {
      val df = items.toDF("w").repartition(parts)
      val got = Sketches.kmvAccounting(df, col("w"), k = 64)
        .orderBy("rank").collect()
      assert(got.map(_.getAs[Long]("h")).toSeq == expected, s"parts=$parts")
      assert(got.forall(_.getAs[Long]("n_kept") == 64L))
      assert(got.forall(_.getAs[Long]("n_exact") == 5000L))
      // estimator sanity: within ~2/sqrt(k) ≈ 25% of truth
      val est = got.head.getAs[Long]("est_micro") / 1e6
      assert(math.abs(est - 5000) / 5000 < 0.25, s"est=$est")
      // integer-exact estimator recomputation
      val kth = expected.last
      val want = (BigInt(63) * BigInt(Sketches.KmvRange) * 1000000 / BigInt(kth)).toLong
      assert(got.head.getAs[Long]("est_micro") == want)
    }
  }

  test("kmv: under-k cardinality degrades to the exact distinct set") {
    import spark.implicits._
    val got = Sketches.kmvAccounting(Seq("a", "b", "b", "c").toDF("w"), col("w"), k = 256)
      .orderBy("rank").collect()
    assert(got.length == 3)
    assert(got.forall(_.getAs[Long]("est_micro") == 3000000L))
    assert(got.map(_.getAs[Long]("h")).toSeq == got.map(_.getAs[Long]("h")).toSeq.sorted)
  }
}

class DxfSpec extends SparkSpec {
  import graft.sources.Dxf

  private val fixture = SparkEntry.fixture("dxf/sample.dxf")

  test("dxf: entity kinds, attributes, closed-polyline and circle/arc mapping") {
    val es = Dxf.parseEntities(fixture)
    assert(es.length == 11)
    val byHandle = es.map(e => e.handle -> e).toMap
    assert(byHandle("A1").geom.get.getGeometryType == "Point")
    assert(byHandle("A2").linetype == "DASHED")
    assert(byHandle("B1").geom.get.getGeometryType == "LineString")
    assert(byHandle("C1").geom.get.getNumPoints == 4)
    // closed LWPOLYLINE -> polygon with auto-closed ring
    assert(byHandle("C2").geom.get.getGeometryType == "Polygon")
    assert(byHandle("C2").geom.get.getNumPoints == 5)
    // circle: 32 segments + closing point, bbox = center ± r exactly
    val circle = byHandle("D1").geom.get
    assert(circle.getGeometryType == "Polygon" && circle.getNumPoints == 33)
    val env = circle.getEnvelopeInternal
    assert(env.getMinX == 47.5 && env.getMaxX == 52.5 && env.getMinY == 57.5 && env.getMaxY == 62.5)
    // arc crossing 0 degrees: sweep 120 -> ceil(120/11.25)=11 segments
    assert(byHandle("D3").geom.get.getNumPoints == 12)
    assert(byHandle("E1").text == "Main Street")
    assert(byHandle("E2").text == "Block 7")
    // POLYLINE/VERTEX/SEQEND run, closed -> polygon
    assert(byHandle("F1").geom.get.getGeometryType == "Polygon")
    assert(byHandle("F1").layer == "parcels")
  }

  test("dxf: st_read integration + driver registry row") {
    graft.Graft.install(spark)
    val df = graft.sources.GeoRead.read(spark, fixture)
    assert(df.count() == 11)
    assert(df.columns.toSeq == Seq("layer", "entity_handle", "linetype", "text", "geom"))
    val drivers = spark.sql("SELECT * FROM st_drivers() WHERE short_name = 'dxf'").collect()
    assert(drivers.length == 1 && drivers(0).getBoolean(2) && drivers(0).getBoolean(3))
  }

  test("dxf: clear errors on unsupported entities and orphan runs") {
    def write(content: String): String = {
      val f = java.io.File.createTempFile("graft-dxf", ".dxf")
      f.deleteOnExit()
      java.nio.file.Files.writeString(f.toPath, content)
      f.getPath
    }
    def dxf(entities: String): String =
      s"0\nSECTION\n2\nENTITIES\n${entities}0\nENDSEC\n0\nEOF\n"
    val bad = intercept[IllegalArgumentException] {
      Dxf.parseEntities(write(dxf("0\nSPLINE\n5\nX1\n")))
    }
    assert(bad.getMessage.contains("SPLINE"))
    val orphan = intercept[IllegalArgumentException] {
      Dxf.parseEntities(write(dxf("0\nVERTEX\n10\n1\n20\n2\n")))
    }
    assert(orphan.getMessage.contains("orphan"))
    val noSeqend = intercept[IllegalArgumentException] {
      Dxf.parseEntities(write(dxf("0\nPOLYLINE\n70\n0\n0\nVERTEX\n10\n1\n20\n2\n")))
    }
    assert(noSeqend.getMessage.toLowerCase.contains("seqend"))
  }
}

class Mp4Spec extends SparkSpec {
  import graft.operators.Multimodal

  test("mp4: box walk extracts mvhd timing, tkhd size, track count (v0 and v1)") {
    val v0 = Multimodal.mp4Bytes(1920, 1080, timescale = 1000L, duration = 93500L, nTracks = 2)
    assert(Multimodal.decodeMp4(v0).contains(("mp4", 1920, 1080, 2, 93500L)))
    val v1 = Multimodal.mp4Bytes(640, 480, timescale = 90000L, duration = 9000000L,
      nTracks = 3, v1 = true)
    assert(Multimodal.decodeMp4(v1).contains(("mp4", 640, 480, 3, 100000L)))
    // audio-only: no tkhd carries a size -> width/height 0, duration real
    val audio = Multimodal.mp4Bytes(0, 0, timescale = 48000L, duration = 480000L, nTracks = 1)
    assert(Multimodal.decodeMp4(audio).contains(("mp4", 0, 0, 1, 10000L)))
  }

  test("mp4: malformed payloads fall through, never throw") {
    assert(Multimodal.decodeMp4(null).isEmpty)
    assert(Multimodal.decodeMp4("RIFFxxxxWAVE".getBytes).isEmpty)
    // ftyp but no moov
    val noMoov = Multimodal.mp4Bytes(1, 1, 1000L, 1000L).take(16)
    assert(Multimodal.decodeMp4(noMoov).isEmpty)
    // hostile size field: box size 0xFFFFFFF0 would overflow an Int walk
    val hostile = Multimodal.mp4Bytes(64, 64, 1000L, 1000L)
    hostile(16) = 0xFF.toByte; hostile(17) = 0xFF.toByte
    hostile(18) = 0xFF.toByte; hostile(19) = 0xF0.toByte
    assert(Multimodal.decodeMp4(hostile).isEmpty) // walk terminates cleanly
    // truncated moov: declared child size exceeds the buffer
    val trunc = Multimodal.mp4Bytes(64, 64, 1000L, 1000L).dropRight(40)
    Multimodal.decodeMp4(trunc) // must not throw
  }
}

class DxfWriteSpec extends SparkSpec {
  import org.apache.spark.sql.functions._
  import graft.GeoFunctions._

  test("dxf write: roundtrip through the reader, layer column, ring split") {
    graft.Graft.install(spark)
    val df = spark.sql("""SELECT * FROM VALUES
        ('sites', ST_Point(1.5, 2.25)),
        ('roads', ST_GeomFromText('LINESTRING (0 0, 4 1, 9 -2)')),
        ('parcels', ST_GeomFromText('POLYGON ((0 0, 10 0, 10 10, 0 10, 0 0), (2 2, 4 2, 4 4, 2 4, 2 2))')),
        ('pts', ST_GeomFromText('MULTIPOINT (7 8, 9 10)'))
      v(layer, geom)""")
    val path = java.io.File.createTempFile("graft-dxf-w", ".dxf").getPath
    graft.sources.Dxf.write(df, "geom", path)
    val back = graft.sources.GeoRead.read(spark, path)
      .select(col("layer"), col("entity_handle"),
        expr("ST_GeometryType(geom)").as("gt"), expr("ST_NPoints(geom)").as("np"))
      .orderBy("entity_handle").collect()
    // polygon-with-hole splits into two closed LWPOLYLINE entities
    // (DXF has no hole concept short of HATCH); multipoint into two POINTs
    assert(back.length == 6)
    assert(back.map(_.getString(0)).toSeq ==
      Seq("sites", "roads", "parcels", "parcels", "pts", "pts"))
    assert(back.map(_.getString(2)).toSeq ==
      Seq("POINT", "LINESTRING", "POLYGON", "POLYGON", "POINT", "POINT"))
    assert(back.map(_.getInt(3)).toSeq == Seq(1, 3, 5, 5, 1, 1))
    // coordinates survive exactly (integers and decimals)
    val pt = graft.sources.GeoRead.read(spark, path)
      .filter(col("layer") === "sites")
      .selectExpr("ST_X(geom)", "ST_Y(geom)").collect()(0)
    assert(pt.getDouble(0) == 1.5 && pt.getDouble(1) == 2.25)
  }
}

class GmtSpec extends SparkSpec {
  import org.apache.spark.sql.functions._
  import graft.sources.Gmt

  test("gmt: header, @D quoting, hole assembly, continuation segments") {
    val h = Gmt.readHeader(SparkEntry.fixture("gmt/mpoly.gmt"))
    assert(h.gtype == "MULTIPOLYGON" && h.fields == Seq(("name", "string"), ("id", "integer")))
    assert(Gmt.splitD("\"a|b\"|3|\"say \"\"hi\"\"\"") == Seq("a|b", "3", "say \"hi\""))
    graft.Graft.install(spark)
    val df = graft.sources.GeoRead.read(spark, SparkEntry.fixture("gmt/mpoly.gmt"))
    val rows = df.selectExpr("name", "id", "ST_GeometryType(geom)", "ST_NPoints(geom)",
        "ST_Area(geom)").orderBy("id").collect()
    assert(rows.length == 2)
    // twin: two shells, one holed: 16 + (16 - 1) = area 4*4 + 4*4 - 1
    assert(rows(0).getString(0) == "twin" && rows(0).getLong(1) == 7L)
    assert(rows(0).getString(2) == "MULTIPOLYGON" && rows(0).getInt(3) == 15)
    assert(rows(0).getDouble(4) == 16.0 + 16.0 - 1.0)
    assert(rows(1).getString(0) == "single" && rows(1).getDouble(4) == 40.0)
    // driver registry row
    val d = spark.sql("SELECT can_open, can_create FROM st_drivers() WHERE short_name='ogr_gmt'").collect()
    assert(d.length == 1 && d(0).getBoolean(0) && d(0).getBoolean(1))
  }

  test("gmt: clear errors on malformed inputs") {
    def write(content: String): String = {
      val f = java.io.File.createTempFile("graft-gmt", ".gmt")
      f.deleteOnExit()
      java.nio.file.Files.writeString(f.toPath, content)
      f.getPath
    }
    val noG = intercept[IllegalArgumentException] {
      Gmt.readHeader(write("# @VGMT1.0 @Nname @Tstring\n> \n0 0\n"))
    }
    assert(noG.getMessage.contains("@G"))
    val holeFirst = intercept[Exception] {
      val p = write("# @VGMT1.0 @GPOLYGON @Nname @Tstring\n>\n# @D\"x\"\n# @H\n0 0\n1 0\n1 1\n0 0\n")
      Gmt.parseFeatures(p, Gmt.readHeader(p)).toVector
    }
    assert(holeFirst.getMessage.contains("@H hole before"))
  }
}

/** Writer parity for the r9 reader-only formats (GML / MIF / GMT) —
  * each roundtrips through its own certified reader, the same recipe
  * as [[DxfWriteSpec]]. */
class TextVectorWriteSpec extends SparkSpec {
  import org.apache.spark.sql.functions._

  test("gml write: roundtrip layer/fid/srs/props and every geometry family") {
    graft.Graft.install(spark)
    val df = spark.sql("""SELECT * FROM VALUES
        ('city', 'f1', 'EPSG:4326', 'alpha', 10, ST_Point(1.5, 2.25)),
        ('road', 'f2', 'EPSG:4326', 'beta & <co>', 20, ST_GeomFromText('LINESTRING (0 0, 4 1, 9 -2)')),
        ('parcel', 'f3', 'EPSG:4326', 'gamma', 30, ST_GeomFromText('POLYGON ((0 0, 10 0, 10 10, 0 10, 0 0), (2 2, 4 2, 4 4, 2 4, 2 2))')),
        ('pts', 'f4', 'EPSG:4326', 'delta', 40, ST_GeomFromText('MULTIPOINT (7 8, 9 10)')),
        ('lines', 'f5', 'EPSG:4326', 'eps', 50, ST_GeomFromText('MULTILINESTRING ((0 0, 1 1), (2 2, 3 3))')),
        ('polys', 'f6', 'EPSG:4326', 'zeta', 60, ST_GeomFromText('MULTIPOLYGON (((0 0, 1 0, 1 1, 0 0)), ((5 5, 6 5, 6 6, 5 5)))'))
      v(layer, fid, srs, name, pop, geom)""")
    val path = java.io.File.createTempFile("graft-gml-w", ".gml").getPath
    graft.sources.Gml.write(df, "geom", path)
    val back = graft.sources.GeoRead.read(spark, path)
      .selectExpr("layer", "fid", "srs", "props['name'] AS name",
        "CAST(props['pop'] AS INT) AS pop", "ST_AsText(geom) AS wkt")
      .orderBy("fid").collect()
    assert(back.length == 6)
    assert(back.map(_.getString(0)).toSeq ==
      Seq("city", "road", "parcel", "pts", "lines", "polys"))
    assert(back.map(_.getString(2)).forall(_ == "EPSG:4326"))
    assert(back(1).getString(3) == "beta & <co>") // XML escapes roundtrip
    assert(back.map(_.getInt(4)).toSeq == Seq(10, 20, 30, 40, 50, 60))
    val wkts = df.selectExpr("fid", "ST_AsText(geom) AS wkt").orderBy("fid")
      .collect().map(_.getString(1)).toSeq
    assert(back.map(_.getString(5)).toSeq == wkts)
  }

  test("mif write: roundtrip attribute types and every record kind") {
    graft.Graft.install(spark)
    val df = spark.sql("""SELECT * FROM VALUES
        ('say "hi", friend', 1, 1.5, true, ST_Point(3.25, -4.0)),
        ('two-point line', 2, 2.5, false, ST_GeomFromText('LINESTRING (0 0, 5 5)')),
        ('pline', 3, 3.5, true, ST_GeomFromText('LINESTRING (0 0, 4 1, 9 -2)')),
        ('multi', 4, 4.5, false, ST_GeomFromText('MULTILINESTRING ((0 0, 1 1), (2 2, 3 3, 4 4))')),
        ('holed', 5, 5.5, true, ST_GeomFromText('POLYGON ((0 0, 10 0, 10 10, 0 10, 0 0), (2 2, 4 2, 4 4, 2 4, 2 2))')),
        ('nothing', 6, 6.5, false, CAST(NULL AS BINARY))
      v(name, n, v, flag, geom)""")
    val path = java.io.File.createTempFile("graft-mif-w", ".mif").getPath
    graft.sources.MapInfoMif.write(df, "geom", path)
    val back = graft.sources.GeoRead.read(spark, path)
      .selectExpr("name", "n", "v", "flag",
        "CASE WHEN geom IS NULL THEN 'NONE' ELSE ST_GeometryType(geom) END AS gt",
        "CASE WHEN geom IS NULL THEN CAST(NULL AS DOUBLE) ELSE ST_Area(geom) END AS area")
      .orderBy("n").collect()
    assert(back.length == 6)
    assert(back(0).getString(0) == "say \"hi\", friend") // quote+delimiter escape
    assert(back.map(_.getInt(1)).toSeq == Seq(1, 2, 3, 4, 5, 6))
    assert(back.map(_.getDouble(2)).toSeq == Seq(1.5, 2.5, 3.5, 4.5, 5.5, 6.5))
    assert(back.map(_.getBoolean(3)).toSeq ==
      Seq(true, false, true, false, true, false))
    assert(back.map(_.getString(4)).toSeq ==
      Seq("POINT", "LINESTRING", "LINESTRING", "MULTILINESTRING", "POLYGON", "NONE"))
    assert(back(4).getDouble(5) == 100.0 - 4.0) // hole survives containment assembly
  }

  test("gmt write: multipolygon promotion, holes, quoting; line + point layers") {
    graft.Graft.install(spark)
    val polys = spark.sql("""SELECT * FROM VALUES
        ('plain|pipe', 1L, ST_GeomFromText('POLYGON ((0 0, 10 0, 10 10, 0 10, 0 0), (2 2, 4 2, 4 4, 2 4, 2 2))')),
        ('twin', 2L, ST_GeomFromText('MULTIPOLYGON (((0 0, 4 0, 4 4, 0 4, 0 0)), ((5 5, 9 5, 9 9, 5 9, 5 5)))'))
      v(name, id, geom)""")
    val p1 = java.io.File.createTempFile("graft-gmt-w", ".gmt").getPath
    graft.sources.Gmt.write(polys, "geom", p1)
    assert(graft.sources.Gmt.readHeader(p1).gtype == "MULTIPOLYGON")
    val back = graft.sources.GeoRead.read(spark, p1)
      .selectExpr("name", "id", "ST_GeometryType(geom) AS gt", "ST_Area(geom) AS area")
      .orderBy("id").collect()
    assert(back.length == 2)
    assert(back(0).getString(0) == "plain|pipe") // @D pipe quoting survives
    assert(back(0).getString(2) == "MULTIPOLYGON" && back(0).getDouble(3) == 96.0)
    assert(back(1).getDouble(3) == 32.0)
    val lines = spark.sql("""SELECT * FROM VALUES
        ('a', ST_GeomFromText('LINESTRING (0 0, 4 1, 9 -2)'))
      v(name, geom)""")
    val p2 = java.io.File.createTempFile("graft-gmt-l", ".gmt").getPath
    graft.sources.Gmt.write(lines, "geom", p2)
    assert(graft.sources.Gmt.readHeader(p2).gtype == "LINESTRING")
    val lb = graft.sources.GeoRead.read(spark, p2)
      .selectExpr("ST_NPoints(geom)").collect()
    assert(lb.length == 1 && lb(0).getInt(0) == 3)
    val pts = spark.sql("SELECT 'p' AS name, ST_Point(1.5, 2.5) AS geom")
    val p3 = java.io.File.createTempFile("graft-gmt-p", ".gmt").getPath
    graft.sources.Gmt.write(pts, "geom", p3)
    val pb = graft.sources.GeoRead.read(spark, p3)
      .selectExpr("name", "ST_X(geom)", "ST_Y(geom)").collect()
    assert(pb.length == 1 && pb(0).getString(0) == "p" &&
      pb(0).getDouble(1) == 1.5 && pb(0).getDouble(2) == 2.5)
  }
}

/** Unicode cleanup expressions (cross-certified against the oracle's
  * ICU implementations in q_doc_unicode; these pin the Java-side
  * semantics incl. the forms the oracle engine lacks). */
class UnicodeSpec extends SparkSpec {
  import org.apache.spark.sql.functions._

  test("nfc/nfkc/strip_accents semantics") {
    graft.Graft.install(spark)
    val r = spark.sql(
      """SELECT
         nfc_normalize('café') AS nfc,
         nfc_normalize('café') = nfc_normalize('café') AS eq,
         length(nfc_normalize('café')) AS n,
         unicode_normalize('ﬁne Ｅxam', 'NFKC') AS nfkc,
         unicode_normalize('café', 'NFD') AS nfd,
         strip_accents('jalapeño œuvre ångström') AS stripped,
         nfc_normalize(CAST(NULL AS STRING)) AS nul
         """).collect()(0)
    assert(r.getString(0) == "café" && r.getBoolean(1) && r.getInt(2) == 4)
    assert(r.getString(3) == "fine Exam") // ligature + fullwidth fold
    assert(r.getString(4) == "café")     // NFD decomposes
    // accents drop; the oe ligature is NOT an accent and survives
    assert(r.getString(5) == "jalapeno œuvre angstrom")
    assert(r.isNullAt(6))
    val err = intercept[Exception] {
      spark.sql("SELECT unicode_normalize('x', 'NFX')").collect()
    }
    assert(err.getMessage.contains("unknown form"))
  }
}

/** WebP container metadata walk (no JDK codec — dimensions/alpha from
  * the published RIFF layout; payloads hand-packed here). */
class WebpSpec extends SparkSpec {
  import graft.operators.Multimodal

  private def riff(chunks: (String, Array[Byte])*): Array[Byte] = {
    val body = chunks.flatMap { case (cc, payload) =>
      val sz = payload.length
      cc.getBytes("US-ASCII") ++ Array[Byte](
        (sz & 0xFF).toByte, ((sz >> 8) & 0xFF).toByte,
        ((sz >> 16) & 0xFF).toByte, ((sz >> 24) & 0xFF).toByte) ++
        payload ++ (if (sz % 2 == 1) Array[Byte](0) else Array.empty[Byte])
    }.toArray
    val total = body.length + 4
    "RIFF".getBytes("US-ASCII") ++ Array[Byte](
      (total & 0xFF).toByte, ((total >> 8) & 0xFF).toByte,
      ((total >> 16) & 0xFF).toByte, ((total >> 24) & 0xFF).toByte) ++
      "WEBP".getBytes("US-ASCII") ++ body
  }

  test("VP8X / VP8 lossy / VP8L lossless headers; malformed falls through") {
    // VP8X: flags (alpha=0x10), 3 reserved, canvas 640x480 minus-one 24-bit LE
    val vp8x = riff(("VP8X", Array[Byte](0x10, 0, 0, 0,
      ((640 - 1) & 0xFF).toByte, (((640 - 1) >> 8) & 0xFF).toByte, 0,
      ((480 - 1) & 0xFF).toByte, (((480 - 1) >> 8) & 0xFF).toByte, 0)))
    assert(Multimodal.decodeWebp(vp8x).contains(("webp", 640, 480, 4, 0L)))
    // VP8 lossy: 3-byte frame tag, start code, 14-bit 320x240
    val vp8 = riff(("VP8 ", Array[Byte](0, 0, 0, 0x9D.toByte, 0x01, 0x2A,
      (320 & 0xFF).toByte, (320 >> 8).toByte, (240 & 0xFF).toByte, (240 >> 8).toByte)))
    assert(Multimodal.decodeWebp(vp8).contains(("webp", 320, 240, 3, 0L)))
    // VP8L lossless: 0x2F, packed 14-bit minus-one dims (100x33), no alpha
    val w = 100 - 1; val h = 33 - 1
    val b1 = (w & 0xFF).toByte
    val b2 = (((w >> 8) & 0x3F) | ((h & 0x3) << 6)).toByte
    val b3 = ((h >> 2) & 0xFF).toByte
    val b4 = ((h >> 10) & 0x0F).toByte
    val vp8l = riff(("VP8L", Array[Byte](0x2F, b1, b2, b3, b4)))
    assert(Multimodal.decodeWebp(vp8l).contains(("webp", 100, 33, 3, 0L)))
    // RIFF/WAVE is NOT webp; truncated/garbage never throws
    assert(Multimodal.decodeWebp("RIFFxxxxWAVEdata".getBytes).isEmpty)
    assert(Multimodal.decodeWebp(vp8x.take(20)).isEmpty)
    val badCode = riff(("VP8 ", Array[Byte](0, 0, 0, 1, 2, 3, 4, 5, 6, 7)))
    assert(Multimodal.decodeWebp(badCode).isEmpty)
  }
}

/** Matroska/WebM EBML metadata walk (published matroska.org element
  * IDs; payloads hand-packed here incl. the unknown-size Segment). */
class MkvSpec extends SparkSpec {
  import graft.operators.Multimodal

  private def vid(id: Long): Array[Byte] = {
    // element ID bytes as stored (marker kept)
    val n = if (id <= 0xFF) 1 else if (id <= 0xFFFF) 2 else if (id <= 0xFFFFFF) 3 else 4
    (0 until n).map(i => ((id >> (8 * (n - 1 - i))) & 0xFF).toByte).toArray
  }
  private def vsize(sz: Int): Array[Byte] = {
    require(sz < 127); Array((0x80 | sz).toByte)
  }
  private def el(id: Long, payload: Array[Byte]): Array[Byte] =
    vid(id) ++ vsize(payload.length) ++ payload
  private def uintBytes(v: Long, n: Int): Array[Byte] =
    (0 until n).map(i => ((v >> (8 * (n - 1 - i))) & 0xFF).toByte).toArray

  test("webm doc: duration, dims, track count; unknown-size segment") {
    val ebml = el(0x1A45DFA3L, el(0x4282L, "webm".getBytes("US-ASCII")))
    val info = el(0x1549A966L,
      el(0x2AD7B1L, uintBytes(1000000L, 3)) ++ // 1 ms ticks
      el(0x4489L, uintBytes(java.lang.Float.floatToIntBits(93500.0f) & 0xFFFFFFFFL, 4)))
    val video = el(0xE0L, el(0xB0L, uintBytes(1920, 2)) ++ el(0xBAL, uintBytes(1080, 2)))
    val tracks = el(0x1654AE6BL,
      el(0xAEL, el(0x83L, uintBytes(1, 1)) ++ video) ++
      el(0xAEL, el(0x83L, uintBytes(2, 1))))
    val segBody = info ++ tracks
    // segment with UNKNOWN size (0xFF): extends to end of file
    val seg = vid(0x18538067L) ++ Array(0xFF.toByte) ++ segBody
    val mkv = ebml ++ seg
    assert(Multimodal.decodeMkv(mkv).contains(("webm", 1920, 1080, 2, 93500L)))
    // matroska doctype maps to "mkv"
    val ebml2 = el(0x1A45DFA3L, el(0x4282L, "matroska".getBytes("US-ASCII")))
    val mkv2 = ebml2 ++ vid(0x18538067L) ++ vsize(segBody.length) ++ segBody
    assert(Multimodal.decodeMkv(mkv2).map(_._1).contains("mkv"))
    // non-EBML and truncated payloads never throw
    assert(Multimodal.decodeMkv("RIFFxxxxWAVE".getBytes).isEmpty)
    assert(Multimodal.decodeMkv(mkv.take(9)).isEmpty)
    // EBML header alone (no AV content) stays a stub, not a 0x0 video
    assert(Multimodal.decodeMkv(ebml).isEmpty)
  }
}

/** Ogg Vorbis/Opus identification-header + last-granule duration walk
  * (published xiph layout; payloads hand-packed here). */
class OggSpec extends SparkSpec {
  import graft.operators.Multimodal

  private def page(granule: Long, serial: Int, seq: Int, packet: Array[Byte]): Array[Byte] = {
    require(packet.length < 255)
    val b = java.nio.ByteBuffer.allocate(27 + 1 + packet.length)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    b.put("OggS".getBytes("US-ASCII")).put(0.toByte).put(0.toByte)
    b.putLong(granule).putInt(serial).putInt(seq).putInt(0)
    b.put(1.toByte).put(packet.length.toByte).put(packet)
    b.array()
  }

  test("vorbis and opus id headers; duration from the last granule") {
    val vorbisId = java.nio.ByteBuffer.allocate(30).order(java.nio.ByteOrder.LITTLE_ENDIAN)
      .put(1.toByte).put("vorbis".getBytes("US-ASCII"))
      .putInt(0)          // version
      .put(2.toByte)      // channels
      .putInt(44100)      // rate
      .array()
    // 44100 samples at 44.1 kHz = exactly 1000 ms
    val ogg = page(-1L, 7, 0, vorbisId) ++ page(44100L, 7, 1, Array[Byte](0))
    assert(Multimodal.decodeOgg(ogg).contains(("vorbis", 44100, 0, 2, 1000L)))
    val opusId = java.nio.ByteBuffer.allocate(19).order(java.nio.ByteOrder.LITTLE_ENDIAN)
      .put("OpusHead".getBytes("US-ASCII"))
      .put(1.toByte)      // version
      .put(1.toByte)      // channels
      .putShort(312)      // pre-skip
      .putInt(16000)      // input rate
      .array()
    // opus granules tick at 48 kHz: 96000 ticks = 2000 ms
    val opus = page(-1L, 9, 0, opusId) ++ page(96000L, 9, 1, Array[Byte](0))
    assert(Multimodal.decodeOgg(opus).contains(("opus", 16000, 0, 1, 2000L)))
    // non-ogg / truncated payloads never throw
    assert(Multimodal.decodeOgg("OggX not really".getBytes).isEmpty)
    assert(Multimodal.decodeOgg(ogg.take(30)).isEmpty)
  }
}

/** html_to_text scanner cases regex strippers tear on (the gate row
  * q_doc_html certifies the common path vs an RE2 replication). */
class HtmlSpec extends SparkSpec {
  import graft.functions.HtmlToText

  test("quoted '>' in attributes, hostile scripts, entities, blocks") {
    val x = HtmlToText.extract _
    // '>' inside a quoted attribute value must not end the tag
    assert(x("""<a href="x?a>b" title='1>2'>link</a> ok""") == "link ok")
    // script content with '<' and fake closers inside strings still skips
    assert(x("""<script>if (a < b) s = "</scr" + "ipt>";</script>after""") == "after")
    // unterminated script: rest of document is script content
    assert(x("""before<script>var x = 1;""") == "before")
    // entity decode AFTER strip: encoded tags stay literal text
    assert(x("<p>&lt;div&gt; &amp; &#65;&#x42; &unknown; &amp</p>") ==
      "<div> & AB &unknown; &amp")
    // block closes & <br> become newlines, runs collapse
    assert(x("<h1>T</h1><p>a</p><p>b</p><ul><li>x</li><li>y</li></ul>end<br>tail") ==
      "T\na\nb\nx\ny\n\nend\ntail")
    // comments vanish even with tags inside
    assert(x("a<!-- <p>hidden</p> -->b") == "ab")
    // hostile numeric entity (out of range) stays literal
    assert(x("&#99999999999;z") == "&#99999999999;z")
    assert(HtmlToText.extract("") == "")
    // SQL surface
    graft.Graft.install(spark)
    val r = spark.sql("SELECT html_to_text('<p>hi &amp; bye</p>')").collect()(0)
    assert(r.getString(0) == "hi & bye")
  }
}

/** url_normalize edge semantics beyond the q_doc_url gate sweep. */
class UrlSpec extends SparkSpec {
  import graft.functions.UrlNormalize.canonical

  test("canonicalization edges") {
    assert(canonical("HTTP://Example.COM:80//a//b/?z=9&utm_source=tw&a=1#f") ==
      "http://example.com/a/b?a=1&z=9")
    assert(canonical("https://u:p@Sub.Site.com:443/Path/?b=2&a=1&fbclid=x&ref=r") ==
      "https://sub.site.com/Path?a=1&b=2&ref=r")
    // bare `ref` is functional on many sites (github ?ref=branch) — KEPT,
    // so distinct pages do not collapse to one dedup key
    assert(canonical("https://github.com/o/r/blob/f?ref=main") ==
      "https://github.com/o/r/blob/f?ref=main")
    // non-default port survives; path case preserved
    assert(canonical("http://site.com:8080/Keep/Port?id=3") ==
      "http://site.com:8080/Keep/Port?id=3")
    // empty path -> '/'; all-tracking query -> no '?'
    assert(canonical("https://example.com?utm_campaign=x") == "https://example.com/")
    // bare tracking key without '=' also drops
    assert(canonical("http://a.com/p?gclid&x=1") == "http://a.com/p?x=1")
    // ftp default port is NOT stripped (only http/https defaults are)
    assert(canonical("ftp://Host.com:80/f") == "ftp://host.com:80/f")
    // non-URL passes through trimmed; never throws
    assert(canonical("  not a url  ") == "not a url")
    assert(canonical("") == "")
    graft.Graft.install(spark)
    val r = spark.sql("SELECT url_normalize('HTTP://X.com:80/#f')").collect()(0)
    assert(r.getString(0) == "http://x.com/")
  }
}
