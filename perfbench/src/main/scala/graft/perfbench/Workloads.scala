package graft.perfbench

import graft.operators.{Dedup, Packing}
import graft.sources.{GeoTable, GeoTableLog}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import java.util.SplittableRandom

/** One operation of a workload, fixed by the seed and its index: its
 *  kind, a label, an integer argument and its parameters as JSON. */
final case class OpSpec(kind: String, label: String, arg: Int, params: String)

/** What an operation returned: its output checksums (JSON), the frame
 *  whose final plan is the operation's output, the release of the
 *  frames the operator documents returning persisted, and those of them
 *  the workload keeps persisted for a later operation. */
final case class OpOutput(result: String, plan: DataFrame, release: () => Unit = () => (),
    held: Seq[DataFrame] = Nil)

/** A workload: fixtures written in set-up, then an endless, seeded
 *  sequence of operations that repeats every `cycle` operations. */
trait Workload {
  def setup(): Unit
  def cycle: Int
  def op(i: Int): OpSpec
  /** Logical input rows of an operation, for rows_per_s. */
  def rows(op: OpSpec): Long
  def run(op: OpSpec, t: Tracer): OpOutput
  /** Untimed follow-up the benchmark uses to check an operation. */
  def check(op: OpSpec): String = "null"
  /** Inputs and sizes, for the stamp and the output check. */
  def fixture: String
}

object Workload {
  /** A uniform double in [0, 1) from a hash of the row id, so a fixture
   *  column is a pure function of (seed, salt, id). */
  def hashUniform(seed: Long, salt: Int): String =
    s"(CAST(xxhash64(id, ${seed}L, $salt) & 4503599627370495L AS DOUBLE) / 4503599627370496.0)"

  /** Forces an SQL query through planning, then runs it. */
  def sqlQuery(spark: SparkSession, t: Tracer, sql: String): (DataFrame, Array[Row]) = {
    val df = t.span("plans", "plans.prepare") {
      val d = spark.sql(sql); d.queryExecution.executedPlan; d
    }
    (df, t.span("exec", "exec.action") { df.collect() })
  }

  /** Forces a frame's plan, then collects it. */
  def force(t: Tracer, df: DataFrame): Array[Row] = {
    t.span("plans", "plans.prepare") { df.queryExecution.executedPlan }
    t.span("exec", "exec.action") { df.collect() }
  }

  def regularPolygon(cx: Double, cy: Double, r: Double, rot: Double, n: Int): Seq[(Double, Double)] =
    (0 until n).map { k =>
      val a = rot + 2 * math.Pi * k / n
      (cx + r * math.cos(a), cy + r * math.sin(a))
    }

  def wkt(vs: Seq[(Double, Double)]): String =
    (vs :+ vs.head).map { case (x, y) => s"$x $y" }.mkString("POLYGON((", ", ", "))")

  /** exp of a uniform point in [ln lo, ln hi) at position u in [0, 1). */
  def logUniform(u: Double, lo: Double, hi: Double): Double =
    math.exp(math.log(lo) + u * (math.log(hi) - math.log(lo)))

  /** Position k of n stratified over [0, 1): one point, jittered by the
   *  seed, in each of n equal strata, so the spread of a generated
   *  property (and the work it costs) does not depend on the seed. */
  def stratum(k: Int, n: Int, r: SplittableRandom): Double = (k + r.nextDouble()) / n

  val side = 1000.0

  def apply(name: String, spark: SparkSession, dir: String, seed: Long): Workload = name match {
    case "geo_join" => new GeoJoin(spark, dir, seed)
    case "geo_table" => new GeoTableWorkload(spark, dir, seed)
    case "corpus_dedup" => new CorpusDedup(spark, dir, seed)
    case other => throw new IllegalArgumentException(s"unknown workload: $other")
  }
}

import Workload._

/** SQL spatial joins of one point table against zone layers that vary
 *  what the grid join's cost depends on. */
final class GeoJoin(spark: SparkSession, dir: String, seed: Long) extends Workload {
  // Enough points that their side of the join (about 11 MB shuffled,
  // with the id the query sums) is over Spark's 10 MB broadcast
  // threshold, so AQE always broadcasts the zones, as with any point
  // table much larger than its zone layer. With both sides under it,
  // AQE broadcasts whichever side's map stage ends first: a race that
  // changes a query's cost up to threefold from one run to the next.
  val points = 240000L

  /** name, zone count, and zone k's (center, radius, vertex count). */
  private case class Layer(name: String, zones: Int, gen: (Int, SplittableRandom) => (Double, Double, Double, Int))

  private def uniformCenter(r: SplittableRandom, radius: Double): (Double, Double) =
    (radius + r.nextDouble() * (side - 2 * radius), radius + r.nextDouble() * (side - 2 * radius))

  private val layers = Seq(
    // vertex count from 4 to 400 and radius from 1 to 120, stratified
    // independently: a zone covers from one grid cell to hundreds, and
    // a cell holds a few zones, below the 32-slot prepared-geometry cache
    Layer("shape", 300, (k, r) => {
      val rad = logUniform(stratum((k * 7) % 300, 300, r), 1, 120); val (x, y) = uniformCenter(r, rad)
      (x, y, rad, math.round(logUniform(stratum(k, 300, r), 4, 400)).toInt)
    }),
    // about forty zones per grid cell: above it
    Layer("dense", 5000, (_, r) => { val (x, y) = uniformCenter(r, 15); (x, y, 15.0, 8) }),
    // 30% of the zones inside one 100 x 100 square
    Layer("hot", 1000, (k, r) => {
      if (k % 10 < 3) (450 + r.nextDouble() * 100, 450 + r.nextDouble() * 100, 15.0, 8)
      else { val (x, y) = uniformCenter(r, 15); (x, y, 15.0, 8) }
    }))

  def cycle: Int = layers.size

  def op(i: Int): OpSpec = {
    val l = layers(i % layers.size).name
    OpSpec("query", l, i % layers.size, Json.obj("layer" -> l))
  }

  def rows(op: OpSpec): Long = points

  def setup(): Unit = {
    val pts = spark.range(points).selectExpr("id",
      s"${hashUniform(seed, 1)} * $side AS x", s"${hashUniform(seed, 2)} * $side AS y")
      .selectExpr("id", "x", "y", "ST_Point(x, y) AS geom")
    GeoTable.writeGeoParquet(pts, "geom", s"$dir/pts")
    spark.read.parquet(s"$dir/pts").createOrReplaceTempView("pts")

    val rnd = new SplittableRandom(seed * 7919 + 17)
    var zoneId = 0
    val zoneRows = new java.util.ArrayList[Row]()
    layers.foreach { l =>
      (0 until l.zones).foreach { k =>
        val (cx, cy, rad, n) = l.gen(k, rnd)
        val vs = regularPolygon(cx, cy, rad, rnd.nextDouble() * 2 * math.Pi, n)
        zoneRows.add(Row(l.name, zoneId, n, vs.map(_._1), vs.map(_._2), wkt(vs)))
        zoneId += 1
      }
    }
    val schema = StructType(Seq(
      StructField("layer", StringType), StructField("zone", IntegerType), StructField("n", IntegerType),
      StructField("xs", ArrayType(DoubleType)), StructField("ys", ArrayType(DoubleType)),
      StructField("wkt", StringType)))
    spark.createDataFrame(zoneRows, schema)
      .selectExpr("layer", "zone", "n", "xs", "ys", "ST_GeomFromText(wkt) AS geom")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/zones")
    val zones = spark.read.parquet(s"$dir/zones")
    layers.foreach { l =>
      zones.where(col("layer") === l.name).select("zone", "geom").createOrReplaceTempView(s"zones_${l.name}")
    }
  }

  def run(op: OpSpec, t: Tracer): OpOutput = {
    val (df, out) = sqlQuery(spark, t,
      s"SELECT z.zone, count(*) AS n, sum(p.id) AS ids FROM pts p JOIN zones_${op.label} z " +
        "ON ST_Contains(z.geom, p.geom) GROUP BY z.zone")
    var pairs, wsum, sq, ids = 0L
    out.foreach { r =>
      val z = r.getInt(0).toLong; val n = r.getLong(1)
      pairs += n; wsum += z * n; sq += n * n; ids += r.getLong(2)
    }
    OpOutput(Json.obj("zones" -> out.length, "pairs" -> pairs, "wsum" -> wsum, "sq" -> sq, "ids" -> ids), df)
  }

  def fixture: String = Json.obj("points" -> s"$dir/pts", "zones" -> s"$dir/zones",
    "rows" -> points, "layers" -> layers.map(l => Json.Raw(Json.obj("name" -> l.name, "zones" -> l.zones))))
}

/** Selective SQL filters on a Hilbert-clustered GeoTable, with an
 *  appended batch every tenth operation. */
final class GeoTableWorkload(spark: SparkSession, dir: String, seed: Long) extends Workload {
  val base = 100000L
  val batchRows = 5000L
  val batches = 8
  val queryCount = 64
  private val table = s"$dir/table"
  private val extent = (0.0, 0.0, side, side)

  /** (kind, envelope or polygon vertices) per query, from the seed.
   *  Selectivity and kind follow golden-ratio sequences from a seeded
   *  start, so any run of consecutive queries covers selectivities from
   *  0.01% to 5% evenly and is about 70% windows. */
  private val queries: IndexedSeq[(String, Seq[(Double, Double)])] = {
    val r = new SplittableRandom(seed * 31 + 5)
    val (u0, v0) = (r.nextDouble(), r.nextDouble())
    def frac(x: Double) = x - math.floor(x)
    (0 until queryCount).map { q =>
      val area = logUniform(frac(u0 + q * 0.6180339887498949), 1e-4, 5e-2) * side * side
      if (frac(v0 + q * 0.4142135623730951) < 0.7) {
        val aspect = 0.5 + r.nextDouble() * 1.5
        val w = math.sqrt(area * aspect); val h = area / w
        val x0 = r.nextDouble() * (side - w); val y0 = r.nextDouble() * (side - h)
        ("window", Seq((x0, y0), (x0 + w, y0 + h)))
      } else {
        val n = 5 + r.nextInt(36)
        val rad = math.sqrt(2 * area / (n * math.sin(2 * math.Pi / n)))
        val cx = rad + r.nextDouble() * (side - 2 * rad); val cy = rad + r.nextDouble() * (side - 2 * rad)
        ("polygon", regularPolygon(cx, cy, rad, r.nextDouble() * 2 * math.Pi, n))
      }
    }
  }

  def cycle: Int = 10

  /** Operation i: every tenth is an append of the next batch, the others
   *  walk the query list. */
  def op(i: Int): OpSpec =
    if (i % 10 == 9) {
      val b = (i / 10) % batches
      OpSpec("append", "append", b, Json.obj("batch" -> b))
    } else {
      val q = (i - i / 10) % queryCount
      OpSpec("query", queries(q)._1, q, queryJson(q))
    }

  private def queryJson(q: Int): String = Json.obj("q" -> q, "kind" -> queries(q)._1,
    "coords" -> queries(q)._2.map { case (x, y) => Json.Raw(Json.value(Seq(x, y))) })

  private var tableRows = 0L
  def rows(op: OpSpec): Long = if (op.kind == "append") batchRows else tableRows

  def setup(): Unit = {
    spark.range(base).selectExpr("id",
      s"${hashUniform(seed, 11)} * $side AS x", s"${hashUniform(seed, 12)} * $side AS y")
      .write.mode("overwrite").parquet(s"$dir/base")
    spark.range(batches * batchRows).selectExpr(s"id + $base AS id",
      s"CAST(id DIV $batchRows AS INT) AS batch",
      s"${hashUniform(seed, 13)} * $side AS x", s"${hashUniform(seed, 14)} * $side AS y")
      .write.mode("overwrite").parquet(s"$dir/appends")
    GeoTable.writeClustered(
      spark.read.parquet(s"$dir/base").selectExpr("id", "x", "y", "ST_Point(x, y) AS geom"),
      "geom", table, extent, numFiles = 16)
    GeoTableLog.enable(spark, table)
    tableRows = base
    filesBefore = partFiles
  }

  private def predicate(q: Int): String = queries(q) match {
    case ("window", Seq((x0, y0), (x1, y1))) => s"ST_Within(geom, ST_MakeEnvelope($x0, $y0, $x1, $y1))"
    case (_, vs) => s"ST_Intersects(geom, ST_GeomFromText('${wkt(vs)}'))"
  }

  def run(op: OpSpec, t: Tracer): OpOutput = op.kind match {
    case "append" =>
      val batch = spark.read.parquet(s"$dir/appends").where(col("batch") === op.arg)
        .selectExpr("id", "x", "y", "ST_Point(x, y) AS geom")
      t.span("sources", "GeoTable.appendClustered") {
        GeoTable.appendClustered(batch, "geom", table, extent)
      }
      tableRows += batchRows
      OpOutput("{}", null)
    case _ =>
      t.span("sources", "GeoTable.readGeoParquet") {
        GeoTable.readGeoParquet(spark, table).createOrReplaceTempView("t")
      }
      val (df, out) = sqlQuery(spark, t,
        s"SELECT count(*) AS n, coalesce(sum(id), 0) AS s FROM t WHERE ${predicate(op.arg)}")
      OpOutput(Json.obj("n" -> out(0).getLong(0), "s" -> out(0).getLong(1)), df)
  }

  private def partFiles: Int =
    Option(new java.io.File(table).list()).getOrElse(Array.empty[String])
      .count(n => n.startsWith("part-") && n.endsWith(".parquet"))

  private var filesBefore = 0
  override def check(op: OpSpec): String =
    if (op.kind != "append") "null"
    else {
      val files = partFiles
      val added = files - filesBefore
      filesBefore = files
      Json.obj("table_rows" -> spark.read.parquet(table).count(), "files_added" -> added)
    }

  def fixture: String = Json.obj("base" -> s"$dir/base", "appends" -> s"$dir/appends",
    "table" -> table, "rows" -> base, "batch_rows" -> batchRows,
    "queries" -> queries.indices.map(q => Json.Raw(queryJson(q))))
}

/** Training-data pipeline over a corpus with planted exact and near
 *  duplicates: exact dedup, MinHash-LSH candidates with signature
 *  verification, then sequence packing of the survivors. */
final class CorpusDedup(spark: SparkSession, dir: String, seed: Long) extends Workload {
  val originals = 6000
  val exactCopies = 750
  val nearCopies = 750
  val docs: Long = originals + exactCopies + nearCopies
  val numHashes = 16
  val bands = 8
  val verifyAt = 0.5
  val budget = 2048L
  private val vocab = 20000

  def cycle: Int = 3

  def op(i: Int): OpSpec = i % 3 match {
    case 0 => OpSpec("exact", "exact", 0, "{}")
    case 1 => OpSpec("minhash", "minhash", 0, Json.obj("hashes" -> numHashes, "bands" -> bands, "verify_at" -> verifyAt))
    case _ => OpSpec("pack", "pack", 0, Json.obj("budget" -> budget, "seed" -> seed))
  }

  def rows(op: OpSpec): Long = docs

  private def word(k: Int): String = {
    val b = new StringBuilder("w")
    var v = k
    do { b += ('a' + v % 26).toChar; v /= 26 } while (v > 0)
    b.toString
  }

  /** stage 2: kept by both dedup steps; 1: a near copy, kept by exact
   *  dedup only; 0: an exact copy. Copies get ids above every original.
   *  Only the oracle reads `stage`, to check the planted duplicates. */
  def setup(): Unit = {
    val r = new SplittableRandom(seed * 104729 + 3)
    val texts = Array.fill(originals) {
      val n = 40 + r.nextInt(61)
      Array.fill(n)(word(r.nextInt(vocab)))
    }
    val order = (0 until originals).toArray
    (originals - 1 to 1 by -1).foreach { i =>
      val j = r.nextInt(i + 1); val tmp = order(i); order(i) = order(j); order(j) = tmp
    }
    val rows = new java.util.ArrayList[Row]()
    texts.zipWithIndex.foreach { case (w, id) => rows.add(Row(id.toLong, w.mkString(" "), w.length, 2)) }
    (0 until exactCopies).foreach { k =>
      val w = texts(order(k))
      rows.add(Row((originals + k).toLong, w.mkString(" "), w.length, 0))
    }
    (0 until nearCopies).foreach { k =>
      val w = texts(order(exactCopies + k)).clone()
      var repl = word(r.nextInt(vocab))
      while (repl == w.last) repl = word(r.nextInt(vocab))
      w(w.length - 1) = repl
      rows.add(Row((originals + exactCopies + k).toLong, w.mkString(" "), w.length, 1))
    }
    val schema = StructType(Seq(StructField("id", LongType), StructField("text", StringType),
      StructField("ntok", IntegerType), StructField("stage", IntegerType)))
    spark.createDataFrame(rows, schema).repartition(4).write.mode("overwrite").parquet(s"$dir/corpus")
  }

  // The pipeline's frames, handed from each step to the next as a user
  // chains them: exact's survivors (not persisted, so later steps pay its
  // lineage again), then the persisted candidate pairs for pack.
  private var kept: DataFrame = _
  private var cands: DataFrame = _

  def run(op: OpSpec, t: Tracer): OpOutput = op.kind match {
    case "exact" =>
      val in = t.span("sources", "read.parquet") {
        spark.read.parquet(s"$dir/corpus").select("id", "text", "ntok")
      }
      t.span("operators", "Dedup.exact") {
        kept = Dedup.exact(in, col("id"), col("text"))
        val sums = kept.agg(count(lit(1)), coalesce(sum("id"), lit(0L)),
          coalesce(sum(col("id") * col("id")), lit(0L)))
        val r = force(t, sums)(0)
        OpOutput(Json.obj("n" -> r.getLong(0), "s" -> r.getLong(1), "sq" -> r.getLong(2)), sums)
      }
    case "minhash" =>
      t.span("operators", "Dedup.minhashCandidates") {
        cands = Dedup.minhashCandidates(kept, col("id"), col("text"), numHashes = numHashes, bands = bands)
        val ok = col("est_jaccard") >= verifyAt
        val sums = cands.agg(count(lit(1)),
          coalesce(sum(when(ok, 1L).otherwise(0L)), lit(0L)),
          coalesce(sum(when(ok, col("id_a") * 1000003L + col("id_b")).otherwise(0L)), lit(0L)))
        val r = force(t, sums)(0)
        OpOutput(Json.obj("candidates" -> r.getLong(0), "verified" -> r.getLong(1), "vsum" -> r.getLong(2)),
          sums, held = Seq(cands))
      }
    case _ =>
      // survivors: exact's survivors less the later document of each verified pair
      val dropped = cands.where(col("est_jaccard") >= verifyAt).select(col("id_b").as("id"))
      val survivors = kept.join(dropped, Seq("id"), "left_anti")
      t.span("operators", "Packing.packSequences") {
        val packed = Packing.packSequences(survivors, col("id"), col("ntok"), budget, seed)
        val sums = packed.agg(count(lit(1)), sum("seq_id"), sum("seq_offset"),
          sum(col("id") * col("seq_id")), sum(col("id") * col("seq_offset")), max("seq_id"))
        val r = force(t, sums)(0)
        val held = cands
        OpOutput(Json.obj("n" -> r.getLong(0), "seq_sum" -> r.getLong(1), "off_sum" -> r.getLong(2),
          "id_seq" -> r.getLong(3), "id_off" -> r.getLong(4), "seq_max" -> r.getLong(5)),
          sums, () => { packed.unpersist(blocking = false); held.unpersist(blocking = false) })
      }
  }

  def fixture: String = Json.obj("corpus" -> s"$dir/corpus", "rows" -> docs, "originals" -> originals,
    "exact_copies" -> exactCopies, "near_copies" -> nearCopies, "hashes" -> numHashes, "bands" -> bands,
    "verify_at" -> verifyAt, "budget" -> budget, "seed" -> seed)
}
