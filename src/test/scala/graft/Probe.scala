package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Scratch profiling harness for the optimization rounds (not part of
  * the driver contract). Lives in the TEST source set so it never
  * ships in the library artifact (ADVICE r16); run with
  * `sbt "Test/runMain graft.Probe <case> [args]"`. */
object Probe {
  def main(args: Array[String]): Unit = {
    val what = args.headOption.getOrElse("minhash_phases")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toInt)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    Graft.install(spark)
    import graft.GeoFunctions._

    def time(label: String)(body: => Any): Double = {
      val t0 = System.nanoTime()
      val r = body
      val dt = (System.nanoTime() - t0) / 1e9
      println(f"[probe] $label%-40s $dt%8.3f s   ($r)")
      dt
    }

    what match {
      case "minhash_phases" =>
        val n = args.lift(1).map(_.toLong).getOrElse(10000000L)
        def docs(m: Long): org.apache.spark.sql.DataFrame = spark.range(m)
          .selectExpr("id", s"CASE WHEN (id DIV 2) % 5 = 0 THEN id DIV 2 ELSE $m + id END AS base")
          .selectExpr("id",
            "concat('w', base*7 % 1000000007, ' w', (base*11+1) % 1000000007, " +
            "' w', (base*13+2) % 1000000007, ' w', (base*17+3) % 1000000007, " +
            "' w', (base*19+4) % 1000000007, ' w', (base*23+5) % 1000000007) AS text")
        // warm
        locally {
          graft.operators.Dedup.minhashCandidates(docs(1000000L), col("id"), col("text"), 16, 4, 3)
            .filter(col("est_jaccard") >= 0.9).agg(count(lit(1))).collect()
          ()
        }
        (1 to 2).foreach { trial =>
          println(s"--- trial $trial, n=$n ---")
          // phase 0: raw doc generation + signature compute, no persist
          time("sig compute (no persist, agg only)") {
            docs(n).select(graft.operators.Dedup.minhashSignature(col("text"), 16, 3).as("s"))
              .agg(sum(element_at(col("s"), 1).cast("long"))).collect()(0).getLong(0)
          }
          val sigs = docs(n).select(col("id").as("__id"),
            graft.operators.Dedup.minhashSignature(col("text"), 16, 3).as("__sig"))
            .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
          time("A: sigs persist+count") { sigs.count() }
          val banded = graft.operators.Dedup.bandBuckets(sigs, 16, 4)
          time("B0: banded count (from cache)") { banded.count() }
          val pairs0 = banded.as("a").join(banded.as("b"),
              col("a.band") === col("b.band") && col("a.bh") === col("b.bh") &&
                col("a.__id") < col("b.__id"))
            .select(col("a.__id").as("id_a"), col("b.__id").as("id_b"))
          time("B1: band self-join (no distinct)") { pairs0.count() }
          val pairs = pairs0.distinct()
          time("B2: +distinct") { pairs.count() }
          val full = pairs
            .join(sigs.select(col("__id").as("id_a"), col("__sig").as("__sa")), "id_a")
            .join(sigs.select(col("__id").as("id_b"), col("__sig").as("__sb")), "id_b")
            .withColumn("est_jaccard",
              expr("size(filter(zip_with(__sa, __sb, (x, y) -> x = y), v -> v)) / cast(size(__sa) AS double)"))
          time("C: sig re-join + est + agg") {
            full.filter(col("est_jaccard") >= 0.9)
              .agg(count(lit(1)), sum(col("id_a") + col("id_b"))).collect()(0).getLong(0)
          }
          sigs.unpersist(blocking = true)
        }

      case "minhash_real" =>
        val n = args.lift(1).map(_.toLong).getOrElse(10000000L)
        def docs(m: Long): org.apache.spark.sql.DataFrame = spark.range(m)
          .selectExpr("id", s"CASE WHEN (id DIV 2) % 5 = 0 THEN id DIV 2 ELSE $m + id END AS base")
          .selectExpr("id",
            "concat('w', base*7 % 1000000007, ' w', (base*11+1) % 1000000007, " +
            "' w', (base*13+2) % 1000000007, ' w', (base*17+3) % 1000000007, " +
            "' w', (base*19+4) % 1000000007, ' w', (base*23+5) % 1000000007) AS text")
        def run(m: Long): Long =
          graft.operators.Dedup.minhashCandidates(docs(m), col("id"), col("text"), 16, 4, 3)
            .filter(col("est_jaccard") >= 0.9)
            .agg(count(lit(1)), sum(col("id_a") + col("id_b"))).collect()(0).getLong(0)
        run(1000000L)
        (1 to 3).foreach { t => time(s"minhash_real n=$n trial $t") { run(n) } }

      case "minhash_cached" =>
        val n = args.lift(1).map(_.toLong).getOrElse(10000000L)
        def docs(m: Long): org.apache.spark.sql.DataFrame = spark.range(m)
          .selectExpr("id", s"CASE WHEN (id DIV 2) % 5 = 0 THEN id DIV 2 ELSE $m + id END AS base")
          .selectExpr("id",
            "concat('w', base*7 % 1000000007, ' w', (base*11+1) % 1000000007, " +
            "' w', (base*13+2) % 1000000007, ' w', (base*17+3) % 1000000007, " +
            "' w', (base*19+4) % 1000000007, ' w', (base*23+5) % 1000000007) AS text")
        def run(m: Long): Long = {
          import graft.operators.Dedup
          val lvl = org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
          val sigs = docs(m).select(col("id").as("__id"),
            Dedup.minhashSignature(col("text"), 16, 3).as("__sig")).persist(lvl)
          val banded = Dedup.bandBuckets(sigs, 16, 4)
            .repartition(col("band"), col("bh")).persist(lvl)
          val pairs = banded.as("a").join(banded.as("b"),
              col("a.band") === col("b.band") && col("a.bh") === col("b.bh") &&
                col("a.__id") < col("b.__id"))
            .select(col("a.__id").as("id_a"), col("b.__id").as("id_b"))
            .distinct()
          val full = pairs.hint("shuffle_hash")
            .join(sigs.select(col("__id").as("id_a"), col("__sig").as("__sa")), "id_a")
            .hint("shuffle_hash")
            .join(sigs.select(col("__id").as("id_b"), col("__sig").as("__sb")), "id_b")
            .withColumn("est_jaccard",
              expr("size(filter(zip_with(__sa, __sb, (x, y) -> x = y), v -> v)) / cast(size(__sa) AS double)"))
          val out = full.filter(col("est_jaccard") >= 0.9)
            .agg(count(lit(1)), sum(col("id_a") + col("id_b"))).collect()(0).getLong(0)
          banded.unpersist(blocking = false)
          sigs.unpersist(blocking = false)
          out
        }
        run(1000000L)
        (1 to 3).foreach { t => time(s"minhash_cached n=$n trial $t") { run(n) } }

      case "ivf_plan" =>
        def ivfVecSql(idExpr: String): String = {
          def w = s"((($idExpr)*37 + d*11)*48271 % 1000003)"
          s"transform(sequence(0, 7), d -> CAST($w * ($w + 13) % 1000003 AS DOUBLE) / 1000003.0)"
        }
        val n = args.lift(1).map(_.toLong).getOrElse(100000L)
        val corpus = spark.range(n).selectExpr("id", s"${ivfVecSql("id")} AS v")
        val cents = spark.range(8L).selectExpr("id AS cid", s"${ivfVecSql("id*1237 + 101")} AS cv")
        val qs = spark.range(8L).selectExpr("id AS qid", s"${ivfVecSql("id*7717 + 3")} AS qv")
        val out = graft.operators.Similarity.ivfTopK(corpus, qs, cents,
            col("id"), col("v"), col("qid"), col("qv"), col("cid"), col("cv"),
            k = 10, nprobe = 2)
          .agg(count(lit(1)), sum("corpus_id"),
            sum(expr("CAST(round(cosine * 1e6, 0) AS BIGINT)")))
        out.collect()
        println(out.queryExecution.explainString(org.apache.spark.sql.execution.ExplainMode.fromString("formatted")))

      case "dedup_phases" =>
        val n = args.lift(1).map(_.toLong).getOrElse(100000000L)
        def docs(m: Long): org.apache.spark.sql.DataFrame = spark.range(m).select(col("id"),
          concat(lit("document body text "), expr(s"CAST(id % ${m / 2} AS STRING)")).as("text"))
        def dedupN(m: Long): Long =
          graft.operators.Dedup.exact(docs(m), col("id"), col("text"))
            .agg(count(lit(1)), sum(length(col("text")))).collect()(0).getLong(0)
        dedupN(1000000L)
        (1 to 2).foreach { trial =>
          println(s"--- trial $trial, n=$n ---")
          time("docs gen floor (sum length)") {
            docs(n).agg(sum(length(col("text")))).collect()(0).getLong(0)
          }
          time("keep ids (groupBy md5 min)") {
            docs(n).select(md5(col("text").cast("binary")).as("__k"), col("id").as("__id"))
              .groupBy("__k").agg(min("__id").as("__keep_id"))
              .agg(count(lit(1))).collect()(0).getLong(0)
          }
          time("full exact dedup") { dedupN(n) }
        }
        println(graft.operators.Dedup.exact(docs(1000L), col("id"), col("text"))
          .agg(count(lit(1))).queryExecution.explainString(org.apache.spark.sql.execution.ExplainMode.fromString("formatted")))

      case "dedup_variants" =>
        // r17: keep-agg key width (hex vs binary md5) x semi-join
        // strategy (planner SMJ vs keep-side SHUFFLE_HASH build)
        val n = args.lift(1).map(_.toLong).getOrElse(100000000L)
        def docs(m: Long): org.apache.spark.sql.DataFrame = spark.range(m).select(col("id"),
          concat(lit("document body text "), expr(s"CAST(id % ${m / 2} AS STRING)")).as("text"))
        def exactV(df: org.apache.spark.sql.DataFrame, bin: Boolean, hint: Boolean) = {
          val key = if (bin) unhex(md5(col("text").cast("binary"))) else md5(col("text").cast("binary"))
          val keep = df.select(key.as("__k"), col("id").as("__id"))
            .groupBy("__k").agg(min("__id").as("__keep_id")).select("__keep_id")
          val ks = if (hint) keep.hint("shuffle_hash") else keep
          df.join(ks, col("id") === col("__keep_id"), "left_semi")
        }
        def run(df: org.apache.spark.sql.DataFrame): Long =
          df.agg(count(lit(1)), sum(length(col("text")))).collect()(0).getLong(0)
        run(exactV(docs(1000000L), bin = true, hint = false)) // warm
        time("map floor: md5-bin project+count") {
          docs(n).select(unhex(md5(col("text").cast("binary"))).as("k"), col("id"))
            .agg(count(col("k"))).collect()(0).getLong(0)
        }
        time("keep-agg bin, 32 parts") {
          docs(n).select(unhex(md5(col("text").cast("binary"))).as("k"), col("id").as("i"))
            .groupBy("k").agg(min("i")).agg(count(lit(1))).collect()(0).getLong(0)
        }
        time("keep-agg bin, repart-first") {
          docs(n).select(unhex(md5(col("text").cast("binary"))).as("k"), col("id").as("i"))
            .repartition(col("k"))
            .groupBy("k").agg(min("i")).agg(count(lit(1))).collect()(0).getLong(0)
        }
        // the SHJ-hint variant is MEASURED FATAL at 100M in the 8g
        // session: "Can't acquire 67108864 bytes memory to build hash
        // relation" (50M survivor ids / 32 partitions build ~60+ MB per
        // task and SHJ cannot spill) — kept callable for re-checks via
        // `dedup_variants <n> shj`, never in the default A/B
        val withShj = args.lift(2).contains("shj")
        (1 to 2).foreach { trial =>
          println(s"--- trial $trial, n=$n ---")
          time("full hex SMJ") { run(exactV(docs(n), bin = false, hint = false)) }
          time("full bin SMJ") { run(exactV(docs(n), bin = true, hint = false)) }
          if (withShj) time("full bin SHJ-hint") { run(exactV(docs(n), bin = true, hint = true)) }
        }
        println(exactV(docs(n), bin = true, hint = false)
          .queryExecution.explainString(org.apache.spark.sql.execution.ExplainMode.fromString("formatted")))

      case "dsir" =>
        val n = args.lift(1).map(_.toLong).getOrElse(1000000L)
        def docs(m: Long): org.apache.spark.sql.DataFrame = spark.range(m).selectExpr("id",
          "concat('alpha w', CAST(id % 997 AS STRING), ' beta w', " +
            "CAST((id*7+3) % 997 AS STRING), ' gamma w', " +
            "CAST((id*13+11) % 997 AS STRING)) AS text",
          "id % 20 = 0 AS tgt")
        def run(m: Long): Long =
          graft.operators.Sampling.dsirSelect(docs(m), col("id"), col("text"),
              col("tgt"), k = 1000, buckets = 1024)
            .agg(count(lit(1)), sum("key_micro")).collect()(0).getLong(0)
        run(100000L)
        (1 to 3).foreach { t => time(s"dsir n=$n trial $t") { run(n) } }

      case "minhash_plan" =>
        val docs = spark.range(1000000L)
          .selectExpr("id", "CASE WHEN (id DIV 2) % 5 = 0 THEN id DIV 2 ELSE 1000000 + id END AS base")
          .selectExpr("id",
            "concat('w', base*7 % 1000000007, ' w', (base*11+1) % 1000000007, " +
            "' w', (base*13+2) % 1000000007, ' w', (base*17+3) % 1000000007, " +
            "' w', (base*19+4) % 1000000007, ' w', (base*23+5) % 1000000007) AS text")
        val sigs = docs.select(col("id").as("__id"),
          graft.operators.Dedup.minhashSignature(col("text"), 16, 3).as("__sig"))
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        sigs.count()
        val out = graft.operators.Dedup.minhashCandidatesFromSigs(sigs, 16, 4)
          .filter(col("est_jaccard") >= 0.9)
          .agg(count(lit(1)), sum(col("id_a") + col("id_b")))
        out.collect()
        println(out.queryExecution.explainString(org.apache.spark.sql.execution.ExplainMode.fromString("formatted")))

      case "spatial_phases" =>
        val n = args.lift(1).map(_.toLong).getOrElse(10000000L)
        def lcgPts(m: Long) = spark.range(m).select(col("id"),
          st_point(expr("((id*2+1)*48271 % 2147483647)/21474836.47"),
            expr("((id*2+7)*16807 % 2147483647)/21474836.47")).as("pt"))
        val zones25 = spark.range(25).select(col("id").as("zid"),
          st_makeenvelope(expr("CAST(id % 5 * 20 AS DOUBLE)"), expr("CAST(id DIV 5 * 20 AS DOUBLE)"),
            expr("CAST(id % 5 * 20 + 20 AS DOUBLE)"), expr("CAST(id DIV 5 * 20 + 20 AS DOUBLE)")).as("zone"))
        def fullJoin(m: Long): Long =
          graft.operators.SpatialJoin.join(lcgPts(m), zones25, col("pt"), col("zone"), "st_within", cellSize = 20.0)
            .groupBy("zid").count().agg(count(lit(1)), sum("count")).collect()(0).getLong(0)
        fullJoin(1000000L) // warm
        (1 to 2).foreach { trial =>
          println(s"--- trial $trial, n=$n ---")
          time("gen pts + count (scan floor)") { lcgPts(n).select(sum(length(col("pt")))).collect()(0).getLong(0) }
          time("gen pts + st_extent agg") {
            lcgPts(n).select(st_extent(col("pt")).as("b"))
              .agg(sum(col("b.min_x") + col("b.max_y"))).collect()(0).getDouble(0).toLong
          }
          time("full grid join (st_within)") { fullJoin(n) }
        }
        println(graft.operators.SpatialJoin.join(lcgPts(1000L), zones25, col("pt"), col("zone"), "st_within", cellSize = 20.0)
          .groupBy("zid").count().queryExecution.explainString(org.apache.spark.sql.execution.ExplainMode.fromString("formatted")))

      case other => sys.error(s"unknown probe: $other")
    }
    spark.stop()
  }
}
