package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/**
 * Single-workload bench harness for isolating session-state effects:
 * runs ONE named workload in a FRESH SparkSession and prints its
 * timing. Used to bisect cross-workload interference that the full
 * [[Bench]] run can't separate (cache blocks, codegen cache, shuffle
 * files accumulating in one long-lived session).
 */
object BenchOne {
  def main(args: Array[String]): Unit = {
    val name = args.headOption.getOrElse("clustered_write")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toInt * 2)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    Graft.install(spark)
    import graft.GeoFunctions._

    def genPts(n: Long) = spark.range(n).select(
      st_point(pmod(hash(col("id") * 2), lit(10000000)).cast("double") / 1000.0,
        pmod(hash(col("id") * 2 + 1), lit(10000000)).cast("double") / 1000.0).as("geom"))
    def time(body: => Unit): Double = {
      val t0 = System.nanoTime(); body; (System.nanoTime() - t0) / 1e9
    }

    name match {
      case "clustered_write" =>
        val path = "/tmp/graft-benchone-clustered"
        graft.sources.GeoTable.writeClustered(genPts(500000L), "geom", path + "-warm",
          (0.0, 0.0, 10000.0, 10000.0), numFiles = 4)
        val trials = (1 to 3).map { _ =>
          time { graft.sources.GeoTable.writeClustered(genPts(10000000L), "geom", path,
            (0.0, 0.0, 10000.0, 10000.0), numFiles = 64) }
        }
        println(f"clustered_write_10m trials: ${trials.map(t => f"$t%.2f").mkString(", ")}")
      case "native" =>
        def nativeCount(n: Long): Long = {
          val pts = spark.range(n).select(struct(
            (pmod(hash(col("id") * 2), lit(10000000)).cast("double") / 1000.0).as("x"),
            (pmod(hash(col("id") * 2 + 1), lit(10000000)).cast("double") / 1000.0).as("y")).as("pt"))
          pts.filter(col("pt.x") > 450.0 && col("pt.x") < 650.0 &&
            col("pt.y") > 450.0 && col("pt.y") < 650.0).count()
        }
        nativeCount(1000000L)
        val trials = (1 to 3).map(_ => time { nativeCount(10000000L) })
        println(f"points_envelope_10m_native trials: ${trials.map(t => f"$t%.2f").mkString(", ")}")
      case "skew_join" =>
        // the Bench spatial_join_{uniform,hot30}_2m pair in isolation
        spark.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "1.5")
        spark.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", (8L << 20).toString)
        spark.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", (4L << 20).toString)
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        def skewPts(hot: Boolean, n: Long) = spark.range(n).select(col("id"),
          st_point(
            when(lit(hot) && col("id") % 10 < 3, lit(10.5))
              .otherwise(pmod(hash(col("id") * 2), lit(1000000)).cast("double") / 10000.0),
            when(lit(hot) && col("id") % 10 < 3, lit(10.5))
              .otherwise(pmod(hash(col("id") * 2 + 1), lit(1000000)).cast("double") / 10000.0)).as("pt"))
        val zones = spark.range(25).select(col("id").as("zid"),
          st_makeenvelope(expr("CAST(id % 5 * 20 AS DOUBLE)"), expr("CAST(id DIV 5 * 20 AS DOUBLE)"),
            expr("CAST(id % 5 * 20 + 20 AS DOUBLE)"), expr("CAST(id DIV 5 * 20 + 20 AS DOUBLE)")).as("zone"))
        import org.apache.spark.sql.execution.SparkPlan
        import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, AQEShuffleReadExec, QueryStageExec}
        def collectAll(p: SparkPlan): Seq[SparkPlan] = {
          val below = p match {
            case q: QueryStageExec => collectAll(q.plan)
            case _ => p.children.flatMap(collectAll)
          }
          p +: below
        }
        def run(hot: Boolean, n: Long): Long = {
          val agg = graft.operators.SpatialJoin.join(skewPts(hot, n), zones,
              col("pt"), col("zone"), "st_within", cellSize = 20.0)
            .groupBy("zid").count()
          val c = agg.collect().length
          val finalPlan = agg.queryExecution.executedPlan match {
            case a: AdaptiveSparkPlanExec => a.executedPlan
            case p => p
          }
          val sk = collectAll(finalPlan).collect { case r: AQEShuffleReadExec => r }
            .flatMap(_.metrics.get("numSkewedPartitions").map(_.value)).sum
          println(s"  [skew_join hot=$hot n=$n skewedPartitions=$sk]")
          c.toLong
        }
        run(hot = false, 400000L); run(hot = true, 400000L) // warm
        Seq(false, true).foreach { hot =>
          val trials = (1 to 3).map(_ => time { run(hot, 2000000L) })
          val label = if (hot) "hot30" else "uniform"
          println(f"spatial_join_${label}_2m trials: ${trials.map(t => f"$t%.2f").mkString(", ")}")
        }
      case "pagerank" =>
        // isolates the r8 loop change (single materializing job instead
        // of a count per iteration) for a before/after on wall time
        def pagerankN(n: Long, mod: Long): Long = {
          val edges = spark.range(n).selectExpr(
            s"id % $mod AS src", s"(id DIV $mod * 13 + id * 7 + 3) % $mod AS dst")
          val r = graft.operators.LinkGraph.pageRankMicro(
            edges, col("src"), col("dst"), iterations = 5)
          val out = r.agg(count(lit(1)), sum("rank_micro")).collect()(0)
          println(s"  [pagerank n=${out.getLong(0)} sum=${out.getLong(1)}]")
          r.unpersist(blocking = false)
          out.getLong(0)
        }
        pagerankN(1000000L, 10000L)
        val trials = (1 to 3).map(_ => time { pagerankN(10000000L, 100000L) })
        println(f"pagerank_10m trials: ${trials.map(t => f"$t%.2f").mkString(", ")}")
      case "asof100m" =>
        def asofN(nL: Long, nR: Long, keys: Long): Long = {
          val l = spark.range(nL).selectExpr("id AS lid",
            s"id % $keys AS k", "(id * 48271 % 2147483647) % 10000 AS t")
          val r = spark.range(nR).selectExpr(s"id % $keys AS k",
            s"(id DIV $keys) * 1000 + (id % $keys) % 37 AS rt", "id AS amount")
          val out = graft.operators.AsofJoin.asofJoin(l, r, "k", "t", "rt")
            .agg(count(lit(1)), count(col("asof_rt")),
              sum(coalesce(col("amount"), lit(0L)))).collect()(0)
          println(s"  [asof n=${out.getLong(0)} m=${out.getLong(1)} s=${out.getLong(2)}]")
          out.getLong(0)
        }
        asofN(1000000L, 100000L, 10000L)
        val trials = (1 to 3).map(_ => time { asofN(100000000L, 1000000L, 100000L) })
        println(f"asof_join_100m trials: ${trials.map(t => f"$t%.2f").mkString(", ")}")
      case "range100m" =>
        def rangeJoinN(nP: Long, nI: Long): Long = {
          val p = spark.range(nP).selectExpr("id AS pid",
            "(id * 16807 % 2147483647) % 10000000 AS x")
          val iv = spark.range(nI).selectExpr("id AS iid", "id * 9973 % 10000000 AS s")
            .selectExpr("iid", "s", "s + 200 + iid % 800 AS e")
          val out = graft.operators.RangeJoin.pointInInterval(p, iv,
              col("x"), col("s"), col("e"), binWidth = 1024L)
            .agg(count(lit(1)), sum("x"), sum("iid")).collect()(0)
          println(s"  [range n=${out.getLong(0)} sx=${out.getLong(1)} si=${out.getLong(2)}]")
          out.getLong(0)
        }
        rangeJoinN(1000000L, 1000L)
        val trials = (1 to 3).map(_ => time { rangeJoinN(100000000L, 10000L) })
        println(f"range_join_100m trials: ${trials.map(t => f"$t%.2f").mkString(", ")}")
      case "pack" =>
        // the Bench pack_10m kernel isolated (r16: quiet-window
        // root-cause of the r15 inter-round slowdown)
        def packN(n: Long): Long = {
          val docs = spark.range(n).select(col("id"),
            (lit(1) + pmod(col("id") * 37, lit(100))).as("tok"))
          val out = graft.operators.Packing.packSequences(
            docs, col("id"), col("tok"), budget = 2048L, seed = 1L)
          val r = out.agg(count(lit(1)), sum("seq_id"), sum("seq_offset"))
            .collect()(0)
          println(s"  [pack n=${r.getLong(0)} s1=${r.getLong(1)} s2=${r.getLong(2)}]")
          out.unpersist(blocking = false)
          r.getLong(0)
        }
        val nP = args.lift(1).map(_.toLong).getOrElse(10000000L)
        packN(1000000L)
        val trials = (1 to 3).map(_ => time { packN(nP) })
        println(f"pack trials: ${trials.map(t => f"$t%.2f").mkString(", ")}")
      case "dedup100m" =>
        def dedupN(n: Long): Long = {
          val docs = spark.range(n).selectExpr("id",
            s"concat('document body text ', CAST(id % ${n / 2} AS STRING)) AS text")
          val out = graft.operators.Dedup.exact(docs, col("id"), col("text"))
            .agg(count(lit(1)), sum(length(col("text")))).collect()(0)
          println(s"  [dedup n=${out.getLong(0)} s=${out.getLong(1)}]")
          out.getLong(0)
        }
        val nD = args.lift(1).map(_.toLong).getOrElse(100000000L)
        dedupN(1000000L)
        val trials = (1 to 3).map(_ => time { dedupN(nD) })
        println(f"dedup trials: ${trials.map(t => f"$t%.2f").mkString(", ")}")
      case "dedupnorm" =>
        // session-interaction bisect: does a prior 100M dedup slow the
        // norm kernel in the same JVM?
        def dedupN(n: Long): Long = {
          val docs = spark.range(n).selectExpr("id",
            s"concat('document body text ', CAST(id % ${n / 2} AS STRING)) AS text")
          graft.operators.Dedup.exact(docs, col("id"), col("text"))
            .agg(count(lit(1)), sum(length(col("text")))).collect()(0).getLong(0)
        }
        def normN(n: Long): Long = {
          val vecs = spark.range(n).selectExpr(
            "transform(sequence(0, 7), d -> CAST(CAST((id*37 + d*11)*48271 % 1000003 AS DOUBLE) / 1000003.0 AS FLOAT)) AS v")
          vecs.select(
              expr("sqrt(aggregate(v, CAST(0.0 AS DOUBLE), (acc, x) -> acc + CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))").as("l2"),
              graft.operators.Similarity.cosine(col("v"),
                expr("transform(sequence(0, 7), d -> CAST(CAST((d*97 + 13)*48271 % 1000003 AS DOUBLE) / 1000003.0 AS FLOAT))")).as("c"))
            .agg(count(lit(1)), sum(expr("CAST(round(c * 1e6) AS BIGINT)")),
              sum(expr("CAST(round(l2 * 1e6) AS BIGINT)")))
            .collect()(0).getLong(0)
        }
        normN(1000000L)
        println(f"norm BEFORE dedup: ${time(normN(20000000L))}%.2f s")
        println(f"dedup 100m: ${time(dedupN(100000000L))}%.2f s")
        println(f"norm AFTER dedup: ${time(normN(20000000L))}%.2f s")
        println(f"norm AFTER dedup 2: ${time(normN(20000000L))}%.2f s")
      case "norm" =>
        def normN(n: Long): Long = {
          val vecs = spark.range(n).selectExpr(
            "transform(sequence(0, 7), d -> CAST(CAST((id*37 + d*11)*48271 % 1000003 AS DOUBLE) / 1000003.0 AS FLOAT)) AS v")
          val out = vecs.select(
              expr("sqrt(aggregate(v, CAST(0.0 AS DOUBLE), (acc, x) -> acc + CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))").as("l2"),
              graft.operators.Similarity.cosine(col("v"),
                expr("transform(sequence(0, 7), d -> CAST(CAST((d*97 + 13)*48271 % 1000003 AS DOUBLE) / 1000003.0 AS FLOAT))")).as("c"))
            .agg(count(lit(1)), sum(expr("CAST(round(c * 1e6) AS BIGINT)")),
              sum(expr("CAST(round(l2 * 1e6) AS BIGINT)"))).collect()(0)
          println(s"  [norm n=${out.getLong(0)} sc=${out.getLong(1)} sl=${out.getLong(2)}]")
          out.getLong(0)
        }
        val nN = args.lift(1).map(_.toLong).getOrElse(20000000L)
        normN(1000000L)
        val trials = (1 to 3).map(_ => time { normN(nN) })
        println(f"norm trials: ${trials.map(t => f"$t%.2f").mkString(", ")}")
      case "minhash" =>
        def minhashN(n: Long): Long = {
          val docs = spark.range(n)
            .selectExpr("id", s"CASE WHEN (id DIV 2) % 5 = 0 THEN id DIV 2 ELSE $n + id END AS base")
            .selectExpr("id",
              "concat('w', base*7 % 1000000007, ' w', (base*11+1) % 1000000007, " +
              "' w', (base*13+2) % 1000000007, ' w', (base*17+3) % 1000000007, " +
              "' w', (base*19+4) % 1000000007, ' w', (base*23+5) % 1000000007) AS text")
          val pairs = graft.operators.Dedup.minhashCandidates(docs, col("id"), col("text"),
            numHashes = 16, bands = 4, shingleSize = 3)
          val out = pairs.filter(col("est_jaccard") >= 0.9)
            .agg(count(lit(1)), sum(col("id_a") + col("id_b"))).collect()(0)
          println(s"  [minhash n=${out.getLong(0)} s=${out.getLong(1)}]")
          out.getLong(0)
        }
        val nM = args.lift(1).map(_.toLong).getOrElse(20000000L)
        minhashN(1000000L)
        val trials = (1 to 3).map(_ => time { minhashN(nM) })
        println(f"minhash trials: ${trials.map(t => f"$t%.2f").mkString(", ")}")
      case "spatialjoin" =>
        // the Bench spatial_join_10m/_100m kernel at an arg-selected
        // size, checksums printed (n should be 25 zones, s = points in
        // [0,100)^2 minus boundary exclusions)
        def spatialJoinN(n: Long): Long = {
          import graft.operators.SpatialJoin
          val pts = spark.range(n).select(col("id"),
            st_point(expr("((id*2+1)*48271 % 2147483647)/21474836.47"),
              expr("((id*2+7)*16807 % 2147483647)/21474836.47")).as("pt"))
          val zones = spark.range(25).select(col("id").as("zid"),
            st_makeenvelope(expr("CAST(id % 5 * 20 AS DOUBLE)"), expr("CAST(id DIV 5 * 20 AS DOUBLE)"),
              expr("CAST(id % 5 * 20 + 20 AS DOUBLE)"), expr("CAST(id DIV 5 * 20 + 20 AS DOUBLE)")).as("zone"))
          val out = SpatialJoin.join(pts, zones, col("pt"), col("zone"), "st_within", cellSize = 20.0)
            .groupBy("zid").count().agg(count(lit(1)), sum("count")).collect()(0)
          println(s"  [spatialjoin n=${out.getLong(0)} s=${out.getLong(1)}]")
          out.getLong(0)
        }
        val nS = args.lift(1).map(_.toLong).getOrElse(100000000L)
        spatialJoinN(1000000L)
        val trials = (1 to 3).map(_ => time { spatialJoinN(nS) })
        println(f"spatialjoin trials: ${trials.map(t => f"$t%.2f").mkString(", ")}")
      case "zorder" =>
        // the Bench z-order A/B in isolation: write + pruned vs plain scan
        import graft.operators.ZOrder
        def zRows(n: Long) = spark.range(n).selectExpr("id",
          "CAST(pmod(hash(id), 1024) AS BIGINT) AS a",
          "CAST(pmod(hash(id * 7 + 1), 1024) AS BIGINT) AS b")
        val n = args.lift(1).map(_.toLong).getOrElse(10000000L)
        val zDir = "/tmp/graft-benchone-zorder"
        val zPlain = zDir + "-plain"
        val tw = time { ZOrder.writeZOrdered(zRows(n), Seq(col("a"), col("b")),
          zDir, bitsPerCol = 10, numFiles = 64) }
        zRows(n).repartition(64).write.mode("overwrite").parquet(zPlain)
        def boxCount(path: String): Long = spark.read.parquet(path).filter(
          col("a").between(96L, 103L) && col("b").between(200L, 207L)).count()
        boxCount(zDir); boxCount(zPlain) // warm
        val tz = (1 to 3).map(_ => time { boxCount(zDir) })
        val tp = (1 to 3).map(_ => time { boxCount(zPlain) })
        println(f"zorder write $tw%.2f s; scan ${tz.map(t => f"$t%.3f").mkString(", ")} " +
          f"vs plain ${tp.map(t => f"$t%.3f").mkString(", ")} (n=${boxCount(zDir)} rows)")
      case "labelprop" =>
        // the r14 drift watch: labelprop_10m read 0.16x -> 1.02x in one
        // round (spark 2.76 -> 4.47 s in-session). Fresh-JVM trials
        // isolate the kernel from bench-session state.
        def labelPropN(n: Long, mod: Long): Long = {
          val edges = spark.range(n).selectExpr(
            s"id % $mod AS src", s"(id DIV $mod * 13 + id * 7 + 3) % $mod AS dst")
          val r = graft.operators.LinkGraph.labelPropagation(
            edges, col("src"), col("dst"), rounds = 3)
          val out = r.agg(count(lit(1)), sum("label")).collect()(0)
          println(s"  [labelprop n=${out.getLong(0)} s=${out.getLong(1)}]")
          r.unpersist(blocking = false)
          out.getLong(0)
        }
        labelPropN(1000000L, 10000L)
        val trials = (1 to 3).map(_ => time { labelPropN(10000000L, 100000L) })
        println(f"labelprop_10m trials: ${trials.map(t => f"$t%.2f").mkString(", ")}")
      case "ivf" =>
        // the Bench ivf_topk_10m kernel with its checksums printed —
        // for cross-engine parity checks against the DuckDB oracle
        def ivfVecSql(idExpr: String): String =
          {
        // w -> w*(w+13) mod P: NONLINEAR in d. A recipe linear in d makes
        // every same-slope vector an arithmetic progression -- all
        // cosines crowd 1.000000 and ties decide the ranking
        def w = s"((($idExpr)*37 + d*11)*48271 % 1000003)"
        s"transform(sequence(0, 7), d -> CAST($w * ($w + 13) % 1000003 AS DOUBLE) / 1000003.0)"
      }
        def ivfN(n: Long): Long = {
          val corpus = spark.range(n).selectExpr("id", s"${ivfVecSql("id")} AS v")
          val cents = spark.range(8L).selectExpr("id AS cid", s"${ivfVecSql("id*1237 + 101")} AS cv")
          val qs = spark.range(8L).selectExpr("id AS qid", s"${ivfVecSql("id*7717 + 3")} AS qv")
          val out = graft.operators.Similarity.ivfTopK(corpus, qs, cents,
              col("id"), col("v"), col("qid"), col("qv"), col("cid"), col("cv"),
              k = 10, nprobe = 2)
            .agg(count(lit(1)), sum("corpus_id"),
              sum(expr("CAST(round(cosine * 1e6, 0) AS BIGINT)")))
            .collect()(0)
          println(s"  [ivf n=${out.getLong(0)} s=${out.getLong(1)} cs=${out.getLong(2)}]")
          out.getLong(0)
        }
        val nV = args.lift(1).map(_.toLong).getOrElse(10000000L)
        ivfN(1000000L)
        val trials = (1 to 3).map(_ => time { ivfN(nV) })
        println(f"ivf trials: ${trials.map(t => f"$t%.2f").mkString(", ")}")
      case other => sys.error(s"unknown workload: $other")
    }
    spark.stop()
  }
}
