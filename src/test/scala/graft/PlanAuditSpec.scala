package graft

/**
 * Scale regression guard: every SparkEntry query must plan without the
 * operators that do not survive a 100x scale-up — CartesianProduct and
 * BroadcastNestedLoopJoin (the reference avoids the same trap by
 * rewriting arbitrary-predicate joins to comparison joins,
 * core/optimizer_rules.cpp:33-279; our SpatialJoinRule plays that
 * role, and the non-spatial queries must stay on equi-join paths).
 *
 * Runs at sf0.001: plan shape, not timing.
 */
class PlanAuditSpec extends SparkSpec {
  private val sfDir = "/root/testdata/sf0.001"

  // Brute-force similarity intentionally cross-joins the corpus with a
  // BROADCAST side that is small by construction (the query set /
  // centroid set / per-query ADC tables): the corpus never shuffles,
  // so the plan holds at 100 TB. Everything else must stay equi-join
  // (q_emb_ivfpq is NOT here: its probed-list candidate join is an
  // equi-join on the list id). q_doc_ngram_lm's cross attaches a
  // grouping-key-free aggregate — exactly ONE broadcast row by
  // construction (TextOps.ngramLogProb); its gram-scoring join is a
  // BroadcastHashJoin on the gram string.
  // The q_events_resample family (resample/rolling/anomaly) attaches
  // the global min/max period bounds as a ONE-row broadcast
  // (EventOps.resample): a constant join key would be folded away by
  // the optimizer, so the single-row attach necessarily plans as a
  // broadcast nested loop — same scalar-attach class as ngramLogProb.
  // q_emb_hamming is the same broadcast-queries class as q_emb_topk —
  // the corpus side carries only (id, 8-byte signature).
  private val intendedBroadcastCross =
    Set("q_emb_topk", "q_emb_ivf_topk", "q_emb_pq", "q_doc_ngram_lm", "q_doc_sbo_lm",
      "q_emb_hamming", "q_emb_ivf_indexed", // probe stage: queries × broadcast centroids

      "q_events_resample", "q_events_rolling", "q_events_anomaly",
      // broadcast 1-row certification ballast (count-distinct frame)
      "q_doc_hll", "q_doc_kmv",
      // DSIR fit pass: feature totals are a grouping-key-free aggregate
      // — exactly ONE broadcast row attached to the B-bucket count
      // table (Sampling.dsirLogRatios; the ngramLogProb scalar-attach
      // class)
      "q_doc_dsir")

  test("no query plans a cartesian or nested-loop join") {
    import scala.util.{Failure, Success, Try}
    // audit every query: one that cannot be built (a missing fixture)
    // is reported with the offenders instead of hiding the rest
    val plans = SparkEntry.queries.toSeq.sortBy(_._1).map { case (name, fn) =>
      name -> Try(fn(spark, sfDir).queryExecution.executedPlan.toString)
    }
    val offenders = plans.flatMap {
      case (name, Success(physical)) =>
        val disallowed = Seq("CartesianProduct") ++
          (if (intendedBroadcastCross(name)) Nil else Seq("BroadcastNestedLoopJoin"))
        val bad = disallowed.filter(physical.contains)
        if (bad.nonEmpty) Some(s"$name: ${bad.mkString(",")}") else None
      case _ => None
    }
    val unbuilt = plans.collect { case (name, Failure(e)) =>
      s"$name: ${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).linesIterator.nextOption().getOrElse("")}"
    }
    assert(offenders.isEmpty && unbuilt.isEmpty,
      s"scale-hostile join operators in:\n${offenders.mkString("\n")}\n" +
        s"queries that could not be built:\n${unbuilt.mkString("\n")}")
  }

  test("flagship scans prune columns and push filters") {
    // q1_agg reads 7 of lineitem's 16 columns and pushes the shipdate
    // filter; a full-width scan here would read ~2x the bytes at 100 TB.
    val q1 = SparkEntry.queries("q1_agg")(spark, sfDir)
    val scan = q1.queryExecution.executedPlan.toString
    assert(scan.contains("PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate"),
      s"q1_agg shipdate filter not pushed:\n$scan")
    val readSchema = "ReadSchema: [^,]*struct<([^>]*)>".r
      .findFirstMatchIn(scan).map(_.group(1)).getOrElse("")
    val cols = readSchema.split(",").count(_.contains(":"))
    assert(cols <= 7, s"q1_agg reads $cols lineitem columns (expected <= 7):\n$readSchema")
  }
}
