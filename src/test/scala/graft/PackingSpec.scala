package graft

import graft.operators.Packing
import org.apache.spark.sql.functions._

class PackingSpec extends SparkSpec {
  import spark.implicits._

  private def docs(n: Int) = (1 to n)
    .map(i => (i.toLong, 1 + (i * 37) % 100)) // token counts 1..100
    .toDF("id", "tok")

  /** Single-threaded reference: sort by (md5("7:"+id), id), cumsum, cut. */
  private def bruteForce(n: Int, budget: Long): Map[Long, (Long, Long)] = {
    val md = java.security.MessageDigest.getInstance("MD5")
    def m(s: String) =
      md.digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    val rows = (1 to n).map(i => (i.toLong, (1 + (i * 37) % 100).toLong))
      .sortBy { case (id, _) => (m(s"7:$id"), id.toString) }
    var acc = 0L
    rows.map { case (id, tok) =>
      val start = acc; acc += tok
      id -> (start / budget, start % budget)
    }.toMap
  }

  private def packed(df: org.apache.spark.sql.DataFrame, budget: Long) =
    Packing.packSequences(df, col("id"), col("tok"), budget, seed = 7L)
      .select("id", "seq_id", "seq_offset").collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap

  test("packSequences equals the global concatenate-and-cut cumsum") {
    assert(packed(docs(500), 256L) == bruteForce(500, 256L))
  }

  test("packSequences equals the cumsum with adaptive execution on and off") {
    for (aqe <- Seq("true", "false"))
      withConf("spark.sql.adaptive.enabled" -> aqe) {
        assert(packed(docs(700).repartition(5), 100L) == bruteForce(700, 100L), s"AQE $aqe")
      }
  }

  test("an empty input packs to an empty frame with the output schema") {
    val full = Packing.packSequences(docs(10), col("id"), col("tok"), 64L, seed = 7L)
    val empty = Packing.packSequences(docs(10).where(col("id") < 0), col("id"), col("tok"),
      64L, seed = 7L)
    assert(empty.schema == full.schema)
    assert(empty.schema.fieldNames.toSeq == Seq("id", "tok", "seq_id", "seq_offset"))
    assert(empty.collect().isEmpty)
  }

  test("packSequences and tokenBudgetSample persist nothing") {
    val sc = spark.sparkContext
    val before = sc.getPersistentRDDs.keySet.toSet
    assert(Packing.packSequences(docs(300), col("id"), col("tok"), 64L, seed = 7L).count() == 300)
    assert(sc.getPersistentRDDs.keySet.toSet == before)
    assert(Packing.tokenBudgetSample(docs(300), col("id"), col("tok"), 640L, seed = 7L).count() > 0)
    assert(sc.getPersistentRDDs.keySet.toSet == before)
  }

  test("assignment is content-stable across input partitioning") {
    def run(parts: Int) =
      Packing.packSequences(docs(300).repartition(parts), col("id"), col("tok"),
          budget = 128L, seed = 7L)
        .select("id", "seq_id", "seq_offset").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(run(1) == run(13))
  }

  test("offsets stay inside the budget; sequences are dense") {
    val out = Packing.packSequences(docs(400), col("id"), col("tok"), budget = 512L, seed = 7L)
    assert(out.filter(col("seq_offset") < 0 || col("seq_offset") >= 512).count() == 0)
    val seqs = out.select("seq_id").distinct().as[Long].collect().sorted
    assert(seqs.head == 0L && seqs.last == seqs.length - 1) // no gaps
    val total = docs(400).agg(sum(col("tok").cast("long"))).as[Long].collect()(0)
    assert(seqs.length == (total / 512 + (if (total % 512 == 0) 0 else 1)))
  }

  private def shuffles(rdd: org.apache.spark.rdd.RDD[_]) = {
    def deps(r: org.apache.spark.rdd.RDD[_]): Seq[org.apache.spark.Dependency[_]] =
      r.dependencies.flatMap(d => d +: deps(d.rdd))
    deps(rdd).collect { case s: org.apache.spark.ShuffleDependency[_, _, _] => s }
  }

  test("no single-partition global window in the plan") {
    // what pack executes is the result's RDD lineage: one shuffle, over
    // more than one partition, whose partitions hold consecutive runs
    // of the global order (partition ids that rise with the md5 key,
    // not sampled range bounds), and nothing else
    withConf("spark.sql.adaptive.enabled" -> "false") {
      val out = Packing.packSequences(docs(200), col("id"), col("tok"), budget = 64L, seed = 7L)
      val rdd = out.queryExecution.toRdd
      val deps = shuffles(rdd)
      assert(deps.size == 1, rdd.toDebugString)
      assert(deps.head.partitioner.numPartitions > 1)
      assert(!deps.head.partitioner.isInstanceOf[org.apache.spark.RangePartitioner[_, _]])
      val starts = rdd.mapPartitions(it => Iterator.single(it.map(r =>
        r.getLong(2) * 64L + r.getLong(3)).toVector)).collect().filter(_.nonEmpty)
      assert(starts.length > 1, "the running sum ran in one partition")
      assert(starts.flatten.toSeq == starts.flatten.toSeq.sorted)
      for (text <- Seq(rdd.toDebugString, out.queryExecution.executedPlan.toString)) {
        assert(!text.contains("SinglePartition"), text)
        assert(!text.contains("Window"), text)
      }
    }
    // adaptive execution, as the benchmark runs it: pack and one
    // aggregate over its result take at most 4 jobs (the shuffle and
    // pass 1; the aggregate's two stages), and no job samples bounds
    withConf("spark.sql.shuffle.partitions" -> "8") {
      val ((out, n), jobs) = jobsDuring {
        val o = Packing.packSequences(docs(7500), col("id"), col("tok"), budget = 512L, seed = 7L)
        (o, o.agg(sum("seq_id")).collect())
      }
      assert(n.length == 1 && jobs <= 4, s"$jobs jobs")
      val deps = shuffles(out.queryExecution.toRdd)
      assert(deps.size == 1 && !deps.head.partitioner.isInstanceOf[org.apache.spark.RangePartitioner[_, _]],
        out.queryExecution.toRdd.toDebugString)
    }
  }
}
