package graft.perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec

import java.io.{File, PrintWriter}
import java.lang.management.ManagementFactory
import scala.collection.mutable

/**
 * Runs one workload as a single client in a closed loop against a
 * `local[4]` session and writes the raw record of the run (set-up
 * times, every operation with its output checksums, and in traced
 * cycles its spans, Spark jobs and stages, and plan summary) as JSON.
 * `perfbench/run.py` builds this, checks the outputs and computes the
 * metrics.
 *
 * Usage: Main <workload> <seed> <seconds> <trace 0|1> <out dir> [set-ups, default 2]
 * (seconds 0: set up and warm up only, as the class-data sharing archive
 * is recorded)
 */
object Main {
  val cores = 4

  private def session(): SparkSession = graft.Graft.session(s"local[$cores]", 2 * cores)

  private def deleteTree(f: File): Unit = {
    Option(f.listFiles()).foreach(_.foreach(deleteTree))
    f.delete()
  }

  private def persistentIds(spark: SparkSession): Set[Int] =
    spark.sparkContext.getPersistentRDDs.keySet.toSet

  /** Heap in use after forced collections, in MB: the least of three,
   *  each after a pause that lets Spark's cleaner thread release what
   *  the previous collection made unreachable. */
  private def retainedHeapMb(): Double = {
    val mem = ManagementFactory.getMemoryMXBean
    (0 until 3).map { _ =>
      System.gc()
      Thread.sleep(200)
      mem.getHeapMemoryUsage.getUsed / 1048576.0
    }.min
  }

  /** Persistent RDD ids of the loaded cached relations a frame reads
   *  directly (not those its cached relations were built from). */
  private def cachedIds(df: DataFrame): Set[Int] = {
    def walk(p: SparkPlan): Seq[Int] = p match {
      case a: AdaptiveSparkPlanExec => walk(a.executedPlan)
      case m: InMemoryTableScanExec =>
        val b = m.relation.cacheBuilder
        if (b.isCachedColumnBuffersLoaded) Seq(b.cachedColumnBuffers.id) else Nil
      case other => other.children.flatMap(walk)
    }
    walk(df.queryExecution.executedPlan).toSet
  }

  private val os = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]

  def main(args: Array[String]): Unit = {
    require(args.length == 5 || args.length == 6,
      "usage: Main <workload> <seed> <seconds> <trace 0|1> <out dir> [set-ups]")
    val Array(name, seedS, secondsS, traceS, outS) = args.take(5)
    val setups = if (args.length == 6) args(5).toInt else 2
    val seed = seedS.toLong
    val seconds = secondsS.toDouble
    val trace = traceS == "1"
    val out = new File(outS)
    out.mkdirs()
    val clock = new Clock
    val tracer = new Tracer(clock)

    // set-up, `setups` times: session start and fixtures
    val sessionS, fixtureS = mutable.ArrayBuffer[Double]()
    var spark: SparkSession = null
    var wl: Workload = null
    (0 until setups).foreach { rep =>
      val dir = new File(out, s"fixture$rep")
      deleteTree(dir)
      val t0 = clock.ms()
      // the first set-up starts Spark in a cold JVM; later ones open a new
      // session on the same context, as a long-lived application does
      spark = if (spark == null) session() else graft.Graft.install(spark.newSession())
      SparkSession.setActiveSession(spark)
      SparkSession.setDefaultSession(spark)
      wl = Workload(name, spark, dir.getAbsolutePath, seed)
      val t1 = clock.ms()
      wl.setup()
      sessionS += (t1 - t0) / 1000.0
      fixtureS += (clock.ms() - t1) / 1000.0
      System.err.println(f"perfbench: set-up $rep: session ${sessionS.last}%.2f s, fixtures ${fixtureS.last}%.2f s")
      if (rep > 0) deleteTree(new File(out, s"fixture${rep - 1}"))
    }

    val sc = spark.sparkContext
    val listener = new ExecListener
    val plans = new StringBuilder
    val ops = mutable.ArrayBuffer[String]()

    /** Runs operation i, traced or not, and records it. */
    def runOp(i: Int, phase: String, traced: Boolean): Unit = {
      tracer.on = traced
      val op = wl.op(i)
      val rows = wl.rows(op)
      sc.setJobGroup(s"op-$i", op.label)
      val before = persistentIds(spark)
      val c0 = os.getProcessCpuTime
      val t0 = clock.ms()
      val res = try Right(tracer.span("client", s"op.${op.label}") { wl.run(op, tracer) })
        catch { case e: Exception => Left(e) }
      val t1 = clock.ms()
      val cpuMs = (os.getProcessCpuTime - c0) / 1e6
      sc.clearJobGroup()
      tracer.on = false
      val check = res.fold(_ => "null", _ => wl.check(op))
      val traceJson = if (!traced) "null" else {
        org.apache.spark.PerfbenchBus.drain(sc)
        val (jobs, stages) = listener.take(clock)
        val spans = tracer.take().map(s => Json.obj("id" -> s.id, "parent" -> s.parent,
          "layer" -> s.layer, "name" -> s.name, "start" -> s.start, "end" -> s.end))
        val plan = res.toOption.flatMap(o => Option(o.plan)).map { df =>
          val p = df.queryExecution.executedPlan
          plans ++= s"== op $i ${op.label} ${op.params}\n${p.treeString}\n"
          PlanInfo.nodes(p).collect { case (m: InMemoryTableScanExec, _) => m }.foreach { m =>
            plans ++= s"-- cached relation ${m.relation.cacheBuilder.tableName.getOrElse("")}\n" +
              s"${m.relation.cachedPlan.treeString}\n"
          }
          PlanInfo.summarize(p)
        }.getOrElse("null")
        res.foreach(_.release())
        val leaked = (persistentIds(spark) -- before -- res.toSeq.flatMap(_.held).flatMap(cachedIds)).size
        Json.obj("spans" -> Json.Raw(Json.arr(spans)), "jobs" -> Json.Raw(jobs),
          "stages" -> Json.Raw(stages), "plan" -> Json.Raw(plan), "persist_leaked" -> leaked)
      }
      if (!traced) res.foreach(_.release())
      ops += Json.obj("i" -> i, "phase" -> phase, "kind" -> op.kind, "label" -> op.label,
        "params" -> Json.Raw(op.params), "traced" -> traced,
        "start" -> t0, "end" -> t1, "cpu_ms" -> cpuMs, "rows" -> rows,
        "result" -> Json.Raw(res.fold(_ => "null", _.result)), "check" -> Json.Raw(check),
        "error" -> res.fold(e => s"${e.getClass.getName}: ${e.getMessage}", _ => null),
        "trace" -> Json.Raw(traceJson))
    }

    // warm-up, once: one whole cycle, so the JIT, Spark's code generation
    // and the workload's caches are warm before anything is timed
    val w0 = clock.ms()
    (0 until wl.cycle).foreach(i => runOp(i, "warmup", traced = false))
    val warmupS = (clock.ms() - w0) / 1000.0

    // Measure whole cycles only, so each run holds every operation kind
    // equally: as many as fit in `seconds` going by the last cycle's
    // length, and at least two, so that a busy machine lengthens the run
    // rather than changing what it measures. With tracing, every second
    // cycle is traced, and a traced run holds at least three, so that a
    // traced cycle sits between two untraced ones and the overhead
    // estimate is not biased by the JVM still warming up.
    val start = clock.ms()
    val first = wl.cycle
    val minCycles = if (trace) 3 else 2
    var i = first
    var cycleStart = start
    var lastCycle = 0.0
    def more: Boolean =
      if (i % wl.cycle != 0) true
      else {
        val now = clock.ms()
        if (i > first) { lastCycle = now - cycleStart; cycleStart = now }
        seconds > 0 && (i < first + minCycles * wl.cycle || now - start + lastCycle <= seconds * 1000)
      }
    while (more) {
      val traced = trace && ((i - first) / wl.cycle) % 2 == 1
      if (traced && i % wl.cycle == 0) {
        org.apache.spark.PerfbenchBus.drain(sc); sc.addSparkListener(listener); listener.take(clock)
      }
      runOp(i, "measure", traced)
      i += 1
      if (traced && i % wl.cycle == 0) sc.removeSparkListener(listener)
    }
    val measureS = (clock.ms() - start) / 1000.0
    val heapMb = retainedHeapMb()

    val env = Json.obj(
      "spark" -> spark.version, "java" -> System.getProperty("java.version"),
      "jvm_max_heap_mb" -> Runtime.getRuntime.maxMemory / 1048576,
      "master" -> sc.master, "cores" -> cores,
      "available_processors" -> Runtime.getRuntime.availableProcessors,
      "shuffle_partitions" -> spark.conf.get("spark.sql.shuffle.partitions"))
    val raw = Json.obj("workload" -> name, "seed" -> seed, "seconds" -> seconds, "trace" -> trace,
      "env" -> Json.Raw(env), "fixture" -> Json.Raw(wl.fixture), "setup_session_s" -> sessionS.toSeq,
      "setup_fixture_s" -> fixtureS.toSeq,
      "warmup_s" -> warmupS,
      "measure_s" -> measureS, "retained_heap_mb" -> heapMb, "ops" -> Json.Raw(Json.arr(ops.toSeq)))
    spark.stop()
    val w = new PrintWriter(new File(out, "raw.json"), "UTF-8")
    try w.write(raw) finally w.close()
    if (trace) {
      val pw = new PrintWriter(new File(out, "plans.txt"), "UTF-8")
      try pw.write(plans.toString) finally pw.close()
    }
  }
}
