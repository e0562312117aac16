package graft.perfbench

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.{FileSourceScanExec, FilterExec, GenerateExec, InputAdapter, SortExec, SparkPlan, WholeStageCodegenExec}
import org.apache.spark.sql.execution.adaptive.{AQEShuffleReadExec, AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.exchange.{Exchange, ReusedExchangeExec}
import org.apache.spark.sql.execution.joins.{BroadcastHashJoinExec, BroadcastNestedLoopJoinExec, CartesianProductExec, ShuffledHashJoinExec, SortMergeJoinExec}

import scala.collection.mutable

/** Milliseconds since the run started, on the same epoch clock the Spark
 *  listener events use, at nanosecond resolution. */
final class Clock {
  private val originEpochMs = System.currentTimeMillis()
  private val originNs = System.nanoTime()
  def ms(): Double = (System.nanoTime() - originNs) / 1e6
  def fromEpoch(epochMs: Long): Double = (epochMs - originEpochMs).toDouble
}

final case class Span(id: Int, parent: Int, layer: String, name: String, start: Double, end: Double)

/** Records a span around each call into a layer. When off, `span` only
 *  runs its body, so the traced and untraced runs execute the same calls. */
final class Tracer(clock: Clock) {
  var on = false
  private var nextId = 0
  private val open = mutable.Stack[Int]()
  private val done = mutable.ArrayBuffer[Span]()

  def span[T](layer: String, name: String)(body: => T): T =
    if (!on) body
    else {
      nextId += 1
      val id = nextId
      val parent = if (open.isEmpty) -1 else open.top
      val start = clock.ms()
      open.push(id)
      try body
      finally {
        open.pop()
        done += Span(id, parent, layer, name, start, clock.ms())
      }
    }

  /** The spans finished since the last call. */
  def take(): Seq[Span] = { val s = done.toList; done.clear(); s }
}

final class JobRec(val id: Int, val start: Long, val group: String) { var end: Long = -1 }

final class StageRec(val id: Int, val attempt: Int) {
  var job: Int = -1
  var start: Long = -1
  var end: Long = -1
  var tasks = 0
  var runMs = 0L
  var cpuNs = 0L
  var gcMs = 0L
  var shuffleWrite = 0L
  var shuffleRead = 0L
  var fetchWaitMs = 0L
  var spillDisk = 0L
  var inputBytes = 0L
  val taskRunMs = mutable.ArrayBuffer[Long]()
}

/** Spark listener registered by the benchmark during traced operations.
 *  Its callbacks run on the listener-bus thread; the benchmark reads the
 *  records only after draining the bus. */
final class ExecListener extends SparkListener {
  private val jobs = mutable.LinkedHashMap[Int, JobRec]()
  private val stageJob = mutable.Map[Int, Int]()
  private val stages = mutable.LinkedHashMap[(Int, Int), StageRec]()

  private def stage(id: Int, attempt: Int): StageRec =
    stages.getOrElseUpdate((id, attempt), {
      val s = new StageRec(id, attempt); s.job = stageJob.getOrElse(id, -1); s
    })

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val group = Option(e.properties).map(_.getProperty("spark.jobGroup.id")).orNull
    jobs(e.jobId) = new JobRec(e.jobId, e.time, group)
    e.stageIds.foreach(s => stageJob.getOrElseUpdate(s, e.jobId))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(_.end = e.time)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val i = e.stageInfo
    val s = stage(i.stageId, i.attemptNumber())
    s.start = i.submissionTime.getOrElse(-1L)
    s.end = i.completionTime.getOrElse(-1L)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    if (m != null) {
      val s = stage(e.stageId, e.stageAttemptId)
      s.tasks += 1
      s.runMs += m.executorRunTime
      s.cpuNs += m.executorCpuTime
      s.gcMs += m.jvmGCTime
      s.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      s.shuffleRead += m.shuffleReadMetrics.totalBytesRead
      s.fetchWaitMs += m.shuffleReadMetrics.fetchWaitTime
      s.spillDisk += m.diskBytesSpilled
      s.inputBytes += m.inputMetrics.bytesRead
      s.taskRunMs += m.executorRunTime
    }
  }

  /** Jobs and stages recorded since the last call, as JSON arrays. */
  def take(clock: Clock): (String, String) = synchronized {
    val js = jobs.values.map { j =>
      Json.obj("id" -> j.id, "group" -> j.group, "start" -> clock.fromEpoch(j.start),
        "end" -> (if (j.end < 0) null else clock.fromEpoch(j.end)))
    }
    val ss = stages.values.filter(_.start >= 0).map { s =>
      val sorted = s.taskRunMs.sorted
      val median = if (sorted.isEmpty) 0.0
        else if (sorted.size % 2 == 1) sorted(sorted.size / 2).toDouble
        else (sorted(sorted.size / 2 - 1) + sorted(sorted.size / 2)) / 2.0
      Json.obj("id" -> s.id, "attempt" -> s.attempt, "job" -> s.job,
        "start" -> clock.fromEpoch(s.start), "end" -> clock.fromEpoch(s.end),
        "tasks" -> s.tasks, "run_ms" -> s.runMs, "cpu_ns" -> s.cpuNs, "gc_ms" -> s.gcMs,
        "shuffle_write" -> s.shuffleWrite, "shuffle_read" -> s.shuffleRead,
        "fetch_wait_ms" -> s.fetchWaitMs, "spill_disk" -> s.spillDisk,
        "input_bytes" -> s.inputBytes,
        "task_max_ms" -> (if (sorted.isEmpty) 0L else sorted.last), "task_median_ms" -> median)
    }
    jobs.clear(); stages.clear(); stageJob.clear()
    (Json.arr(js.toSeq), Json.arr(ss.toSeq))
  }
}

/** What the final executed plan of an operation's output shows, read
 *  from its nodes and their SQL metrics after the action ran. */
object PlanInfo {

  /** Every node of the final plan, descending into adaptive query
   *  stages and into the plans that built cached relations. */
  def nodes(root: SparkPlan): Seq[(SparkPlan, Boolean)] = {
    val out = mutable.ArrayBuffer[(SparkPlan, Boolean)]()
    def walk(p: SparkPlan, inCodegen: Boolean): Unit = p match {
      case a: AdaptiveSparkPlanExec => walk(a.executedPlan, inCodegen)
      case q: QueryStageExec => out += ((q, false)); walk(q.plan, false)
      case r: ReusedExchangeExec => out += ((r, false))
      case w: WholeStageCodegenExec => out += ((w, false)); walk(w.child, true)
      case i: InputAdapter => out += ((i, false)); walk(i.child, false)
      case m: InMemoryTableScanExec =>
        out += ((m, inCodegen)); walk(m.relation.cachedPlan, false)
      case other =>
        out += ((other, inCodegen))
        other.children.foreach(walk(_, inCodegen))
        other.subqueries.foreach(walk(_, false))
    }
    walk(root, false)
    out.toSeq
  }

  private def structural(p: SparkPlan): Boolean = p match {
    case _: QueryStageExec | _: ReusedExchangeExec | _: WholeStageCodegenExec |
         _: InputAdapter | _: Exchange | _: AQEShuffleReadExec => true
    case _ => false
  }

  private def rows(p: SparkPlan): Long =
    p.metrics.get("numOutputRows").map(_.value).getOrElse(-1L)

  /** Rows flowing into `p`: the output count of the nearest descendant
   *  that keeps one (projections keep none). */
  private def inputRows(p: SparkPlan): Long = {
    def down(c: SparkPlan): Long = {
      val r = rows(c)
      if (r >= 0) r
      else c match {
        case q: QueryStageExec => down(q.plan)
        case a: AdaptiveSparkPlanExec => down(a.executedPlan)
        case _ if c.children.size == 1 => down(c.children.head)
        case _ => -1L
      }
    }
    p.children.headOption.map(down).getOrElse(-1L)
  }

  private def hasGeoPredicate(e: org.apache.spark.sql.catalyst.expressions.Expression): Boolean =
    e.exists(_.isInstanceOf[graft.functions.GeoPredicate])

  /** Plan counts and layer counters of one operation's output plan. */
  def summarize(root: SparkPlan): String = {
    val all = nodes(root)
    val plans = all.map(_._1)
    val exchanges = plans.count(_.isInstanceOf[Exchange])
    val sorts = plans.count(_.isInstanceOf[SortExec])
    val codegen = plans.count(_.isInstanceOf[WholeStageCodegenExec])
    val nonCodegen = all.count { case (p, in) => !in && !structural(p) && !p.isInstanceOf[AdaptiveSparkPlanExec] }
    val scans = plans.collect { case s: FileSourceScanExec => s }
    val filesRead = scans.map(_.metrics.get("numFiles").map(_.value).getOrElse(0L)).sum
    val filesTotal = scans.map(_.relation.location.inputFiles.length.toLong).sum
    val scanRows = scans.map(rows(_).max(0L)).sum
    val bboxScans = scans.filter(_.output.exists(_.name.endsWith("_bbox")))
    val bboxPushdown: Any =
      if (bboxScans.isEmpty) null
      else if (bboxScans.forall(_.metadata.get("PushedFilters").exists(_.contains("_bbox")))) 1 else 0
    val geoFilters = plans.collect { case f: FilterExec if hasGeoPredicate(f.condition) => f }
    val predIn = geoFilters.map(inputRows(_).max(0L)).sum
    val predOut = geoFilters.map(rows(_).max(0L)).sum
    val joins = plans.filter {
      case j: SortMergeJoinExec => j.condition.exists(hasGeoPredicate)
      case j: ShuffledHashJoinExec => j.condition.exists(hasGeoPredicate)
      case j: BroadcastHashJoinExec => j.condition.exists(hasGeoPredicate)
      case _ => false
    }
    val nestedSpatial = plans.exists {
      case j: BroadcastNestedLoopJoinExec => j.condition.exists(hasGeoPredicate)
      case j: CartesianProductExec => j.condition.exists(hasGeoPredicate)
      case _ => false
    }
    // cells per join side: output of the topmost Generate (the cell
    // explode) under each side, and the rows that went into it
    def sideCells(side: SparkPlan): (Long, Long) = {
      val gens = nodes(side).map(_._1).collect { case g: GenerateExec => g }
      if (gens.isEmpty) (0L, 0L) else (rows(gens.head).max(0L), inputRows(gens.last).max(0L))
    }
    val (cellsL, rowsL, cellsR, rowsR, joinRows) = joins.headOption match {
      case Some(j) =>
        val (cl, rl) = sideCells(j.children(0)); val (cr, rr) = sideCells(j.children(1))
        (cl, rl, cr, rr, rows(j).max(0L))
      case None => (0L, 0L, 0L, 0L, 0L)
    }
    Json.obj(
      "exchanges" -> exchanges, "sorts" -> sorts, "codegen_stages" -> codegen,
      "non_codegen_nodes" -> nonCodegen,
      "files_read" -> filesRead, "files_total" -> filesTotal, "scan_rows" -> scanRows,
      "bbox_pushdown" -> bboxPushdown,
      "predicate_rows" -> predIn, "predicate_pass" -> predOut,
      "spatial_joins" -> joins.size,
      "grid_join" -> (if (joins.isEmpty && !nestedSpatial) null else if (joins.nonEmpty && !nestedSpatial) 1 else 0),
      "cells_left" -> cellsL, "rows_left" -> rowsL, "cells_right" -> cellsR, "rows_right" -> rowsR,
      "join_rows" -> joinRows)
  }
}

/** Minimal JSON writer for the run's raw record. */
object Json {
  def str(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case '\n' => b ++= "\\n"
      case '\r' => b ++= "\\r"
      case '\t' => b ++= "\\t"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    b += '"'
    b.toString
  }
  def value(v: Any): String = v match {
    case null => "null"
    case s: String => str(s)
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => value(f.toDouble)
    case b: Boolean => b.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case Raw(j) => j
    case xs: Seq[_] => xs.map(value).mkString("[", ",", "]")
    case other => str(other.toString)
  }
  final case class Raw(json: String)
  def obj(kv: (String, Any)*): String =
    kv.map { case (k, v) => str(k) + ":" + value(v) }.mkString("{", ",", "}")
  def arr(items: Seq[String]): String = items.mkString("[", ",", "]")
}
