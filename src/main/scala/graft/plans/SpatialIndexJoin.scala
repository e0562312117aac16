package graft.plans

import graft.functions.{Jts, PreparedPredicates}
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Attribute, BindReferences, Expression, JoinedRow, UnsafeProjection}
import org.apache.spark.sql.catalyst.plans.logical.{BinaryNode, LogicalPlan}
import org.apache.spark.sql.catalyst.plans.physical.{BroadcastDistribution, Distribution, IdentityBroadcastMode, Partitioning, UnspecifiedDistribution}
import org.apache.spark.sql.execution.{BinaryExecNode, ExplainUtils, SQLExecution, SparkPlan, SparkStrategy}
import org.apache.spark.sql.execution.metric.{SQLMetric, SQLMetrics}
import org.locationtech.jts.geom.{Envelope, Geometry}
import org.locationtech.jts.geom.prep.{PreparedGeometry, PreparedGeometryFactory}
import org.locationtech.jts.index.ItemVisitor
import org.locationtech.jts.index.strtree.STRtree
import scala.jdk.CollectionConverters._

/**
 * A spatial join whose build side is small enough to broadcast: what
 * [[SpatialJoinRule]] emits when either side's size estimate is at or
 * under `spark.sql.autoBroadcastJoinThreshold`. The build side is the
 * smaller one (the right on a tie).
 *
 * The exact test is `predicate(build, probe)` when `buildFirst`, else
 * `predicate(probe, build)`: the SQL predicate with its operands as
 * written, so asymmetric predicates keep their meaning whichever side
 * is broadcast. `st_dwithin` carries its foldable `distance`. The
 * output is the original join's: the probe's columns first when
 * `probeLeft`, the build's otherwise.
 */
case class SpatialIndexJoin(
    probe: LogicalPlan,
    build: LogicalPlan,
    predicate: String,
    buildFirst: Boolean,
    probeGeom: Expression,
    buildGeom: Expression,
    distance: Double,
    probeLeft: Boolean) extends BinaryNode {

  override def left: LogicalPlan = probe
  override def right: LogicalPlan = build
  override def output: Seq[Attribute] =
    if (probeLeft) probe.output ++ build.output else build.output ++ probe.output

  override protected def withNewChildrenInternal(
      l: LogicalPlan, r: LogicalPlan): SpatialIndexJoin = copy(probe = l, build = r)
}

/** Plans [[SpatialIndexJoin]] (after Pathling's `SqlStrategy`, SNIPPETS
 *  [2]); registered by [[GraftExtensions]] and `Graft.install`. */
object SpatialJoinStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case j: SpatialIndexJoin =>
      BroadcastIndexJoinExec(planLater(j.probe), planLater(j.build), j.predicate, j.buildFirst,
        j.probeGeom, j.buildGeom, j.distance, j.probeLeft) :: Nil
    case _ => Nil
  }
}

/**
 * Broadcast STR-tree index join, the distributed form of the
 * reference's packed R-tree probe (SURVEY §2.8,
 * `rtree_index_create_physical.cpp`, `rtree_index_plan_scan.cpp`).
 *
 * The build side arrives as one broadcast (IdentityBroadcastMode, as
 * for BroadcastNestedLoopJoinExec, so AQE plans it as an ordinary
 * broadcast stage). Each task bulk-loads a JTS `STRtree` over the build
 * geometries' envelopes (expanded by the distance for `st_dwithin`),
 * then streams its probe rows: a 21-byte point is decoded without the
 * WKB reader, the tree yields the build rows whose envelope meets the
 * probe's, and the exact predicate runs against the build geometry,
 * prepared on its first test. The tree and the prepared geometries
 * belong to the task's iterator and die with it.
 */
case class BroadcastIndexJoinExec(
    probe: SparkPlan,
    build: SparkPlan,
    predicate: String,
    buildFirst: Boolean,
    probeGeom: Expression,
    buildGeom: Expression,
    distance: Double,
    probeLeft: Boolean) extends BinaryExecNode {

  override def left: SparkPlan = probe
  override def right: SparkPlan = build
  override def output: Seq[Attribute] =
    if (probeLeft) probe.output ++ build.output else build.output ++ probe.output
  override def outputPartitioning: Partitioning = probe.outputPartitioning
  override def requiredChildDistribution: Seq[Distribution] =
    UnspecifiedDistribution :: BroadcastDistribution(IdentityBroadcastMode) :: Nil

  override lazy val metrics: Map[String, SQLMetric] = Map(
    "numOutputRows" -> SQLMetrics.createMetric(sparkContext, "number of output rows"),
    "buildRows" -> SQLMetrics.createMetric(sparkContext, "number of build rows"),
    "candidates" -> SQLMetrics.createMetric(sparkContext, "number of tree candidates"),
    "matches" -> SQLMetrics.createMetric(sparkContext, "number of exact matches"))

  private def predicateString: String = {
    val (a, b) = if (buildFirst) (buildGeom, probeGeom) else (probeGeom, buildGeom)
    val d = if (predicate == "st_dwithin") s", $distance" else ""
    s"$predicate(${a.sql}, ${b.sql}$d)"
  }

  private def buildSide: String = if (probeLeft) "right" else "left"

  override def stringArgs: Iterator[Any] = Iterator(predicateString, s"build=$buildSide")

  override def verboseStringWithOperatorId(): String = {
    val m = metrics.toSeq.sortBy(_._1).map { case (k, v) => s"${v.name.getOrElse(k)}: ${v.value}" }
    s"""
       |$formattedNodeName
       |${ExplainUtils.generateFieldString("Predicate", predicateString)}
       |${ExplainUtils.generateFieldString("Build side", buildSide)}
       |${ExplainUtils.generateFieldString("Metrics", m.mkString(", "))}
       |""".stripMargin
  }

  protected override def doExecute(): RDD[InternalRow] = {
    val broadcast = build.executeBroadcast[Array[InternalRow]]()
    val buildRows = metrics("buildRows")
    buildRows.set(broadcast.value.length.toLong)
    SQLMetrics.postDriverMetricUpdates(sparkContext,
      sparkContext.getLocalProperty(SQLExecution.EXECUTION_ID_KEY), buildRows :: Nil)
    val (numOut, candidates, matches) =
      (metrics("numOutputRows"), metrics("candidates"), metrics("matches"))
    val (probeOut, buildOut, out) = (probe.output, build.output, output)
    val (pred, first, dist, pLeft) = (predicate, buildFirst, distance, probeLeft)
    val (pg, bg) = (probeGeom, buildGeom)
    probe.execute().mapPartitions { rows =>
      val index = new BuildIndex(broadcast.value, BindReferences.bindReference(bg, buildOut),
        pred, first, dist, candidates)
      val geom = BindReferences.bindReference(pg, probeOut)
      val project = UnsafeProjection.create(out, out)
      val joined = new JoinedRow()
      rows.flatMap { row =>
        val b = geom.eval(row).asInstanceOf[Array[Byte]]
        if (b == null) Iterator.empty
        else index.matches(b).map { e =>
          matches += 1
          numOut += 1
          project(if (pLeft) joined(row, e.row) else joined(e.row, row))
        }
      }
    }
  }

  override protected def withNewChildrenInternal(
      l: SparkPlan, r: SparkPlan): BroadcastIndexJoinExec = copy(probe = l, build = r)
}

/** A build row with its parsed geometry, prepared on first use. */
private final class BuildEntry(val row: InternalRow, val geom: Geometry) {
  private var prep: PreparedGeometry = _
  def prepared: PreparedGeometry = {
    if (prep == null) prep = PreparedGeometryFactory.prepare(geom)
    prep
  }
}

/** One task's STR-tree over the build rows, bulk-loaded on the first
 *  probe, so a task with no probe rows builds none. */
private final class BuildIndex(
    buildRows: Array[InternalRow],
    buildGeom: Expression,
    predicate: String,
    buildFirst: Boolean,
    distance: Double,
    candidates: SQLMetric) {

  private val dwithin = predicate == "st_dwithin"

  private lazy val tree: STRtree = {
    val t = new STRtree()
    buildRows.foreach { row =>
      val b = buildGeom.eval(row).asInstanceOf[Array[Byte]]
      if (b != null) {
        val g = Jts.read(b)
        val env = new Envelope(g.getEnvelopeInternal)
        if (dwithin) env.expandBy(distance)
        t.insert(env, new BuildEntry(row, g))
      }
    }
    t.build()
    t
  }

  private val hits = new java.util.ArrayList[BuildEntry]()
  private val collect: ItemVisitor = item => hits.add(item.asInstanceOf[BuildEntry])
  private val scratch = PreparedPredicates.scratchPoint()

  /** The build entries whose exact predicate holds against the probe
   *  geometry `b`; valid until the next call. */
  def matches(b: Array[Byte]): Iterator[BuildEntry] = {
    val p = PreparedPredicates.decodePoint(b, scratch)
    // NaN coordinates: the reader's POINT EMPTY mapping
    val g: Geometry =
      if (p != null && !java.lang.Double.isNaN(p.getX) && !java.lang.Double.isNaN(p.getY)) p
      else Jts.read(b)
    hits.clear()
    tree.query(g.getEnvelopeInternal, collect)
    candidates += hits.size
    hits.iterator.asScala.filter { e =>
      if (dwithin) e.geom.isWithinDistance(g, distance)
      else if (buildFirst) PreparedPredicates.preparedLeft(predicate, e.prepared, g)
      else PreparedPredicates.preparedRight(predicate, g, e.prepared)
    }
  }
}
