package graft.plans

import graft.functions.GeoPredicate
import graft.operators.SpatialJoin
import org.apache.spark.sql.{SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.expressions.{And, Expression, SubqueryExpression}
import org.apache.spark.sql.catalyst.plans.Inner
import org.apache.spark.sql.catalyst.plans.logical.{Filter, Join, LogicalPlan}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.graft.ColumnShim

/**
 * Logical rewrite of SQL spatial joins, mirroring the reference's
 * RangeJoinSpatialPredicateRewriter (core/optimizer_rules.cpp:33-279):
 * `a JOIN b ON ST_Intersects(a.g, b.g)` would otherwise execute as a
 * BroadcastNestedLoopJoin (quadratic — the Spark analog of the
 * blockwise-NL join the reference avoids). The rewrite picks one of two
 * plans:
 *
 *  - [[SpatialIndexJoin]], when either side's static size estimate is
 *    at or under `spark.sql.autoBroadcastJoinThreshold` and no cell
 *    size is configured: the smaller side (the right on a tie) is
 *    broadcast and probed through a per-task STR-tree
 *    ([[BroadcastIndexJoinExec]], planned by [[SpatialJoinStrategy]]).
 *    The rule builds no DataFrame and runs no nested optimizer for it.
 *  - otherwise (both sides over the threshold, the threshold at -1, or
 *    `spark.graft.spatialJoin.cellSize` > 0), the grid decomposition of
 *    [[SpatialJoin]]: explode to covering cells, equi-join on cell,
 *    reference-point dedup, exact predicate.
 *
 * The rewrite only fires when the join has no equi-join conjunct (if
 * one exists, Spark already hash-partitions on it and the spatial
 * predicate is a cheap residual filter).
 *
 * Config: `spark.graft.spatialJoin.cellSize` (double; unset/<=0 → the
 * grid's cell size is estimated at run time by one scalar subquery over
 * a random sample of both sides — never via a plan-time collect).
 */
case class SpatialJoinRule(spark: SparkSession) extends Rule[LogicalPlan] {

  private def conjuncts(e: Expression): Seq[Expression] = e match {
    case And(l, r) => conjuncts(l) ++ conjuncts(r)
    case other => Seq(other)
  }

  private def refsOnly(e: Expression, side: LogicalPlan): Boolean =
    e.references.nonEmpty && e.references.subsetOf(side.outputSet)

  override def apply(plan: LogicalPlan): LogicalPlan = {
    plan.transformUp {
      case j @ Join(left, right, Inner, Some(cond), _)
          if j.resolved && !cond.exists(_.isInstanceOf[SubqueryExpression]) =>
        val cs = conjuncts(cond)
        // fire only on "pure" spatial joins (the reference rewrites
        // LogicalAnyJoin — optimizer_rules.cpp:48-80); a join that
        // already has cross-side equality (hash-partitionable) or
        // range conjuncts (incl. our own broadcast-path bbox filter)
        // executes fine without us
        val hasEqui = cs.exists {
          case c: org.apache.spark.sql.catalyst.expressions.BinaryComparison =>
            val (l, r) = (c.left, c.right)
            (refsOnly(l, left) && refsOnly(r, right)) || (refsOnly(l, right) && refsOnly(r, left))
          case _ => false
        }
        val spatialIdx = cs.indexWhere {
          case GeoPredicate(name, l, r) if SpatialJoin.supported.contains(name) =>
            (refsOnly(l, left) && refsOnly(r, right)) || (refsOnly(l, right) && refsOnly(r, left))
          case graft.functions.GeoScalar("st_dwithin", Seq(l, r, d)) if d.foldable =>
            (refsOnly(l, left) && refsOnly(r, right)) || (refsOnly(l, right) && refsOnly(r, left))
          case _ => false
        }
        if (hasEqui || spatialIdx < 0) j
        else {
          val (name, l, r, dist) = (cs(spatialIdx): @unchecked) match {
            case GeoPredicate(n, a, b) => (n, a, b, 0.0)
            case graft.functions.GeoScalar("st_dwithin", Seq(a, b, d)) =>
              val dv = d.eval(null) match {
                case n: java.lang.Number => n.doubleValue()
                case other => other.toString.toDouble
              }
              ("st_dwithin", a, b, dv)
          }
          val rest = cs.patch(spatialIdx, Nil, 1)
          val cellSize = spark.conf.get("spark.graft.spatialJoin.cellSize", "0").toDouble
          val threshold = conf.autoBroadcastJoinThreshold
          val (lSize, rSize) = (left.stats.sizeInBytes, right.stats.sizeInBytes)
          val (base, recheck) =
            if (cellSize <= 0 && threshold >= 0 && lSize.min(rSize) <= threshold) {
              // the smaller side is the build side; on a tie, the right
              val buildLeft = lSize < rSize
              val buildFirst = refsOnly(l, left) == buildLeft
              val (buildGeom, probeGeom) = if (buildFirst) (l, r) else (r, l)
              val (probe, build) = if (buildLeft) (right, left) else (left, right)
              (SpatialIndexJoin(probe, build, name, buildFirst, probeGeom, buildGeom, dist,
                probeLeft = !buildLeft), Nil)
            } else gridJoin(j, name, l, r, dist, cellSize, cs(spatialIdx))
          (rest ++ recheck).reduceOption(And) match {
            case Some(f) => Filter(f, base)
            case None => base
          }
        }
    }
  }

  /** The grid join of `j` on `name(l, r)` and the conjuncts that must
   *  re-check its answer. */
  private def gridJoin(j: Join, name: String, l: Expression, r: Expression, dist: Double,
      cellSize: Double, spatial: Expression): (LogicalPlan, Seq[Expression]) = {
    val swapped = refsOnly(l, j.right)
    val (lExpr, rExpr) = if (swapped) (r, l) else (l, r)
    // st_within/contains/coveredby/covers are asymmetric: keep
    // orientation by mapping to the swapped predicate
    val pred = if (!swapped) name else name match {
      case "st_within" => "st_contains"
      case "st_contains" => "st_within"
      case "st_coveredby" => "st_covers"
      case "st_covers" => "st_coveredby"
      case "st_containsproperly" => "st_within" // conservative: exact filter below re-checks
      case sym => sym
    }
    val leftDf = ColumnShim.ofRows(spark, j.left)
    val rightDf = ColumnShim.ofRows(spark, j.right)
    // with no configured cell size the estimate is a scalar
    // subquery computed at execution: a Spark job inside logical
    // optimization would block planning at scale
    val joined = SpatialJoin.join(
      leftDf, rightDf,
      ColumnShim.column(lExpr), ColumnShim.column(rExpr),
      if (pred == "st_containsproperly") "st_intersects" else pred,
      cellSize = cellSize, distance = dist)
    val exactRecheck: Seq[Expression] =
      if (name == "st_containsproperly" || pred == "st_containsproperly") Seq(spatial) else Nil
    val base = joined.queryExecution.analyzed
    // the grid join keeps the join's own attributes, so the rest
    // of the plan and the remaining conjuncts resolve against it
    require(base.output.map(_.exprId) == j.output.map(_.exprId),
      s"grid join output ${base.output} != join output ${j.output}")
    (base, exactRecheck)
  }
}

/** Session extension installer: the same functions, table functions,
 *  optimizer rules and spatial-join planner strategy as `Graft.install`,
 *  from the same lists.
 *  Usage: spark.sql.extensions=graft.plans.GraftExtensions
 *  (or `Graft.install(spark)` on an existing session). */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  import org.apache.spark.sql.catalyst.FunctionIdentifier
  import org.apache.spark.sql.catalyst.expressions.ExpressionInfo

  override def apply(e: SparkSessionExtensions): Unit = {
    graft.Graft.functions.foreach { case (name, f) =>
      e.injectFunction((FunctionIdentifier(name), new ExpressionInfo("graft", name), f))
    }
    graft.Graft.tableFunctions.foreach { case (name, f) =>
      e.injectTableFunction((FunctionIdentifier(name), new ExpressionInfo("graft", name), f))
    }
    graft.Graft.optimizerRules.foreach(e.injectOptimizerRule)
    e.injectPlannerStrategy(_ => SpatialJoinStrategy)
  }
}
