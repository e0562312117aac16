package graft.plans

import graft.functions.{GeoPredicate, GeoScalar, Jts}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.logical.{Filter, LogicalPlan}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.types.StructType

/**
 * Bbox data-skipping rewrite — the Spark mapping of the reference's
 * R-Tree index scan rule (core/index/rtree/rtree_index_plan_scan.cpp:
 * 33-246). Spark has no secondary indexes; the equivalent capability
 * is parquet row-group/file pruning on min/max statistics. Tables
 * written with [[graft.sources.GeoTable.withBbox]] carry a sibling
 * `<geom>_bbox` struct(xmin,ymin,xmax,ymax) column (GeoParquet 1.1
 * covering field names; legacy min_x-named tables still match); for a filter
 * `ST_Pred(geomCol, <literal geometry>)` this rule conjoins range
 * predicates on those bbox fields. Catalyst pushes them into the
 * parquet scan (nested-column pushdown), so row groups whose bbox
 * stats can't match are never read — functionally the index scan,
 * with the exact predicate retained above (same "filter pull-up" as
 * the reference, rtree_index_plan_scan.cpp:207-231).
 */
case class SpatialFilterRule(spark: SparkSession) extends Rule[LogicalPlan] {

  private def conjuncts(e: Expression): Seq[Expression] = e match {
    case And(l, r) => conjuncts(l) ++ conjuncts(r)
    case other => Seq(other)
  }

  /** Foreign GeoParquet covering mappings, cached per scan root path
   *  (one footer read per table per session). */
  private val coveringCache =
    scala.collection.concurrent.TrieMap.empty[String, Option[(String, String, Map[String, String])]]

  /** The bbox struct column certifying `geom`, with the ordinals of
   *  its (xmin, ymin, xmax, ymax) roles. Two discovery paths:
   *  our own `<geom>_bbox` naming convention, and — for
   *  externally-produced GeoParquet 1.1 — the `covering.bbox` mapping
   *  in the file's `geo` footer metadata, which may name the covering
   *  column anything ([[graft.sources.GeoParquetMeta.parseCovering]]). */
  private def bboxAttr(child: LogicalPlan, geom: Expression): Option[(Attribute, Array[Int])] = {
    val name = geom match {
      case a: Attribute => a.name
      case _ => return None
    }
    val byConvention = child.output.find(a => a.name == s"${name}_bbox" && (a.dataType match {
      // GeoParquet 1.1 covering names (what GeoTable.withBbox writes)
      // or the legacy BOX_2D names (pre-conformance tables); ordinals
      // are (minx, miny, maxx, maxy) in both conventions
      case s: StructType =>
        s.fieldNames.sameElements(Array("xmin", "ymin", "xmax", "ymax")) ||
          s.fieldNames.sameElements(Array("min_x", "min_y", "max_x", "max_y"))
      case _ => false
    })).map(a => (a, Array(0, 1, 2, 3)))
    byConvention.orElse(coveringOf(child).flatMap { case (primary, bboxCol, roles) =>
      if (primary != name) None
      else child.output.find(_.name == bboxCol).flatMap { a =>
        a.dataType match {
          case s: StructType =>
            val idx = Array("xmin", "ymin", "xmax", "ymax").map { role =>
              roles.get(role).map(s.fieldIndex).getOrElse(-1)
            }
            if (idx.contains(-1)) None else Some((a, idx))
          case _ => None
        }
      }
    })
  }

  /** covering.bbox mapping of the (single) parquet relation under
   *  `child`, if its `geo` footer metadata declares one. Local-file
   *  relations only — the footer read is a driver-side peek. */
  private def coveringOf(child: LogicalPlan): Option[(String, String, Map[String, String])] = {
    import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
    val roots = child.collect {
      case lr: LogicalRelation => lr.relation match {
        case h: HadoopFsRelation => h.location.rootPaths.map(_.toString)
        case _ => Seq.empty
      }
    }.flatten
    roots match {
      case Seq(root) =>
        val local = if (root.startsWith("file:")) new java.net.URI(root).getPath else root
        // key on the FOOTER FILE's identity, not the root: a directory's
        // mtime does not change when a contained part file is
        // overwritten in place, so a table rewritten with a shuffled
        // covering mapping must not prune through a stale entry
        val key = try {
          graft.sources.GeoParquetMeta.footerFile(local) match {
            case Some(f) => s"${f.getPath}@${f.length}@${f.lastModified}"
            case None => return None
          }
        } catch { case _: Exception => return None }
        if (coveringCache.size > 1024) coveringCache.clear() // bound growth
        coveringCache.getOrElseUpdate(key, {
          try graft.sources.GeoParquetMeta.readGeoMetadata(local)
            .flatMap(graft.sources.GeoParquetMeta.parseCovering)
          catch { case _: Exception => None }
        })
      case _ => None // zero or multiple relations: nothing to certify
    }
  }

  private def litEnvelope(e: Expression): Option[(Double, Double, Double, Double)] = {
    if (!e.foldable) return None
    try {
      val v = GeoScalar("st_extent", Seq(e)).eval(InternalRow.empty)
      v match {
        case r: InternalRow => Some((r.getDouble(0), r.getDouble(1), r.getDouble(2), r.getDouble(3)))
        case _ => None
      }
    } catch { case _: Exception => None }
  }

  private def field(b: Attribute, i: Int, n: String): Expression = GetStructField(b, i, Some(n))

  /** Range conjuncts implied by `pred(geomCol, lit)` on the bbox column;
   *  `bi` = (attribute, role ordinals for xmin/ymin/xmax/ymax). */
  private def skippingPredicates(pred: String, bi: (Attribute, Array[Int]),
      env: (Double, Double, Double, Double), pad: Double): Seq[Expression] = {
    val (ex0, ey0, ex1, ey1) = env
    val (b, idx) = bi
    val names = b.dataType.asInstanceOf[StructType].fieldNames
    val minX = field(b, idx(0), names(idx(0))); val minY = field(b, idx(1), names(idx(1)))
    val maxX = field(b, idx(2), names(idx(2))); val maxY = field(b, idx(3), names(idx(3)))
    pred match {
      case "st_within" | "st_coveredby" => Seq( // col inside lit
        GreaterThanOrEqual(minX, Literal(ex0)), LessThanOrEqual(maxX, Literal(ex1)),
        GreaterThanOrEqual(minY, Literal(ey0)), LessThanOrEqual(maxY, Literal(ey1)))
      case "st_contains" | "st_covers" | "st_containsproperly" => Seq( // col contains lit
        LessThanOrEqual(minX, Literal(ex0)), GreaterThanOrEqual(maxX, Literal(ex1)),
        LessThanOrEqual(minY, Literal(ey0)), GreaterThanOrEqual(maxY, Literal(ey1)))
      case "st_intersects" | "st_equals" | "st_touches" | "st_crosses" |
           "st_overlaps" | "st_intersects_extent" | "st_dwithin" => Seq( // bbox overlap (+pad)
        LessThanOrEqual(minX, Literal(ex1 + pad)), GreaterThanOrEqual(maxX, Literal(ex0 - pad)),
        LessThanOrEqual(minY, Literal(ey1 + pad)), GreaterThanOrEqual(maxY, Literal(ey0 - pad)))
      case _ => Nil
    }
  }

  override def apply(plan: LogicalPlan): LogicalPlan = {
    plan.transformUp {
      case f @ Filter(cond, child) if f.resolved =>
        val cs = conjuncts(cond)
        val added = cs.flatMap {
          case GeoPredicate(name, g, l) =>
            (bboxAttr(child, g), litEnvelope(l)) match {
              case (Some(b), Some(env)) => skippingPredicates(name, b, env, 0.0)
              case _ =>
                // swapped orientation: lit PRED col
                (bboxAttr(child, l), litEnvelope(g)) match {
                  case (Some(b), Some(env)) =>
                    val swappedName = name match {
                      case "st_within" => "st_contains"
                      case "st_contains" => "st_within"
                      case "st_coveredby" => "st_covers"
                      case "st_covers" => "st_coveredby"
                      case other => other
                    }
                    skippingPredicates(swappedName, b, env, 0.0)
                  case _ => Nil
                }
            }
          case GeoScalar("st_dwithin", Seq(g, l, d)) if d.foldable =>
            (bboxAttr(child, g), litEnvelope(l)) match {
              case (Some(b), Some(env)) =>
                val pad = d.eval(InternalRow.empty) match {
                  case n: java.lang.Number => n.doubleValue()
                  case _ => 0.0
                }
                skippingPredicates("st_dwithin", b, env, pad)
              case _ => Nil
            }
          case _ => Nil
        }
        val fresh = added.filterNot(a => cs.exists(_.semanticEquals(a)))
        if (fresh.isEmpty) f
        else Filter((cs ++ fresh).reduce(And), child)
    }
  }
}
