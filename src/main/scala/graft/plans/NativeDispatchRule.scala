package graft.plans

import graft.functions.{GeoPredicate, GeoScalar, NativeLineLength,
  NativePolygonContains, NativePolygonScalar, WkbBound, WkbExtent}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.types._

/**
 * Native-type overload dispatch (SURVEY §1.4; reference types.cpp:11-62
 * and the per-type function sets, e.g. st_area.cpp:200-207): when an
 * ST_* call's argument is already a native-tier value — POINT_2D
 * `struct<x,y>`, BOX_2D `struct<min_x,min_y,max_x,max_y>`,
 * LINESTRING_2D `array<struct<x,y>>` — rewrite the JTS-backed
 * [[GeoScalar]]/[[GeoPredicate]] into plain arithmetic over the struct
 * fields. The result stays inside whole-stage codegen and parquet
 * min/max stats remain usable, which is the point of the native tier
 * at 100 TB. Runs post-analysis (child types are resolved); rewrites
 * only where the output type and NULL/boundary semantics match the
 * generic tier exactly.
 */
case class NativeDispatchRule(spark: SparkSession) extends Rule[LogicalPlan] {

  private def isPoint(t: DataType): Boolean = t match {
    case s: StructType =>
      s.fieldNames.sameElements(Array("x", "y")) && s.fields.forall(_.dataType == DoubleType)
    case _ => false
  }
  private def isBox(t: DataType): Boolean = t match {
    case s: StructType =>
      s.fieldNames.sameElements(Array("min_x", "min_y", "max_x", "max_y")) &&
        s.fields.forall(_.dataType == DoubleType)
    case _ => false
  }
  private def isLine(t: DataType): Boolean = t match {
    case ArrayType(et, _) => isPoint(et)
    case _ => false
  }
  private def isPolygon(t: DataType): Boolean = t match {
    case ArrayType(et, _) => isLine(et) // rings of coords
    case _ => false
  }
  private def isNative(t: DataType): Boolean =
    isPoint(t) || isBox(t) || isLine(t) || isPolygon(t)

  private def fld(e: Expression, name: String): Expression = {
    val s = e.dataType.asInstanceOf[StructType]
    GetStructField(e, s.fieldIndex(name), Some(name))
  }
  /** `v` when the input is non-null, NULL otherwise (the generic tier is
   *  null-intolerant, so constants must not swallow null inputs). */
  private def nullGate(in: Expression, v: Expression): Expression =
    If(IsNull(in), Literal.create(null, v.dataType), v)

  private def sub(a: Expression, b: Expression) = Subtract(a, b)
  private def mul(a: Expression, b: Expression) = Multiply(a, b)

  private def boxArea(b: Expression): Expression =
    mul(sub(fld(b, "max_x"), fld(b, "min_x")), sub(fld(b, "max_y"), fld(b, "min_y")))
  private def boxPerimeter(b: Expression): Expression =
    mul(Literal(2.0), Add(sub(fld(b, "max_x"), fld(b, "min_x")),
      sub(fld(b, "max_y"), fld(b, "min_y"))))
  private def pointDistance(a: Expression, b: Expression): Expression = {
    val dx = sub(fld(a, "x"), fld(b, "x"))
    val dy = sub(fld(a, "y"), fld(b, "y"))
    Sqrt(Add(mul(dx, dx), mul(dy, dy)))
  }
  /** strict interior test — matches JTS contains/within for a point vs
   *  an envelope polygon (boundary excluded) */
  private def pointInBox(pt: Expression, b: Expression): Expression = And(
    And(GreaterThan(fld(pt, "x"), fld(b, "min_x")),
      LessThan(fld(pt, "x"), fld(b, "max_x"))),
    And(GreaterThan(fld(pt, "y"), fld(b, "min_y")),
      LessThan(fld(pt, "y"), fld(b, "max_y"))))
  /** inclusive bbox overlap — matches JTS intersects for envelopes */
  private def boxIntersects(a: Expression, b: Expression): Expression = And(
    And(LessThanOrEqual(fld(a, "min_x"), fld(b, "max_x")),
      GreaterThanOrEqual(fld(a, "max_x"), fld(b, "min_x"))),
    And(LessThanOrEqual(fld(a, "min_y"), fld(b, "max_y")),
      GreaterThanOrEqual(fld(a, "max_y"), fld(b, "min_y"))))

  private def rewriteScalar(name: String, c: Expression): Option[Expression] = {
    val t = c.dataType
    name match {
      case "st_area" if isBox(t) => Some(boxArea(c))
      case "st_area" if isPoint(t) || isLine(t) => Some(nullGate(c, Literal(0.0)))
      case "st_perimeter" if isBox(t) => Some(boxPerimeter(c))
      case "st_perimeter" if isPoint(t) || isLine(t) => Some(nullGate(c, Literal(0.0)))
      case "st_length" if isLine(t) => Some(NativeLineLength(c))
      case "st_length" if isPoint(t) || isBox(t) => Some(nullGate(c, Literal(0.0)))
      case "st_x" if isPoint(t) => Some(fld(c, "x"))
      case "st_y" if isPoint(t) => Some(fld(c, "y"))
      case "st_xmin" if isBox(t) => Some(fld(c, "min_x"))
      case "st_ymin" if isBox(t) => Some(fld(c, "min_y"))
      case "st_xmax" if isBox(t) => Some(fld(c, "max_x"))
      case "st_ymax" if isBox(t) => Some(fld(c, "max_y"))
      case "st_xmin" | "st_xmax" if isPoint(t) => Some(fld(c, "x"))
      case "st_ymin" | "st_ymax" if isPoint(t) => Some(fld(c, "y"))
      case "st_npoints" | "st_numpoints" if isPoint(t) => Some(nullGate(c, Literal(1)))
      case "st_npoints" | "st_numpoints" if isLine(t) => Some(Size(c))
      case "st_area" if isPolygon(t) => Some(NativePolygonScalar(c, "area"))
      case "st_perimeter" if isPolygon(t) => Some(NativePolygonScalar(c, "perimeter"))
      case "st_npoints" | "st_numpoints" if isPolygon(t) =>
        Some(NativePolygonScalar(c, "npoints"))
      case _ => None
    }
  }

  private def rewriteBinary(name: String, l: Expression, r: Expression): Option[Expression] =
    (name, l.dataType, r.dataType) match {
      case ("st_distance", lt, rt) if isPoint(lt) && isPoint(rt) => Some(pointDistance(l, r))
      case ("st_contains", lt, rt) if isBox(lt) && isPoint(rt) => Some(pointInBox(r, l))
      case ("st_within", lt, rt) if isPoint(lt) && isBox(rt) => Some(pointInBox(l, r))
      case ("st_contains", lt, rt) if isPolygon(lt) && isPoint(rt) =>
        Some(NativePolygonContains(l, r))
      case ("st_within", lt, rt) if isPoint(lt) && isPolygon(rt) =>
        Some(NativePolygonContains(r, l))
      case ("st_intersects", lt, rt) if isBox(lt) && isBox(rt) => Some(boxIntersects(l, r))
      case ("st_intersects", lt, rt) if isBox(lt) && isPoint(rt) =>
        Some(boxIntersects(l, boxOf(r)))
      case ("st_intersects", lt, rt) if isPoint(lt) && isBox(rt) =>
        Some(boxIntersects(boxOf(l), r))
      case _ => None
    }

  /** degenerate BOX_2D of a POINT_2D (for inclusive intersects) */
  private def boxOf(pt: Expression): Expression = CreateNamedStruct(Seq(
    Literal("min_x"), fld(pt, "x"), Literal("min_y"), fld(pt, "y"),
    Literal("max_x"), fld(pt, "x"), Literal("max_y"), fld(pt, "y")))

  /** The `st_extent`/`st_xmin`-family over GENERIC WKB rewrites to the
   *  compiled byte-walking kernels ([[graft.functions.WkbEnvelope]]):
   *  identical isEmpty→NULL semantics, but no JTS materialization and
   *  the expression stays inside whole-stage codegen — these are the
   *  bbox residual of every grid spatial join. */
  private def rewriteWkb(name: String, c: Expression): Option[Expression] = name match {
    case "st_xmin" => Some(WkbBound(c, 0))
    case "st_ymin" => Some(WkbBound(c, 1))
    case "st_xmax" => Some(WkbBound(c, 2))
    case "st_ymax" => Some(WkbBound(c, 3))
    case "st_extent" => Some(WkbExtent(c))
    case _ => None
  }

  override def apply(plan: LogicalPlan): LogicalPlan = plan.transformAllExpressions {
    case g @ GeoScalar(name, Seq(c)) if c.resolved && c.dataType == BinaryType =>
      rewriteWkb(name, c).getOrElse(g)
    case g @ GeoScalar(name, Seq(c)) if c.resolved && isNative(c.dataType) =>
      rewriteScalar(name, c).getOrElse(g)
    case g @ GeoScalar(name, Seq(l, r))
        if l.resolved && r.resolved && (isNative(l.dataType) || isNative(r.dataType)) =>
      rewriteBinary(name, l, r).getOrElse(g)
    case g @ GeoPredicate(name, l, r)
        if l.resolved && r.resolved && (isNative(l.dataType) || isNative(r.dataType)) =>
      rewriteBinary(name, l, r).getOrElse(g)
  }
}
