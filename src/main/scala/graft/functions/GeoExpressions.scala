package graft.functions

import org.apache.spark.TaskContext
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, CodegenFallback, ExprCode}
import org.apache.spark.sql.types._
import org.locationtech.jts.geom.Geometry
import org.locationtech.jts.geom.prep.{PreparedGeometry, PreparedGeometryFactory}

/**
 * Generic scalar ST_* expression. One case class dispatches by function
 * name into [[GeoOps.ops]] — this keeps the ~70 function families
 * (reference: spatial/include/spatial/core/functions/scalar.hpp:11-66
 * and spatial/include/spatial/geos/functions/scalar.hpp:11-44) to a
 * small number of Expression classes. JTS work dominates per-row cost,
 * so map-dispatch overhead is noise; hot pure-math paths (hilbert,
 * point accessors) are also exposed as built-in column compositions in
 * [[graft.GeoFunctions]] so they stay inside whole-stage codegen.
 */
case class GeoScalar(name: String, children: Seq[Expression])
    extends Expression with CodegenFallback {

  @transient private lazy val op: GeoOps.Op = GeoOps.ops(name)

  override def dataType: DataType = op.out
  override def nullable: Boolean = true
  override def nullIntolerant: Boolean = true
  // native-typed (struct/array) children await NativeDispatchRule, which
  // runs AFTER ConstantFolding — don't let the folder eval them as WKB
  override def foldable: Boolean =
    children.forall(_.foldable) && !GeoScalar.hasNativeChild(children)
  override def prettyName: String = name

  override def eval(input: InternalRow): Any = {
    val n = children.length
    val args = new Array[Any](n)
    var i = 0
    while (i < n) {
      val v = children(i).eval(input)
      if (v == null) return null
      args(i) = v
      i += 1
    }
    try op.fn(args)
    catch {
      case _: ArrayIndexOutOfBoundsException | _: IndexOutOfBoundsException =>
        throw new IllegalArgumentException(
          s"$name: wrong number of arguments ($n)")
    }
  }

  override protected def withNewChildrenInternal(c: IndexedSeq[Expression]): Expression =
    copy(children = c)
}

object GeoScalar {
  private[functions] def hasNativeChild(children: Seq[Expression]): Boolean =
    children.exists(c => c.resolved && (c.dataType match {
      case _: StructType | _: ArrayType => true
      case _ => false
    }))
}

/**
 * Whole-stage-codegen Hilbert index over raw coordinates: unlike the
 * JTS-backed ops, this is pure arithmetic, so `doGenCode` emits a
 * static call and the expression stays inside the generated loop
 * (keystone of clustered writes — SURVEY §2.1 st_hilbert row).
 */
case class HilbertEncode(
    x: Expression, y: Expression,
    minX: Double, minY: Double, maxX: Double, maxY: Double)
    extends BinaryExpression {
  override def left: Expression = x
  override def right: Expression = y
  override def dataType: DataType = LongType
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "st_hilbert"

  override def nullSafeEval(xv: Any, yv: Any): Any =
    HilbertCurve.encode(xv.asInstanceOf[Double], yv.asInstanceOf[Double], minX, minY, maxX, maxY)

  override protected def doGenCode(
      ctx: org.apache.spark.sql.catalyst.expressions.codegen.CodegenContext,
      ev: org.apache.spark.sql.catalyst.expressions.codegen.ExprCode)
      : org.apache.spark.sql.catalyst.expressions.codegen.ExprCode =
    nullSafeCodeGen(ctx, ev, (xe, ye) =>
      s"${ev.value} = graft.functions.HilbertCurve.encode($xe, $ye, ${minX}D, ${minY}D, ${maxX}D, ${maxY}D);")

  override protected def withNewChildrenInternal(l: Expression, r: Expression): HilbertEncode =
    copy(x = l, y = r)
}

/**
 * Binary GEOMETRY predicate with per-side prepared-geometry caches.
 * Mirrors the reference's prepared-geometry fast path
 * (geos/geos_executor.hpp:22-70: prepare a geometry once, probe it many
 * times):
 *
 *  - ANCHOR_R / ANCHOR_L: one operand is foldable (a filter against a
 *    constant). A folded Literal returns the same array instance on
 *    every row, interpreted or codegen'd, so a one-slot identity cache
 *    prepares it once. Asymmetric predicates use their inverse form
 *    when the constant is on the "wrong" side (contains ↔ within,
 *    covers ↔ coveredBy).
 *  - PLAIN: neither operand is foldable (a spatial join's residual).
 *    The right operand, the build side the grid join probes, repeats
 *    across candidate pairs, so a per-task [[PlainRightCache]] parses
 *    each distinct right geometry once and prepares it on its second
 *    sighting.
 *
 * Not a CodegenFallback: `doGenCode` calls back into this instance, so
 * the operator hosting the predicate (a grid join's hash join, a
 * Filter) stays inside whole-stage codegen with its other conditions.
 */
case class GeoPredicate(name: String, left: Expression, right: Expression)
    extends BinaryExpression {
  import PreparedPredicates.{decodePoint, preparedLeft, preparedRight}

  override def dataType: DataType = BooleanType
  override def nullable: Boolean = true
  override def nullIntolerant: Boolean = true
  // see GeoScalar.foldable: native-typed operands await NativeDispatchRule
  override def foldable: Boolean =
    left.foldable && right.foldable && !GeoScalar.hasNativeChild(Seq(left, right))
  override def prettyName: String = name

  // ANCHOR_R when the right operand is constant (`geom PRED lit`, the
  // common filter shape), ANCHOR_L when only the left is, PLAIN otherwise.
  private final val PLAIN = 0; private final val ANCHOR_L = 1; private final val ANCHOR_R = 2
  @transient private lazy val mode: Int =
    if (right.foldable) ANCHOR_R else if (left.foldable) ANCHOR_L else PLAIN

  @transient private var lRef: AnyRef = _
  @transient private var lPrep: PreparedGeometry = _
  @transient private var rRef: AnyRef = _
  @transient private var rPrep: PreparedGeometry = _

  private def prepL(bytes: Array[Byte]): PreparedGeometry = {
    if (!(bytes eq lRef)) {
      lPrep = PreparedGeometryFactory.prepare(Jts.read(bytes))
      lRef = bytes
    }
    lPrep
  }

  private def prepR(bytes: Array[Byte]): PreparedGeometry = {
    if (!(bytes eq rRef)) {
      rPrep = PreparedGeometryFactory.prepare(Jts.read(bytes))
      rRef = bytes
    }
    rPrep
  }

  // PLAIN mode's build-side cache: opened by the first non-point right
  // operand a task sees, released by that task's completion listener.
  // Driver-side evaluation (constant folding, local relations) has no
  // task to release it and runs uncached.
  @transient private var plainRight: PlainRightCache = _

  private def rightCache(): PlainRightCache = {
    val tc = TaskContext.get()
    if (tc == null) return null
    var c = plainRight
    if (c == null || (c.task ne tc)) {
      c = PlainRightCache.open(tc)
      plainRight = c
    }
    c
  }

  // zero-allocation fast path for the hottest shape: a plain 2-D point
  // WKB decoded into a per-thread scratch Point (see
  // [[PreparedPredicates.decodePoint]]). One scratch per operand side
  // so PLAIN mode can decode both at once.
  @transient private lazy val scratchL = new ThreadLocal[org.locationtech.jts.geom.Point] {
    override def initialValue(): org.locationtech.jts.geom.Point = PreparedPredicates.scratchPoint()
  }
  @transient private lazy val scratchR = new ThreadLocal[org.locationtech.jts.geom.Point] {
    override def initialValue(): org.locationtech.jts.geom.Point = PreparedPredicates.scratchPoint()
  }

  /** `name(l, r)` on two plain geometries. */
  private def unprepared(l: Geometry, r: Geometry): Boolean = name match {
    case "st_intersects" => l.intersects(r)
    case "st_contains" => l.contains(r)
    case "st_containsproperly" => l.relate(r, PreparedPredicates.ContainsProperlyPattern)
    case "st_within" => l.within(r)
    case "st_covers" => l.covers(r)
    case "st_coveredby" => l.coveredBy(r)
    case "st_crosses" => l.crosses(r)
    case "st_disjoint" => l.disjoint(r)
    case "st_equals" => l.equalsTopo(r)
    case "st_overlaps" => l.overlaps(r)
    case "st_touches" => l.touches(r)
    case other => sys.error(s"unknown predicate $other")
  }

  override def nullSafeEval(l: Any, r: Any): Any = {
    val lb = l.asInstanceOf[Array[Byte]]
    val rb = r.asInstanceOf[Array[Byte]]
    def lg: Geometry = {
      val p = decodePoint(lb, scratchL.get()); if (p != null) p else Jts.read(lb)
    }
    def rg: Geometry = {
      val p = decodePoint(rb, scratchR.get()); if (p != null) p else Jts.read(rb)
    }
    if (name == "st_intersects_extent")
      // bbox-only test (reference st_intersects_extent.cpp:17-31)
      return lg.getEnvelopeInternal.intersects(rg.getEnvelopeInternal)
    mode match {
      case ANCHOR_R => preparedRight(name, lg, prepR(rb))
      case ANCHOR_L => preparedLeft(name, prepL(lb), rg)
      case _ =>
        // 21-byte 2-D point right operand: zero-allocation scratch
        // decode, no cache — preparing a point buys nothing. NaN
        // coordinates fall through to the cache path so
        // WKBReader's POINT-EMPTY mapping is preserved.
        val rp = decodePoint(rb, scratchR.get())
        if (rp != null && !java.lang.Double.isNaN(rp.getCoordinate.x) &&
            !java.lang.Double.isNaN(rp.getCoordinate.y))
          return unprepared(lg, rp)
        val cache = rightCache()
        val e = if (cache == null) null else cache.lookup(rb)
        if (e == null) unprepared(lg, Jts.read(rb))
        else if (e.prep != null) preparedRight(name, lg, e.prep)
        else unprepared(lg, e.geom) // first sighting: reuse the parse only
    }
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val self = ctx.addReferenceObj("geoPredicate", this)
    nullSafeCodeGen(ctx, ev, (l, r) =>
      s"${ev.value} = ((java.lang.Boolean) $self.nullSafeEval($l, $r)).booleanValue();")
  }

  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}

/**
 * The named binary predicates with one operand prepared, and the
 * zero-allocation point decode: shared by [[GeoPredicate]] and the
 * broadcast index join, which both probe a prepared build-side
 * geometry with many plain operands.
 */
object PreparedPredicates {

  // containsProperly(A, B) = B touches A's interior and never A's
  // boundary; expressible as a DE-9IM pattern so the non-anchored
  // direction needs no PreparedGeometry (JTS only exposes the named
  // method on PreparedGeometry).
  final val ContainsProperlyPattern = "T**FF*FF*"

  /** `name(l, p)` with the right operand prepared: the inverse form. */
  def preparedRight(name: String, l: Geometry, p: PreparedGeometry): Boolean = name match {
    case "st_intersects" => p.intersects(l)
    case "st_contains" => p.within(l)
    case "st_containsproperly" => l.relate(p.getGeometry, ContainsProperlyPattern)
    case "st_within" => p.contains(l)
    case "st_covers" => p.coveredBy(l)
    case "st_coveredby" => p.covers(l)
    case "st_crosses" => p.crosses(l)
    case "st_disjoint" => p.disjoint(l)
    case "st_equals" => p.getGeometry.equalsTopo(l)
    case "st_overlaps" => p.overlaps(l)
    case "st_touches" => p.touches(l)
    case other => sys.error(s"unknown predicate $other")
  }

  /** `name(p, r)` with the left operand prepared. */
  def preparedLeft(name: String, p: PreparedGeometry, r: Geometry): Boolean = name match {
    case "st_intersects" => p.intersects(r)
    case "st_contains" => p.contains(r)
    case "st_containsproperly" => p.containsProperly(r)
    case "st_within" => p.within(r)
    case "st_covers" => p.covers(r)
    case "st_coveredby" => p.coveredBy(r)
    case "st_crosses" => p.crosses(r)
    case "st_disjoint" => p.disjoint(r)
    case "st_equals" => p.getGeometry.equalsTopo(r)
    case "st_overlaps" => p.overlaps(r)
    case "st_touches" => p.touches(r)
    case other => sys.error(s"unknown predicate $other")
  }

  /** A Point for [[decodePoint]] to overwrite. */
  def scratchPoint(): org.locationtech.jts.geom.Point =
    Jts.gf.createPoint(new org.locationtech.jts.geom.Coordinate(0, 0))

  /** A plain 2-D point WKB (21 bytes, type 1) decoded into `into`
   *  without the WKBReader, or null for any other WKB. NaN coordinates
   *  are decoded as they are: callers that need WKBReader's POINT EMPTY
   *  mapping check for them. */
  def decodePoint(b: Array[Byte], into: org.locationtech.jts.geom.Point): org.locationtech.jts.geom.Point = {
    if (b.length != 21) return null
    val le = b(0) == 1
    val t = if (le)
      (b(1) & 0xFF) | ((b(2) & 0xFF) << 8) | ((b(3) & 0xFF) << 16) | ((b(4) & 0xFF) << 24)
    else
      (b(4) & 0xFF) | ((b(3) & 0xFF) << 8) | ((b(2) & 0xFF) << 16) | ((b(1) & 0xFF) << 24)
    if (t != 1) return null
    val bb = java.nio.ByteBuffer.wrap(b, 5, 16)
      .order(if (le) java.nio.ByteOrder.LITTLE_ENDIAN else java.nio.ByteOrder.BIG_ENDIAN)
    val c = into.getCoordinate
    c.x = bb.getDouble; c.y = bb.getDouble
    into.geometryChanged()
    into
  }
}

/**
 * One task's cache of PLAIN-mode [[GeoPredicate]] right operands. In a
 * grid join's residual neither operand is foldable, but the build
 * side's geometries repeat across candidate pairs: every point of a
 * cell is probed against every zone of that cell. Without reuse each
 * pair re-parses the zone WKB and runs an unprepared JTS relate.
 *
 * Keyed by VALUE in a chained hash table: a sampled content hash
 * (length plus eight spread bytes) picks the bucket and prefilters the
 * chain, and `Arrays.equals` confirms a hit, since the row's bytes are
 * a fresh copy on every probe. An entry holds the parsed geometry from
 * its first sighting and a PreparedGeometry from its second, so
 * one-shot operands never pay the prepare.
 *
 * Bounded by [[PlainRightCache.BudgetBytes]] of WKB: an operand larger
 * than the budget is never cached, and an entry that would overflow it
 * flushes the table first. [[PlainRightCache.open]] ties the cache to
 * its task; the completion listener empties it, so pooled executor
 * threads and long-lived plans keep nothing alive after the task.
 */
private[functions] final class PlainRightCache private (val task: TaskContext) {
  import PlainRightCache.Entry

  private var table = new Array[Entry](PlainRightCache.InitialBuckets)
  private var entries = 0
  private var held = 0L
  private var released = false
  /** Jts.read calls made on a miss, for tests. */
  private[functions] var parses = 0L

  def size: Int = entries
  def heldBytes: Long = held

  /** The entry for these bytes (parsed; prepared from the second
   *  sighting on), or null when they are uncacheable or the task has
   *  completed. Malformed WKB raises Jts.read's parse error. */
  def lookup(b: Array[Byte]): Entry = {
    if (released || b.length > PlainRightCache.BudgetBytes) return null
    val h = PlainRightCache.keyHash(b)
    var e = table(PlainRightCache.bucket(h, table.length))
    while (e != null) {
      if (e.hash == h && ((e.bytes eq b) || java.util.Arrays.equals(e.bytes, b))) {
        if (e.prep == null) e.prep = PreparedGeometryFactory.prepare(e.geom)
        return e
      }
      e = e.next
    }
    val geom = Jts.read(b)
    parses += 1
    if (held + b.length > PlainRightCache.BudgetBytes) clear()
    if (entries >= table.length - (table.length >> 2)) grow()
    val i = PlainRightCache.bucket(h, table.length)
    val added = new Entry(b, h, geom, table(i))
    table(i) = added
    entries += 1
    held += b.length
    added
  }

  private def grow(): Unit = {
    val next = new Array[Entry](table.length * 2)
    table.foreach { head =>
      var e = head
      while (e != null) {
        val rest = e.next
        val i = PlainRightCache.bucket(e.hash, next.length)
        e.next = next(i)
        next(i) = e
        e = rest
      }
    }
    table = next
  }

  private def clear(): Unit = {
    table = new Array[Entry](PlainRightCache.InitialBuckets)
    entries = 0
    held = 0
  }

  /** Empties the cache for good; later lookups return null. */
  def release(): Unit = {
    released = true
    clear()
  }
}

private[functions] object PlainRightCache {
  /** WKB bytes one task's cache may hold: far above a grid join's
   *  working set (5,000 eight-vertex zones are 0.8 MB) and small enough
   *  that four concurrent tasks' prepared indexes stay well inside an
   *  executor's heap. */
  final val BudgetBytes = 8L << 20

  private final val InitialBuckets = 64

  final class Entry(
      val bytes: Array[Byte], val hash: Int, val geom: Geometry, var next: Entry) {
    var prep: PreparedGeometry = _
  }

  /** A cache for this task, released when the task completes. */
  def open(task: TaskContext): PlainRightCache = {
    val c = new PlainRightCache(task)
    task.addTaskCompletionListener[Unit](_ => c.release())
    c
  }

  /** Sampled content hash: length plus eight spread byte probes — a
   *  prefilter only; collisions fall through to Arrays.equals. Empty
   *  input hashes to 0 and is left for Jts.read to reject. */
  private[functions] def keyHash(b: Array[Byte]): Int = {
    val n = b.length
    var h = n
    if (n > 0) {
      var i = 0
      while (i < 8) {
        h = h * 31 + b(i * (n - 1) / 7)
        i += 1
      }
    }
    h
  }

  private def bucket(h: Int, buckets: Int): Int = (h ^ (h >>> 16)) & (buckets - 1)
}

/**
 * Segment-sum length of a native LINESTRING_2D (`array<struct<x,y>>`)
 * — the codegen'd kernel behind [[graft.plans.NativeDispatchRule]]'s
 * `st_length` overload (reference registers the same per-type overload,
 * st_length.cpp LINESTRING_2D path). Same summation order as JTS
 * `getLength`, so results match the generic WKB tier bit-for-bit.
 */
case class NativeLineLength(child: Expression) extends UnaryExpression {
  override def dataType: DataType = DoubleType
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "st_length"

  override protected def nullSafeEval(v: Any): Any =
    NativeLineLength.compute(v.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData])

  override protected def doGenCode(
      ctx: org.apache.spark.sql.catalyst.expressions.codegen.CodegenContext,
      ev: org.apache.spark.sql.catalyst.expressions.codegen.ExprCode)
      : org.apache.spark.sql.catalyst.expressions.codegen.ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.NativeLineLength.compute($c)")

  override protected def withNewChildInternal(c: Expression): NativeLineLength =
    copy(child = c)
}

object NativeLineLength {
  def compute(arr: org.apache.spark.sql.catalyst.util.ArrayData): Double = {
    var sum = 0.0
    var i = 1
    val n = arr.numElements()
    while (i < n) {
      val p = arr.getStruct(i - 1, 2)
      val q = arr.getStruct(i, 2)
      val dx = q.getDouble(0) - p.getDouble(0)
      val dy = q.getDouble(1) - p.getDouble(1)
      sum += math.sqrt(dx * dx + dy * dy)
      i += 1
    }
    sum
  }
}

/**
 * Native POLYGON_2D point-in-polygon: the winding-number kernel the
 * reference vectorizes for its POLYGON_2D×POINT_2D st_contains overload
 * (core/functions/scalar/st_contains.cpp:16-130) — codegen arithmetic
 * over the rings array, no WKB/JTS in the loop. Semantics match JTS
 * `contains` for valid polygons: strictly inside the shell, outside
 * every hole, boundary points excluded.
 */
case class NativePolygonContains(left: Expression, right: Expression)
    extends BinaryExpression {
  override def dataType: DataType = BooleanType
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "st_contains"

  override protected def nullSafeEval(poly: Any, pt: Any): Any =
    NativePolygonContains.compute(
      poly.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData],
      pt.asInstanceOf[InternalRow])

  override protected def doGenCode(
      ctx: org.apache.spark.sql.catalyst.expressions.codegen.CodegenContext,
      ev: org.apache.spark.sql.catalyst.expressions.codegen.ExprCode)
      : org.apache.spark.sql.catalyst.expressions.codegen.ExprCode =
    defineCodeGen(ctx, ev, (p, q) => s"graft.functions.NativePolygonContains.compute($p, $q)")

  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}

object NativePolygonContains {
  /** Winding number of (x, y) vs one ring; NaN-free integer arithmetic
   *  not assumed — pure double compares. Returns Int.MinValue when the
   *  point lies ON a ring segment (the boundary sentinel). */
  private def winding(ring: org.apache.spark.sql.catalyst.util.ArrayData,
      x: Double, y: Double): Int = {
    val n = ring.numElements()
    if (n < 2) return 0
    var p = ring.getStruct(0, 2)
    var x1 = p.getDouble(0); var y1 = p.getDouble(1)
    var wn = 0
    var i = 1
    while (i < n) {
      val q = ring.getStruct(i, 2)
      val x2 = q.getDouble(0); val y2 = q.getDouble(1)
      if (!(x1 == x2 && y1 == y2)) {
        val yMin = math.min(y1, y2); val yMax = math.max(y1, y2)
        if (y >= yMin && y <= yMax) {
          val side = (x - x1) * (y2 - y1) - (x2 - x1) * (y - y1)
          if (side == 0 &&
              (((x1 <= x && x < x2) || (x1 >= x && x > x2)) ||
               ((y1 <= y && y < y2) || (y1 >= y && y > y2))))
            return Int.MinValue // on this segment
          if (side < 0 && y1 < y && y <= y2) wn += 1
          else if (side > 0 && y2 <= y && y < y1) wn -= 1
        }
        x1 = x2; y1 = y2
      }
      i += 1
    }
    wn
  }

  def compute(poly: org.apache.spark.sql.catalyst.util.ArrayData,
      pt: InternalRow): Boolean = {
    val x = pt.getDouble(0); val y = pt.getDouble(1)
    val nRings = poly.numElements()
    if (nRings == 0) return false
    var r = 0
    while (r < nRings) {
      val wn = winding(poly.getArray(r), x, y)
      if (wn == Int.MinValue) return false // boundary excluded
      val inRing = wn != 0
      if (r == 0) { if (!inRing) return false } // outside the shell
      else if (inRing) return false // inside a hole
      r += 1
    }
    true
  }

  /** Shoelace area: shell minus holes (matches JTS `getArea`). */
  def area(poly: org.apache.spark.sql.catalyst.util.ArrayData): Double = {
    var total = 0.0
    var r = 0
    val nRings = poly.numElements()
    while (r < nRings) {
      val ring = poly.getArray(r)
      val n = ring.numElements()
      var s = 0.0
      var i = 1
      while (i < n) {
        val p = ring.getStruct(i - 1, 2); val q = ring.getStruct(i, 2)
        s += p.getDouble(0) * q.getDouble(1) - q.getDouble(0) * p.getDouble(1)
        i += 1
      }
      val a = math.abs(s) / 2
      total += (if (r == 0) a else -a)
      r += 1
    }
    total
  }

  /** Sum of ring lengths (JTS polygon `getLength` semantics). */
  def perimeter(poly: org.apache.spark.sql.catalyst.util.ArrayData): Double = {
    var total = 0.0
    var r = 0
    val nRings = poly.numElements()
    while (r < nRings) {
      total += NativeLineLength.compute(poly.getArray(r))
      r += 1
    }
    total
  }

  def npoints(poly: org.apache.spark.sql.catalyst.util.ArrayData): Int = {
    var total = 0
    var r = 0
    val nRings = poly.numElements()
    while (r < nRings) { total += poly.getArray(r).numElements(); r += 1 }
    total
  }
}

/** Scalar companions of the polygon kernel ([[NativePolygonContains]])
 *  for the POLYGON_2D st_area / st_perimeter / st_npoints overloads
 *  (reference per-type overloads: st_area.cpp POLYGON_2D path). */
case class NativePolygonScalar(child: Expression, op: String) extends UnaryExpression {
  override def dataType: DataType = if (op == "npoints") IntegerType else DoubleType
  override def nullIntolerant: Boolean = true
  override def prettyName: String = s"st_$op"

  override protected def nullSafeEval(v: Any): Any = {
    val a = v.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData]
    op match {
      case "area" => NativePolygonContains.area(a)
      case "perimeter" => NativePolygonContains.perimeter(a)
      case "npoints" => NativePolygonContains.npoints(a)
    }
  }

  override protected def doGenCode(
      ctx: org.apache.spark.sql.catalyst.expressions.codegen.CodegenContext,
      ev: org.apache.spark.sql.catalyst.expressions.codegen.ExprCode)
      : org.apache.spark.sql.catalyst.expressions.codegen.ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.NativePolygonContains.$op($c)")

  override protected def withNewChildInternal(c: Expression): NativePolygonScalar =
    copy(child = c)
}

/**
 * Native-tier ST_Transform overloads (the reference registers
 * per-type overloads for POINT_2D and BOX_2D alongside GEOMETRY —
 * proj/functions.cpp:488-517): struct in, struct out, no WKB/JTS in
 * the loop. BOX_2D mirrors the reference's corner-transform semantics.
 * SQL names are distinct (`st_transform_point2d` / `st_transform_box2d`)
 * because a post-analysis rewrite of `st_transform` would change the
 * expression's output type under already-resolved parents.
 */
case class TransformNative(
    child: Expression, src: String, dst: String, alwaysXy: Boolean, isBox: Boolean)
    extends UnaryExpression with CodegenFallback {
  @transient private lazy val s = Crs.resolve(src)
  @transient private lazy val d = Crs.resolve(dst)

  override def dataType: DataType =
    if (isBox) StructType(Seq(
      StructField("min_x", DoubleType), StructField("min_y", DoubleType),
      StructField("max_x", DoubleType), StructField("max_y", DoubleType)))
    else StructType(Seq(StructField("x", DoubleType), StructField("y", DoubleType)))
  override def nullIntolerant: Boolean = true
  override def prettyName: String =
    if (isBox) "st_transform_box2d" else "st_transform_point2d"

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    val want = if (isBox) 4 else 2
    child.dataType match {
      case st: StructType if st.length == want && st.fields.forall(_.dataType == DoubleType) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"$prettyName: expected struct of $want doubles, got ${other.sql}")
    }
  }

  override protected def nullSafeEval(v: Any): Any = {
    val r = v.asInstanceOf[InternalRow]
    val n = if (isBox) 4 else 2
    var i = 0
    while (i < n) { if (r.isNullAt(i)) return null; i += 1 } // null field -> null result
    if (isBox) {
      val (x0, y0) = Crs.transformXY(r.getDouble(0), r.getDouble(1), s, d, alwaysXy)
      val (x1, y1) = Crs.transformXY(r.getDouble(2), r.getDouble(3), s, d, alwaysXy)
      InternalRow(x0, y0, x1, y1)
    } else {
      val (x, y) = Crs.transformXY(r.getDouble(0), r.getDouble(1), s, d, alwaysXy)
      InternalRow(x, y)
    }
  }

  override protected def withNewChildInternal(c: Expression): TransformNative =
    copy(child = c)
}
