package graft.operators

import graft.GeoFunctions._
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.analysis.MultiInstanceRelation
import org.apache.spark.sql.catalyst.expressions.{Literal, ScalarSubquery}
import org.apache.spark.sql.catalyst.plans.logical.{LocalLimit, LogicalPlan}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.ColumnShim

/**
 * Distributed grid spatial join, for two sides too large to broadcast.
 *
 * SQL joins with a side under `spark.sql.autoBroadcastJoinThreshold`
 * do not come here: [[graft.plans.SpatialJoinRule]] plans them as a
 * broadcast STR-tree index join ([[graft.plans.BroadcastIndexJoinExec]]).
 * The reference rewrites `a JOIN b ON ST_Intersects(a.g, b.g)` into a
 * single-node IEJoin over bbox ranges (core/optimizer_rules.cpp:33-279
 * + DuckDB physical_iejoin). A range join does not scale on Spark —
 * there is no partitioning that co-locates arbitrary interval overlap.
 * Instead we decompose space into a uniform grid and turn the spatial
 * join into an EQUI-join on cell id (Spark's native strength: shuffle
 * hash / sort-merge, AQE skew handling), followed by the exact JTS
 * predicate:
 *
 *   1. each row explodes to the grid cells its bbox covers
 *      (points/small geoms → exactly 1 cell)
 *   2. equi-join on (cell_x, cell_y) — shuffles both sides by cell
 *   3. de-duplicate multi-cell pairs with the reference-point
 *      technique (a candidate pair is kept only in the cell that
 *      contains the top-left corner of the bbox intersection — no
 *      distinct() shuffle needed)
 *   4. cheap bbox-overlap prefilter, then exact JTS predicate
 *
 * Steps 1-3 are pure Spark built-ins (sequence/explode/floor) → whole
 * stage codegen. The exact predicate is a codegen'd call into
 * GeoPredicate, so the equi-join and all its conditions stay in one
 * generated stage; GeoPredicate parses and prepares each distinct
 * right-side geometry once per task (its build-side cache).
 *
 * At 100 TB scale: cell size controls the shuffle key cardinality and
 * skew. Too small → row explosion on large geometries; too big → hot
 * cells. Unless the caller fixes it, the cell size is ~2× the mean
 * bbox extent of a sample of each side ([[cellSizeFrame]]), the
 * standard heuristic for grid spatial joins, read as one uncorrelated
 * scalar subquery that Spark evaluates once when the join executes.
 * Its sample is bounded per partition and aggregated in one coalesced
 * task, so it plans no exchange.
 */
object SpatialJoin {

  /** Predicates whose candidate set is "bboxes overlap" (reference
   *  optimizer_rules.cpp:96-98 — st_disjoint excluded). */
  val supported: Set[String] = Set(
    "st_equals", "st_intersects", "st_touches", "st_crosses", "st_within",
    "st_contains", "st_overlaps", "st_covers", "st_coveredby",
    "st_containsproperly", "st_dwithin")

  /**
   * Grid spatial join. Result columns: left columns then right columns
   * (caller should alias collisions away first, like any Spark join).
   *
   * @param predicate one of [[supported]] (default st_intersects);
   *                  st_dwithin uses `distance`
   * @param cellSize  grid cell edge in coordinate units; <=0 → the
   *                  [[cellSizeFrame]] estimate, embedded as a scalar
   *                  subquery: building the frame runs no Spark job,
   *                  and the estimate is computed once per execution
   */
  def join(
      left: DataFrame, right: DataFrame,
      leftGeom: Column, rightGeom: Column,
      predicate: String = "st_intersects",
      cellSize: Double = 0.0,
      distance: Double = 0.0): DataFrame = {
    require(supported.contains(predicate), s"unsupported spatial join predicate: $predicate")

    val pad = if (predicate == "st_dwithin") distance else 0.0

    // a fixed cell size, or one uncorrelated scalar subquery over the
    // estimator: the same expression (one exprId) feeds both explodes
    // and the reference-point test, so Spark computes it once, at
    // execution, and no job runs while the join is planned. The
    // estimator's relations get fresh attribute ids: sharing the
    // inputs' ids, its copy of `right` (seen inside the left side's
    // explode) would make the analyzer's self-join de-duplication
    // rename the join's right side.
    val cs =
      if (cellSize > 0) lit(cellSize)
      else ColumnShim.column(ScalarSubquery(
        cellSizeFrame(left, leftGeom, right, rightGeom).queryExecution.optimizedPlan
          .transformUpWithNewOutput {
            case r: LogicalPlan with MultiInstanceRelation =>
              val fresh = r.newInstance()
              (fresh, r.output.zip(fresh.output))
          }))

    def withCells(df: DataFrame, geom: Column, prefix: String, padBy: Double): DataFrame = {
      val g = col(s"${prefix}g")
      df.withColumn(s"${prefix}g", geom)
        .withColumn(s"${prefix}b", st_extent(g))
        .withColumn(s"${prefix}cx",
          explode(sequence(
            floor((col(s"${prefix}b.min_x") - padBy) / cs).cast("long"),
            floor((col(s"${prefix}b.max_x") + padBy) / cs).cast("long"))))
        .withColumn(s"${prefix}cy",
          explode(sequence(
            floor((col(s"${prefix}b.min_y") - padBy) / cs).cast("long"),
            floor((col(s"${prefix}b.max_y") + padBy) / cs).cast("long"))))
    }

    // pad only one side for dwithin (padding both would double-count)
    val l = withCells(left, leftGeom, "__l", pad)
    val r = withCells(right, rightGeom, "__r", 0.0)

    val bboxOverlap =
      col("__lb.min_x") <= col("__rb.max_x") + pad && col("__lb.max_x") >= col("__rb.min_x") - pad &&
      col("__lb.min_y") <= col("__rb.max_y") + pad && col("__lb.max_y") >= col("__rb.min_y") - pad

    // reference-point dedup: keep the pair only in the cell holding the
    // min corner of the (padded) bbox intersection
    val refX = greatest(col("__lb.min_x") - pad, col("__rb.min_x"))
    val refY = greatest(col("__lb.min_y") - pad, col("__rb.min_y"))
    val dedup =
      floor(refX / cs).cast("long") === col("__lcx") &&
      floor(refY / cs).cast("long") === col("__lcy")

    val joined = l.join(r,
      col("__lcx") === col("__rcx") && col("__lcy") === col("__rcy") &&
        bboxOverlap && dedup &&
        exact(predicate, col("__lg"), col("__rg"), distance),
      "inner")

    joined.drop("__lg", "__lb", "__lcx", "__lcy", "__rg", "__rb", "__rcx", "__rcy")
  }

  private def exact(predicate: String, lg: Column, rg: Column, distance: Double): Column =
    predicate match {
      case "st_dwithin" => st_dwithin(lg, rg, lit(distance))
      case p => st(p, lg, rg)
    }

  /** One side's bbox extents, tagged `s` = `side`, over a seeded random
   *  sample (plus each partition's first 64 rows so tiny inputs always
   *  contribute). Both bounds are per-partition `LocalLimit`s: a
   *  partition's scan stops after its share of rows, and no global
   *  limit gathers rows through an exchange. */
  private def bboxSample(df: DataFrame, g: Column, side: Int): DataFrame = {
    val b = df.select(st_extent(g).as("b"))
    def localLimit(d: DataFrame, n: Int): DataFrame =
      ColumnShim.ofRows(d.sparkSession, LocalLimit(Literal(n), d.queryExecution.analyzed))
    localLimit(b.sample(withReplacement = false, 0.1, seed = 42), 1024)
      .union(localLimit(b, 64))
      .select(lit(side).as("s"), col("b"))
  }

  /** 1-row, 1-column (`__cs`) frame computing the grid-cell estimate:
   *  2× the larger side's mean bbox extent, span/256 for point-like
   *  inputs, 1.0 as the degenerate fallback. One aggregate over both
   *  sides' samples; [[join]] reads it as a scalar subquery. */
  def cellSizeFrame(left: DataFrame, leftGeom: Column, right: DataFrame, rightGeom: Column): DataFrame = {
    def extent(side: Int): Column = {
      def of(c: Column): Column = when(col("s") === side, c)
      val edge = greatest(
        avg(of(col("b.max_x") - col("b.min_x"))), avg(of(col("b.max_y") - col("b.min_y"))))
      val span = greatest(
        max(of(col("b.max_x"))) - min(of(col("b.min_x"))),
        max(of(col("b.max_y"))) - min(of(col("b.min_y"))))
      when(edge > 0, edge).otherwise(span / 256.0)
    }
    val cell = lit(2.0) * greatest(extent(0), extent(1))
    // one partition, by a narrow coalesce: the global aggregate then
    // needs no exchange
    bboxSample(left, leftGeom, 0).union(bboxSample(right, rightGeom, 1)).coalesce(1)
      .agg(coalesce(when(cell > 0, cell), lit(1.0)).as("__cs"))
  }

  /**
   * Radius-bounded KNN join: for every left row, the `k` nearest right
   * rows within `maxDist` (nearest-POI / nearest-zone enrichment).
   * This is THE scalable KNN formulation — the candidate set comes from
   * the [[join]] grid dwithin blocking (never all-pairs), and ranking
   * uses the bounded [[Similarity.topKByScore]] aggregate, so only ≤ k
   * rows per (left row, partition) reach the exchange. Left rows with
   * no neighbor inside `maxDist` produce no output (unbounded KNN
   * needs an expanding-radius search, which cannot block).
   *
   * Ranking is deterministic: (round(distance, 6) asc, right id asc).
   * `rightId` must be integral. Returns
   * (left columns..., right_id, distance, rank).
   */
  def knnJoin(
      left: DataFrame, right: DataFrame,
      leftId: Column, leftGeom: Column,
      rightId: Column, rightGeom: Column,
      k: Int, maxDist: Double,
      cellSize: Double = 0.0): DataFrame = {
    import graft.GeoFunctions.st_distance
    // plain names: join() strips its own __-prefixed internals
    val l = left.select(leftId.as("knn_lid"), leftGeom.as("knn_lg"))
    val r = right.select(rightId.as("knn_rid"), rightGeom.as("knn_rg"))
    val cands = join(l, r, col("knn_lg"), col("knn_rg"), "st_dwithin",
        cellSize = cellSize, distance = maxDist)
      .withColumn("knn_d", round(st_distance(col("knn_lg"), col("knn_rg")), 6))
    cands.groupBy("knn_lid")
      .agg(Similarity.topKByScore(-col("knn_d"), col("knn_rid").cast("long"), k).as("knn_tk"))
      .select(col("knn_lid"), posexplode(col("knn_tk")))
      .select(col("knn_lid").as("left_id"), col("col.id").as("right_id"),
        (-col("col.score")).as("distance"), (col("pos") + lit(1)).as("rank"))
  }

  // ---- clustered-layout-aware join (r16) ----------------------------------

  /** 2-D bbox overlap with a one-sided pad. */
  private def overlaps(a: (Double, Double, Double, Double),
      b: (Double, Double, Double, Double), pad: Double): Boolean =
    a._1 <= b._3 + pad && a._3 >= b._1 - pad &&
    a._2 <= b._4 + pad && a._4 >= b._2 - pad

  /**
   * Per-file extent pruning between two clustered tables' file-stat
   * lists: keep each side's files whose (pad-expanded) bbox intersects
   * at least one file bbox of the OTHER side. The overlap test is
   * grid-bucketed (bucket one side's boxes by cell, probe the other
   * side's boxes against covered cells only) — never all-pairs, so at
   * 100 TB file counts (10^4-10^5 per side) this stays milliseconds of
   * driver CPU on file-count-sized metadata. Files WITHOUT footer bbox
   * stats are kept unconditionally, and their presence on one side
   * disables pruning of the other (an unknown extent overlaps
   * everything) — pruning degrades to the plain join, never to a
   * wrong answer. Returns (keptLeftNames, keptRightNames).
   */
  private[graft] def pruneFileLists(
      left: Seq[(String, Option[(Double, Double, Double, Double)])],
      right: Seq[(String, Option[(Double, Double, Double, Double)])],
      pad: Double): (Seq[String], Seq[String]) = {
    val lBoxes = left.collect { case (_, Some(b)) => b }
    val rBoxes = right.collect { case (_, Some(b)) => b }
    val lBlind = left.exists(_._2.isEmpty)
    val rBlind = right.exists(_._2.isEmpty)
    def gridOf(boxes: Seq[(Double, Double, Double, Double)]): (Double, Map[(Long, Long), Seq[(Double, Double, Double, Double)]]) = {
      val w = boxes.map(b => b._3 - b._1)
      val h = boxes.map(b => b._4 - b._2)
      val span = math.max(
        boxes.map(_._3).max - boxes.map(_._1).min,
        boxes.map(_._4).max - boxes.map(_._2).min)
      val cs0 = 2.0 * math.max(w.sum / w.size, h.sum / h.size)
      val cs = if (cs0 > 0) cs0 else if (span > 0) span / 16.0 else 1.0
      val m = boxes.flatMap { b =>
        for {
          cx <- math.floor(b._1 / cs).toLong to math.floor(b._3 / cs).toLong
          cy <- math.floor(b._2 / cs).toLong to math.floor(b._4 / cs).toLong
        } yield (cx, cy) -> b
      }.groupBy(_._1).map { case (k, v) => k -> v.map(_._2) }
      (cs, m)
    }
    def hitsAny(grid: (Double, Map[(Long, Long), Seq[(Double, Double, Double, Double)]]),
        b: (Double, Double, Double, Double), p: Double): Boolean = {
      val (cs, m) = grid
      var cx = math.floor((b._1 - p) / cs).toLong
      val cx1 = math.floor((b._3 + p) / cs).toLong
      while (cx <= cx1) {
        var cy = math.floor((b._2 - p) / cs).toLong
        val cy1 = math.floor((b._4 + p) / cs).toLong
        while (cy <= cy1) {
          if (m.get((cx, cy)).exists(_.exists(o => overlaps(b, o, p)))) return true
          cy += 1
        }
        cx += 1
      }
      false
    }
    val keptLeft =
      if (rBlind || rBoxes.isEmpty) left.map(_._1)
      else {
        val rg = gridOf(rBoxes)
        left.collect { case (n, b) if b.isEmpty || hitsAny(rg, b.get, pad) => n }
      }
    val keptRight =
      if (lBlind || lBoxes.isEmpty) right.map(_._1)
      else {
        val lg = gridOf(lBoxes)
        right.collect { case (n, b) if b.isEmpty || hitsAny(lg, b.get, pad) => n }
      }
    (keptLeft, keptRight)
  }

  /**
   * Clustered-layout-aware spatial join over two Hilbert-clustered
   * GeoTables — the distributed analog of the reference's
   * index-nested-loop join plan (`rtree_index_plan_scan.cpp:33-246`:
   * there the R-tree prunes inner pages per outer probe; here the two
   * sides' per-file bbox stats — parquet FOOTER metadata, one
   * file-count-sized driver read, no Spark job — prune each side's
   * file list against the other side's extents BEFORE any scan or
   * shuffle). Hilbert clustering makes file extents tight and nearly
   * disjoint, so when the tables overlap only partially the pruned
   * scan reads O(overlapping files) instead of O(all files) and the
   * grid shuffle shrinks by the same factor; fully-overlapping tables
   * degrade gracefully to the plain [[join]]. Missing footer stats
   * disable pruning, never correctness (see [[pruneFileLists]]).
   *
   * `leftSelect`/`rightSelect` project (and may alias via "a AS b")
   * each side before the join — both tables usually carry the same
   * `geom`/`geom_bbox` names, which would collide in the output.
   */
  def joinClustered(
      spark: org.apache.spark.sql.SparkSession,
      leftPath: String, rightPath: String,
      leftGeomCol: String = "geom", rightGeomCol: String = "geom",
      leftSelect: Seq[String] = Nil, rightSelect: Seq[String] = Nil,
      predicate: String = "st_intersects",
      cellSize: Double = 0.0,
      distance: Double = 0.0): DataFrame = {
    val pad = if (predicate == "st_dwithin") distance else 0.0
    val lStats = graft.sources.GeoParquetMeta.tableStats(leftPath, leftGeomCol)
      .map { case (n, _, _, _, b) => n -> b }
    val rStats = graft.sources.GeoParquetMeta.tableStats(rightPath, rightGeomCol)
      .map { case (n, _, _, _, b) => n -> b }
    val (keptL, keptR) = pruneFileLists(lStats, rStats, pad)
    def project(df: DataFrame, sel: Seq[String], geomCol: String): (DataFrame, Column) =
      if (sel.isEmpty) (df, col(geomCol))
      else {
        val out = df.selectExpr(sel: _*)
        // the geometry may have been aliased — resolve its output name
        val alias = sel.collectFirst {
          case s if s.toLowerCase.startsWith(geomCol.toLowerCase + " as ") =>
            s.substring(geomCol.length + 4).trim
        }
        (out, col(alias.getOrElse(geomCol)))
      }
    val base = leftPath.stripSuffix("/")
    val rBase = rightPath.stripSuffix("/")
    if (keptL.isEmpty || keptR.isEmpty) {
      // provably disjoint extents: an empty result with the joined schema
      val (l, _) = project(spark.read.parquet(base).limit(0), leftSelect, leftGeomCol)
      val (r, _) = project(spark.read.parquet(rBase).limit(0), rightSelect, rightGeomCol)
      return l.crossJoin(r)
    }
    val (l, lg) = project(
      spark.read.parquet(keptL.map(n => s"$base/$n"): _*), leftSelect, leftGeomCol)
    val (r, rg) = project(
      spark.read.parquet(keptR.map(n => s"$rBase/$n"): _*), rightSelect, rightGeomCol)
    join(l, r, lg, rg, predicate, cellSize = cellSize, distance = distance)
  }
}
