package graft.operators

import graft.functions.{Fingerprint, SimHash}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.ColumnShim

/**
 * Deduplication operators for large-scale training-data pipelines.
 * All are shuffle-minimal: exact dedup is one hash-groupBy; MinHash
 * LSH is explode→equi-join on (band, band-hash) — the same
 * "blocking equi-join + exact verify" skeleton as [[SpatialJoin]],
 * which is the only join shape that scales on a 1000-executor
 * cluster.
 *
 * [[exact]], [[minhashCandidates]], [[minhashCandidatesFromSigs]] and
 * [[nearDupPairs]] return a frame over their own executed plan's RDD
 * ([[ColumnShim.overOwnRdd]]), so a pipeline that reads a result more
 * than once (MinHash over exact's survivors, then pack over them)
 * reruns only the plan's last stage over retained shuffle output, not
 * the whole lineage. Nothing is cached. The frames keep the plan's
 * statistics; the MinHash results carry their counted row count, so a
 * join against a small candidate set is planned as a broadcast.
 */
object Dedup {

  /** Largest per-task build (MB) for which the MinHash signature
   *  re-joins are hinted SHUFFLE_HASH: half the ~60 MB non-spillable
   *  build that ran an 8 GB session out of memory. */
  private val ShjBuildMaxMb = 32.0

  /** Stable 128-bit content key (md5 of exact bytes). */
  def contentKey(text: Column): Column = md5(text.cast("binary"))

  /**
   * Exact dedup: keep one row (lowest `id`) per identical `text`.
   * The survivor id comes from a partial-aggregating groupBy (NOT a
   * window): HashAggregate's map-side combine collapses a hot content
   * key to one row per map partition before the exchange, so a corpus
   * that is 50% one boilerplate page shuffles ≤ numPartitions rows for
   * that key instead of funneling half the corpus to one reducer. The
   * final semi-join shuffles full rows by unique `id` — uniform by
   * construction. Min-id survivor keeps the result deterministic.
   *
   * `broadcastKeep = true` hints the ids-only survivor frame as
   * broadcastable, making the semi-join exchange-free (the input is
   * scanned once, never shuffled). Right when the caller KNOWS the
   * distinct-content count fits an executor (dedup of a bounded
   * shard, a gate query at test SF). Leave false at corpus scale —
   * survivors ≈ distinct documents, which can be billions; the
   * default shuffled semi-join partitions by unique id and scales
   * linearly (the 10M amortized bench row measures that path).
   *
   * Returns a frame over its own executed plan (no cache), with the
   * lazy plan's statistics: a caller that reads it twice (MinHash, then
   * pack) runs the keep aggregate and its broadcast once. Under
   * adaptive execution, building the frame runs the keep aggregate and
   * the semi-join's shuffle stages; without it, the first action does.
   */
  def exact(df: DataFrame, id: Column, text: Column,
      broadcastKeep: Boolean = false): DataFrame = {
    // the grouping key is the RAW 16-byte md5 digest, not the 32-char
    // hex of [[contentKey]]: identical groups (unhex∘md5 is md5 with a
    // different spelling), identical survivors, but the keep exchange
    // carries 24 bytes/row instead of 40 and the aggregate hashes/
    // compares half the key bytes — measured 18.4 -> 14.5 s on the
    // keep aggregate and ~20% on the full operator at 100M rows (r17).
    //
    // Shapes measured and REJECTED at 100M in the 8g/32-core session:
    //  - SHUFFLE_HASH hint on the keep side of the semi-join: fatal,
    //    "Can't acquire 67108864 bytes memory to build hash relation"
    //    (50M survivor ids / 32 partitions cannot build per-task hash
    //    relations; SHJ cannot spill) — the sort-merge semi-join spills
    //    gracefully and stays.
    //  - repartition(__k) before the groupBy (removes the map-side
    //    partial aggregate whose 3M-entry per-task map falls back to
    //    sort when duplicates never co-locate): ~25% faster on THIS
    //    corpus, but it funnels every row of a hot content key to one
    //    reducer — the exact boilerplate-skew failure the map-side
    //    combine exists to bound (one row per map partition per hot
    //    key), so it loses at corpus scale where dup skew is the norm.
    val keep = df.select(unhex(contentKey(text)).as("__k"), id.as("__id"))
      .groupBy("__k").agg(min("__id").as("__keep_id"))
      .select("__keep_id")
    val keepSide = if (broadcastKeep) broadcast(keep) else keep
    ColumnShim.overOwnRdd(df.join(keepSide, id === col("__keep_id"), "left_semi"))
  }

  /**
   * Line-level dedup (the RefinedWeb/Falcon boilerplate pass): a line
   * whose trimmed content appears in ≥ `minDocs` DISTINCT documents is
   * boilerplate (nav bars, cookie banners, signatures) and is removed
   * from EVERY document; the surviving lines are rejoined in original
   * order. Lines shorter than `minChars` after trimming are never
   * removed (blank separators and "---" rules are structure, not
   * boilerplate, and would otherwise gut formatting corpus-wide).
   *
   * Returns one row per input document:
   * (id, text_clean, n_lines, n_kept) — `n_lines` the original line
   * count, `n_kept` the surviving count; a fully-boilerplate document
   * comes back with `text_clean = ''` rather than disappearing.
   *
   * Scale shape: the duplicated-line table is built by a map-side-
   * combined two-phase distinct aggregate over (trimmed line, doc) —
   * a line repeated 10⁶× inside one document contributes one row per
   * map partition to the exchange, and the grouped key space is
   * *distinct lines*, orders of magnitude smaller than the exploded
   * corpus. The removal anti-join then shuffles by line content; the
   * hot keys on the probe side are exactly the rows being dropped, and
   * AQE's skew split handles the residual imbalance (same argument as
   * the grid-join hot cells, SkewSpec). Reassembly shuffles narrow
   * (id, idx, line) rows by doc id — uniform by construction.
   * `broadcastDups = true` makes removal exchange-free for callers
   * that KNOW the boilerplate set is bounded (it usually is — C4
   * measured ~0.01% of distinct lines repeating; leave false when the
   * corpus may contain adversarial mass-duplication).
   */
  def dedupLines(df: DataFrame, id: Column, text: Column,
      minDocs: Int = 2, minChars: Int = 5,
      broadcastDups: Boolean = false): DataFrame = {
    val base = df.select(id.as("__id"), text.as("__t"))
    val lines = base.select(col("__id"),
      posexplode(split(col("__t"), "\n")).as(Seq("__i", "__line")))
    val dups = lines
      .select(trim(col("__line")).as("__k"), col("__id"))
      .filter(length(col("__k")) >= minChars)
      .groupBy("__k").agg(countDistinct(col("__id")).as("__nd"))
      .filter(col("__nd") >= minDocs)
      .select("__k")
    val dupSide = if (broadcastDups) broadcast(dups) else dups
    val kept = lines.join(dupSide, trim(col("__line")) === col("__k"), "left_anti")
    val rebuilt = kept.groupBy("__id").agg(
      array_join(transform(array_sort(collect_list(struct(col("__i"), col("__line")))),
        x => x.getField("__line")), "\n").as("text_clean"),
      count(lit(1)).as("n_kept"))
    base.select(col("__id").as("id"),
        (size(split(col("__t"), "\n"))).cast("long").as("n_lines"))
      .join(rebuilt, col("id") === rebuilt("__id"), "left")
      .select(col("id"), coalesce(col("text_clean"), lit("")).as("text_clean"),
        col("n_lines"), coalesce(col("n_kept"), lit(0L)).as("n_kept"))
  }

  /** Word n-gram shingle hashes (murmur3 over sliding word n-grams,
   *  the standard unit for document near-dup — char n-grams over a
   *  small vocabulary produce spuriously high overlap), distinct.
   *  Set `word = false` for character shingles (short strings/URLs). */
  def shingles(text: Column, n: Int = 3, word: Boolean = true): Column = {
    val t = text.toString
    if (word) {
      val toks = s"split(trim(lower($t)), '\\\\s+')"
      array_distinct(expr(
        s"transform(sequence(1, greatest(size($toks) - ${n - 1}, 1)), " +
        s"i -> hash(concat_ws(' ', slice($toks, i, $n))))"))
    } else {
      array_distinct(expr(
        s"transform(sequence(1, greatest(length($t) - ${n - 1}, 1)), " +
        s"i -> hash(substring($t, i, $n)))"))
    }
  }

  /** Word n-gram shingles as strings (single-pass custom expression —
   *  see [[graft.functions.StringShingles]] for why not SQL lambdas). */
  def stringShingles(text: Column, n: Int = 3): Column =
    ColumnShim.column(graft.functions.StringShingles(ColumnShim.expr(text), n))

  /** MinHash signature column: `numHashes` universal-hash minima over
   *  the word-shingle set, computed in one pass per row. */
  def minhashSignature(text: Column, numHashes: Int = 128, shingleSize: Int = 3): Column =
    ColumnShim.column(graft.functions.MinHashSignature(ColumnShim.expr(text), numHashes, shingleSize))

  /**
   * MinHash-LSH candidate pairs: ids of documents whose banded
   * signatures collide in ≥1 band, with the MinHash Jaccard estimate.
   * Standard banding: `bands` bands of `numHashes/bands` rows; a pair
   * is a candidate iff some band matches exactly (equi-join key =
   * (band, hash of band slice)).
   *
   * Scale shape: the banding shuffle carries only (id, band, bh) —
   * 20 bytes/row — never the 128-long signatures; signatures re-join
   * by id onto the (small) candidate pair set afterwards.
   *
   * Returns (id_a, id_b, est_jaccard) with id_a < id_b, one row per
   * pair, as a frame over its own executed plan
   * ([[ColumnShim.overOwnRdd]]) whose row count is the size gate's
   * count of distinct pairs: the re-joins are inner joins on unique ids
   * that all have signatures, so every counted pair is one result row.
   */
  def minhashCandidates(
      df: DataFrame, id: Column, text: Column,
      numHashes: Int = 128, bands: Int = 32, shingleSize: Int = 3): DataFrame = {
    val sigs = df.select(id.as("__id"), minhashSignature(text, numHashes, shingleSize).as("__sig"))
    val (pairs, n) = estPairs(sigs, bandBuckets(sigs, numHashes, bands), numHashes)
    ColumnShim.overOwnRdd(pairs, Some(n))
  }

  /** LSH band buckets of a precomputed (`__id`, `__sig`) frame:
   *  (`__id`, band, bh) — ids only, never the signature or text, so the
   *  bucket table stays narrow at corpus scale.
   *
   *  `maxBucketSize > 0` drops buckets holding more rows than the cap
   *  BEFORE the pair join. An over-full bucket is the quadratic
   *  failure mode of LSH dedup (a bucket shared by b documents emits
   *  b²/2 candidate pairs — no engine survives b in the millions): the
   *  standard mitigation is to run EXACT dedup first (identical texts
   *  collide in every band) and cap the residue, accepting that a true
   *  near-dup pair lost to one over-full band still collides in the
   *  other `bands-1` bands w.h.p. The cap costs one narrow map-side-
   *  combined aggregate + a broadcast anti-join (over-full keys are few
   *  by construction). Default 0 = no cap (exact oracle parity). */
  def bandBuckets(sigs: DataFrame, numHashes: Int, bands: Int,
      maxBucketSize: Int = 0): DataFrame = {
    require(numHashes % bands == 0, "numHashes must divide into bands")
    // BandHashes emits the same murmur3 values as the former
    // hash(slice(__sig, b*r+1, r)) lambda formulation (so persisted
    // bucket tables keep matching) but in one allocation-free codegen
    // pass — and, lambda-free, the banding subplan canonicalizes
    // equal across the LSH self-join's two branches, letting AQE
    // reuse ONE banding exchange instead of scanning+shuffling twice.
    val banded = sigs.select(col("__id"),
      posexplode(ColumnShim.column(graft.functions.BandHashes(
        ColumnShim.expr(col("__sig")), bands))))
      .toDF("__id", "band", "bh")
    if (maxBucketSize <= 0) banded
    else {
      val hot = banded.groupBy("band", "bh").count()
        .filter(col("count") > maxBucketSize).select("band", "bh")
      banded.join(broadcast(hot), Seq("band", "bh"), "left_anti")
    }
  }

  /** Banding + pair join over a precomputed (`__id`, `__sig`) frame —
   *  lets callers derive signatures once for reuse. Like
   *  [[minhashCandidates]], the result is a frame over its own
   *  executed plan carrying its pair count; it caches nothing, so
   *  there is nothing to free. */
  def minhashCandidatesFromSigs(sigs: DataFrame, numHashes: Int, bands: Int,
      maxBucketSize: Int = 0): DataFrame = {
    val (pairs, n) = estPairs(sigs, bandBuckets(sigs, numHashes, bands, maxBucketSize), numHashes)
    ColumnShim.overOwnRdd(pairs, Some(n))
  }

  /** Candidate pairs + signature-agreement estimate over a [[bandBuckets]]
   *  frame, with the number of distinct candidate pairs. The one action
   *  of the MinHash family runs here: the DISTINCT pair plan is counted
   *  to pick the signature re-join strategy, and the re-joins read a
   *  frame over that same RDD, so they reuse the distinct shuffle's
   *  output instead of a cache. */
  private def estPairs(sigs: DataFrame, banded: DataFrame,
      numHashes: Int): (DataFrame, Long) = {
    // The self-join is sort-merge DELIBERATELY, and hinted so AQE keeps
    // it so: its per-partition build side is bands·|docs|/partitions
    // rows — a SHUFFLE_HASH hint here built a ~60 MB hash relation per
    // task and threw "Can't acquire memory to build hash relation" at
    // 10M docs in an 8g session (SHJ cannot spill), and a broadcast
    // relation would stay on the heap for as long as a caller
    // holds the result (it is in the result's RDD lineage). Both
    // branches canonicalize equal, so they share one banding exchange.
    // The r16 win on this join is the banding rewrite above
    // (BandHashes), which took each branch's scan+explode from 12 s to
    // 0.2 s at 10M docs.
    val pairPlan = banded.as("a").hint("merge").join(banded.as("b"),
        col("a.band") === col("b.band") && col("a.bh") === col("b.bh") &&
          col("a.__id") < col("b.__id"))
      .select(col("a.__id").as("id_a"), col("b.__id").as("id_b"))
      .distinct()
    // SHUFFLE_HASH on the signature re-joins only when the PAIR-side
    // build provably fits (ADVICE r16): on duplicate-heavy corpora
    // candidate pairs grow quadratically per cluster — and the second
    // join's build rows carry the full __sa signature array — so the
    // same non-spillable-build failure documented above for the
    // self-join would kill these joins where the planner's sort-merge
    // join spills gracefully. The per-task build estimate stays under
    // ShjBuildMaxMb or the hints are dropped.
    val nCand = pairPlan.queryExecution.toRdd.count()
    val pairs = ColumnShim.overOwnRdd(pairPlan, Some(nCand))
    val parts = math.max(sigs.sparkSession.sessionState.conf.numShufflePartitions, 1)
    val buildMb = nCand.toDouble / parts * (16 + 4.0 * numHashes + 64) / (1 << 20)
    def hinted(df: DataFrame) = if (buildMb < ShjBuildMaxMb) df.hint("shuffle_hash") else df
    val out = hinted(pairs)
      .join(sigs.select(col("__id").as("id_a"), col("__sig").as("__sa")), "id_a")
    val est = hinted(out)
      .join(sigs.select(col("__id").as("id_b"), col("__sig").as("__sb")), "id_b")
      // size() counts null slots, so filter the agreeing positions
      // explicitly — est = fraction of minhash positions that agree
      .withColumn("est_jaccard",
        expr("size(filter(zip_with(__sa, __sb, (x, y) -> x = y), v -> v)) / cast(size(__sa) AS double)"))
      .select(col("id_a"), col("id_b"), col("est_jaccard"))
    (est, nCand)
  }

  /** LSH candidates verified with exact shingle-set Jaccard (recall
   *  from LSH, precision exact): (id_a, id_b, est_jaccard, jaccard),
   *  as a frame over its own executed plan.
   *
   *  Nothing is cached: banding, the signature re-joins and the exact
   *  verify each derive their column from `text` again. */
  def nearDupPairs(
      df: DataFrame, id: Column, text: Column, threshold: Double = 0.8,
      numHashes: Int = 128, bands: Int = 32, shingleSize: Int = 3): DataFrame = {
    val sigs = df.select(id.as("__id"), minhashSignature(text, numHashes, shingleSize).as("__sig"))
    val shingled = df.select(id.as("__id"), stringShingles(text, shingleSize).as("__sh"))
    val verified = estPairs(sigs, bandBuckets(sigs, numHashes, bands), numHashes)._1
      .join(shingled.select(col("__id").as("id_a"), col("__sh").as("__sha")), "id_a")
      .join(shingled.select(col("__id").as("id_b"), col("__sh").as("__shb")), "id_b")
      .withColumn("jaccard",
        size(array_intersect(col("__sha"), col("__shb"))).cast("double")
          / size(array_union(col("__sha"), col("__shb"))))
      .filter(col("jaccard") >= threshold)
      .select(col("id_a"), col("id_b"), col("est_jaccard"), col("jaccard"))
    ColumnShim.overOwnRdd(verified)
  }

  /** Near-dedup via MinHash-LSH: drop every row whose id appears as
   *  the larger member of a near-dup pair (greedy min-id survivor).
   *  `exact = true` (default) verifies candidates with exact shingle
   *  Jaccard; `false` trusts the signature estimate (cheaper). */
  def minhashDedup(
      df: DataFrame, id: Column, text: Column, threshold: Double = 0.8,
      numHashes: Int = 128, bands: Int = 32, shingleSize: Int = 3,
      exact: Boolean = true): DataFrame = {
    val pairs =
      if (exact) nearDupPairs(df, id, text, threshold, numHashes, bands, shingleSize)
      else minhashCandidates(df, id, text, numHashes, bands, shingleSize)
        .filter(col("est_jaccard") >= threshold)
    val dupIds = pairs.select(col("id_b").as("__dup_id")).distinct()
    df.join(dupIds, id === col("__dup_id"), "left_anti")
  }

  /**
   * Transitive duplicate clusters from a near-dup pair list, via
   * alternating large-star / small-star connected components (Kiveris
   * et al., "Connected Components in MapReduce and Beyond", SoCC'14).
   * The greedy pairwise survivor rule ([[minhashDedup]]) under-merges
   * chains (A~B, B~C but A!~C); real dedup pipelines cluster first and
   * keep one representative per CLUSTER.
   *
   * Scale shape: each round is two equi-shuffles of the EDGE list
   * (never the documents), the edge list only shrinks, and convergence
   * takes O(log n) rounds w.h.p. — no driver-side graph; the only
   * driver data is a one-row convergence signature per round.
   *
   * `nodes` = one integral-id row per document (column `id`); `pairs`
   * = (id_a, id_b) near-dup pairs. Returns (id, cluster) where cluster
   * is the minimum id reachable through the pair graph (singletons map
   * to themselves).
   */
  def duplicateClusters(nodes: DataFrame, pairs: DataFrame, maxRounds: Int = 25): DataFrame = {
    // The iteration runs on RDDs deliberately (the one sanctioned RDD
    // use: iterative graph state). A DataFrame loop re-nests the
    // Catalyst plan every round — plan size grows exponentially and
    // planning itself OOMs by ~round 10; RDD lineage grows linearly and
    // persist() bounds recompute.
    val spark = nodes.sparkSession
    import spark.implicits._
    val lvl = org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
    var edges = pairs
      .select(col("id_a").cast("long"), col("id_b").cast("long"))
      .as[(Long, Long)].rdd
      .filter(e => e._1 != e._2).distinct()
      .persist(lvl)
    // convergence signature: (edge count, order-independent hash sum)
    def sigOf(e: org.apache.spark.rdd.RDD[(Long, Long)]): (Long, Long) =
      e.aggregate((0L, 0L))(
        (acc, p) => (acc._1 + 1, acc._2 + (p._1 * 31 + p._2) * 2654435761L),
        (a, b) => (a._1 + b._1, a._2 + b._2))
    var sig = sigOf(edges)
    var round = 0
    var converged = sig._1 == 0
    while (!converged && round < maxRounds) {
      // large-star: every neighbor larger than u re-points at u's min
      val und = edges.flatMap { case (u, v) => Iterator((u, v), (v, u)) }
      val mins = und.reduceByKey(math.min) // map-side combine
      val large = und.join(mins).flatMap { case (u, (v, mv)) =>
        val m = math.min(mv, u)
        if (v > u && v != m) Iterator((v, m)) else Iterator.empty
      }.distinct()
      // small-star: orient u > v; all small neighbors + u point at the min
      val dir = large.map { case (u, v) => if (u > v) (u, v) else (v, u) }
        .filter(e => e._1 != e._2)
      val mins2 = dir.reduceByKey(math.min)
      val small = dir.join(mins2).flatMap { case (u, (v, m)) =>
        if (v != m) Iterator((v, m)) else Iterator.empty
      }.union(mins2).distinct().persist(lvl)
      val newSig = sigOf(small)
      converged = newSig == sig
      sig = newSig
      edges.unpersist(blocking = false)
      edges = small
      round += 1
    }
    // converged edge set is a star forest: (node -> component min).
    // The count runs the reduceByKey shuffle while `edges` is still
    // cached; the returned frame then reads that shuffle's retained
    // output, so `edges` can be freed and nothing stays cached.
    val mapping = edges
      .flatMap { case (u, v) => Iterator((u, v), (v, v)) }
      .reduceByKey(math.min)
      .toDF("id", "cluster")
    mapping.count()
    edges.unpersist(blocking = false)
    nodes.select(col("id").cast("long").as("id"))
      .join(mapping, Seq("id"), "left")
      .select(col("id"), coalesce(col("cluster"), col("id")).as("cluster"))
  }

  /** Near-dup clustering end-to-end: MinHash-LSH pairs (exact-Jaccard
   *  verified) → transitive clusters. Returns (id, cluster). */
  def nearDupClusters(
      df: DataFrame, id: Column, text: Column, threshold: Double = 0.8,
      numHashes: Int = 128, bands: Int = 32, shingleSize: Int = 3): DataFrame = {
    val pairs = nearDupPairs(df, id, text, threshold, numHashes, bands, shingleSize)
    duplicateClusters(df.select(id.as("id")), pairs)
  }

  /** Cluster-correct near-dedup: one representative (the minimum id)
   *  per TRANSITIVE duplicate cluster. Unlike [[minhashDedup]]'s greedy
   *  pairwise rule — which keeps BOTH A and B when A~C and B~C but the
   *  A~B pair itself is sub-threshold (two survivors of one transitive
   *  cluster) — the survivor set here is exactly one row per connected
   *  component of the near-dup graph. */
  def clusterDedup(
      df: DataFrame, id: Column, text: Column, threshold: Double = 0.8,
      numHashes: Int = 128, bands: Int = 32, shingleSize: Int = 3): DataFrame = {
    val clusters = nearDupClusters(df, id, text, threshold, numHashes, bands, shingleSize)
    df.join(clusters.filter(col("id") === col("cluster")).select(col("id").as("__keep_id")),
      id === col("__keep_id"), "left_semi")
  }

  /** Exact n-gram Jaccard similarity between two text columns (exact
   *  verify step for MinHash candidates, or small-scale similarity). */
  def jaccard(textA: Column, textB: Column, n: Int = 3): Column = {
    val sa = shingles(textA, n); val sb = shingles(textB, n)
    size(array_intersect(sa, sb)).cast("double") / size(array_union(sa, sb))
  }

  /** Edit-distance (Levenshtein) near-dup pairs with length-band
   *  blocking — the fuzzy-key variant of the dedup family (titles,
   *  normalized URLs, short fields). Blocking is PROVABLY complete:
   *  d edits change length by at most d, so candidates live within
   *  ±maxDist of each other's length; the probe side replicates to the
   *  ≤ (2·maxDist/bandWidth)+2 covering bands while the build side
   *  keys on its single band, so every candidate pair meets exactly
   *  once (no post-dedup). The verify uses the THRESHOLDED levenshtein
   *  (O(maxDist·len) banded DP, not O(len²)) and rides the hash join
   *  as a residual filter.
   *
   *  Scale shape: ids+key shuffle on an integer band; within-band work
   *  is quadratic in band population — like the LSH bucket cap, real
   *  corpora spread lengths, and `bandWidth` dials replication vs
   *  candidate count. Returns (id_a, id_b, dist) with id_a < id_b.
   */
  def fuzzyPairs(df: DataFrame, id: Column, key: Column,
      maxDist: Int = 2, bandWidth: Int = 8): DataFrame = {
    require(maxDist >= 0 && bandWidth > 0, "bad fuzzyPairs params")
    val base = df.select(id.cast("long").as("__id"), key.cast("string").as("__k"))
      .withColumn("__len", length(col("__k")))
    val build = base.select(col("__id").as("id_b"), col("__k").as("__kb"),
      expr(s"__len DIV $bandWidth").as("__band"))
    val probe = base.select(col("__id").as("id_a"), col("__k").as("__ka"),
      explode(sequence(
        expr(s"greatest(__len - $maxDist, 0) DIV $bandWidth"),
        expr(s"(__len + $maxDist) DIV $bandWidth"))).as("__band"))
    probe.join(build, Seq("__band"))
      .filter(col("id_a") < col("id_b"))
      .withColumn("dist", expr(s"levenshtein(__ka, __kb, $maxDist)"))
      .filter(col("dist") >= 0 && col("dist") <= maxDist)
      .select(col("id_a"), col("id_b"), col("dist"))
  }

  /** 64-bit SimHash fingerprint column (near-dup via hamming distance). */
  def simhash(text: Column, shingleSize: Int = 4): Column =
    ColumnShim.column(SimHash(ColumnShim.expr(text), shingleSize))

  /** Hamming distance between two simhash columns. */
  def hammingDistance(a: Column, b: Column): Column = bit_count(a.bitwiseXOR(b))

  /** SimHash near-dup candidate pairs: block on the 4 16-bit quarters
   *  of the simhash (any pair within hamming distance 3 shares at
   *  least one exact quarter — pigeonhole), verify hamming ≤ maxDist.
   *
   *  Same ids-only discipline as the minhash path: the blocking join
   *  carries (q, qh, id) — never the signatures — and the signatures
   *  re-join by id onto the (small) distinct pair set for the hamming
   *  verify. The result is a plain lazy plan: it caches nothing and
   *  runs no job until the caller reads it. */
  def simhashCandidates(df: DataFrame, id: Column, text: Column, maxDist: Int = 3): DataFrame = {
    val sigs = df.select(id.as("__id"), simhash(text).as("__sig"))
    val blocked = sigs.select(col("__id"),
      explode(expr("transform(sequence(0, 3), q -> named_struct(" +
        "'q', q, 'qh', shiftright(__sig, q * 16) & 65535))")).as("__b"))
      .select(col("__id"), col("__b.q").as("q"), col("__b.qh").as("qh"))
    val pairs = blocked.as("a").join(blocked.as("b"),
        col("a.q") === col("b.q") && col("a.qh") === col("b.qh") &&
          col("a.__id") < col("b.__id"))
      .select(col("a.__id").as("id_a"), col("b.__id").as("id_b"))
      .distinct()
    pairs
      .join(sigs.select(col("__id").as("id_a"), col("__sig").as("sa")), "id_a")
      .join(sigs.select(col("__id").as("id_b"), col("__sig").as("sb")), "id_b")
      .withColumn("hamming", hammingDistance(col("sa"), col("sb")))
      .filter(col("hamming") <= maxDist)
      .select("id_a", "id_b", "hamming")
  }

  /** Rolling-hash document fingerprint column. */
  def fingerprint(text: Column, k: Int = 8): Column =
    ColumnShim.column(Fingerprint(ColumnShim.expr(text), k))

  /**
   * Winnowing fingerprint selections (Schleimer, Wilkerson, Aiken
   * 2003 — the MOSS local fingerprinting algorithm): normalize to
   * lowercase alphanumerics, hash every character `k`-gram, and from
   * each window of `w` consecutive gram hashes select the minimum.
   * Winnowing guarantees any match of length >= k + w - 1 shares a
   * selected fingerprint, at ~2/(w+1) the density of full k-gram
   * hashing — the right primitive for copy/plagiarism detection where
   * MinHash's whole-document Jaccard is too coarse.
   *
   * Selections are "md5(gram):zero-padded-pos" strings: the
   * lexicographic window minimum is engine-replayable (pure string
   * compare), the position makes provenance joinable, and ties inside
   * a window break toward the lexicographically-smaller (hash, pos).
   * A document shorter than one full window contributes its global
   * minimum (one window over all grams); shorter than k contributes
   * nothing. Pure expression composition — a narrow map with NO
   * shuffle; per-row cost is O(len·w) string compares.
   */
  def winnow(text: Column, k: Int = 8, w: Int = 4): Column = {
    require(k >= 1 && w >= 1, "bad winnow geometry")
    val norm = regexp_replace(lower(text), "[^a-z0-9]", "")
    val ng = greatest(length(norm) - k + 1, lit(0))
    val hs = when(ng > lit(0),
      transform(sequence(lit(0), ng - 1), i =>
        concat(md5(norm.substr(i + 1, lit(k))), lit(":"),
          lpad(i.cast("string"), 7, "0"))))
      .otherwise(array().cast("array<string>"))
    // bind the gram-hash array ONCE via a 1-element transform: naively
    // referencing `hs` inside the window lambda inlines (and re-hashes)
    // the whole gram array per window — O(n²) md5 calls per document
    flatten(transform(array(hs), hsv => {
      val n = size(hsv)
      val nw = when(n === 0, lit(0)).when(n < w, lit(1)).otherwise(n - w + 1)
      when(nw > lit(0),
        array_distinct(transform(sequence(lit(0), nw - 1), j =>
          array_min(slice(hsv, j + 1, lit(w))))))
        .otherwise(array().cast("array<string>"))
    }))
  }

  /** Per-document winnowing summary: (doc_id, n_grams, n_sel,
   *  fp_digest) with the digest over the sorted selection set —
   *  hash-certifiable and stable across partitionings. */
  def winnowFingerprints(df: DataFrame, id: Column, text: Column,
      k: Int = 8, w: Int = 4): DataFrame = {
    val norm = regexp_replace(lower(text), "[^a-z0-9]", "")
    df.select(id.as("doc_id"),
      greatest(length(norm) - k + 1, lit(0)).as("n_grams"),
      winnow(text, k, w).as("__sels"))
      .select(col("doc_id"), col("n_grams"), size(col("__sels")).as("n_sel"),
        md5(concat_ws(",", array_sort(col("__sels")))).as("fp_digest"))
  }

  /**
   * Cross-document winnowing matches: pairs sharing >= `minShared`
   * selected gram hashes (position-stripped, so the same content
   * matches at different offsets). Same ids-only blocking-join shape
   * as [[minhashCandidates]]: only (hash, id) rows shuffle, the pair
   * aggregate partial-aggregates, and `maxPostings` caps the
   * quadratic blowup of a gram shared by b documents (b²/2 pairs) —
   * boilerplate grams are exactly the hot-band failure mode of LSH
   * and get dropped the same way.
   */
  def winnowPairs(df: DataFrame, id: Column, text: Column,
      k: Int = 8, w: Int = 4, minShared: Int = 2,
      maxPostings: Int = 1000): DataFrame = {
    val sels = df.select(id.as("__id"),
        explode(transform(winnow(text, k, w), s => s.substr(lit(1), lit(32)))).as("__h"))
      .distinct()
    val capped =
      if (maxPostings > 0)
        sels.withColumn("__n", count(lit(1)).over(
          org.apache.spark.sql.expressions.Window.partitionBy(col("__h"))))
          .filter(col("__n") <= maxPostings).drop("__n")
      else sels
    capped.as("a").join(capped.as("b"), col("a.__h") === col("b.__h"))
      .filter(col("a.__id") < col("b.__id"))
      .groupBy(col("a.__id").as("id_a"), col("b.__id").as("id_b"))
      .agg(count(lit(1)).as("shared"))
      .filter(col("shared") >= minShared)
  }

  /** Distinct word n-grams as STRINGS via SQL lambdas (exact join key
   *  for [[contamination]] — hashed shingles risk cross-corpus hash
   *  collisions manufacturing false overlap; a doc shorter than n words
   *  contributes its whole text as one gram). */
  private def ngramStrings(text: Column, n: Int): Column = {
    val t = text.toString
    val toks = s"split(trim(lower($t)), '\\\\s+')"
    expr(s"array_distinct(transform(sequence(1, greatest(size($toks) - ${n - 1}, 1)), " +
      s"i -> concat_ws(' ', slice($toks, i, $n))))")
  }

  /**
   * Benchmark decontamination: flag training documents that share any
   * word n-gram with an evaluation corpus (the GPT-3-style 13-gram
   * overlap rule; `n` configurable — small corpora want smaller n).
   * Returns one row per CONTAMINATED doc: (doc_id, n_overlap,
   * bench_ids) with the distinct overlapping-gram count and the sorted
   * ids of the benchmark documents hit.
   *
   * Scale shape: the benchmark gram set is small by construction
   * (eval suites are MBs, not TBs) and broadcasts; the training corpus
   * explodes its grams MAP-SIDE straight into the broadcast hash join —
   * no corpus shuffle — and only (doc_id, gram, bench_id) hit rows
   * (rare by definition) reach the counting aggregate.
   */
  def contamination(
      docs: DataFrame, docId: Column, docText: Column,
      bench: DataFrame, benchId: Column, benchText: Column,
      n: Int = 13): DataFrame = {
    val bg = bench.select(benchId.as("bench_id"),
      explode(ngramStrings(benchText, n)).as("__g")).distinct()
    val dg = docs.select(docId.as("doc_id"), explode(ngramStrings(docText, n)).as("__g"))
    dg.join(broadcast(bg), "__g")
      .groupBy("doc_id")
      .agg(countDistinct("__g").as("n_overlap"),
        sort_array(collect_set("bench_id")).as("bench_ids"))
  }


  /**
   * Content-defined chunking (the rolling-hash boundary family of
   * LBFS/FastCDC): a chunk boundary falls after every `gram`-char
   * window whose rolling hash (the [[graft.functions.WindowHashes]]
   * kernel) is divisible by `divisor` — so boundaries move WITH the
   * content: an insertion early in a document shifts only the chunk it
   * lands in, and every later chunk re-aligns and deduplicates by
   * `chunk_md5`. Returns one row per chunk: (doc_id, chunk_idx,
   * chunk_len, chunk_md5). Expected chunk length ~= `divisor` chars.
   *
   * Scale shape: a pure narrow map per document (one hash pass + one
   * codegen'd array-algebra pass — no shuffle, no UDF); the explode
   * emits len/divisor rows per doc, the granularity the caller asked
   * for. Sub-document dedup then proceeds by plain group-by on
   * chunk_md5.
   */
  def contentDefinedChunks(df: org.apache.spark.sql.DataFrame, id: Column,
      text: Column, gram: Int = 16, divisor: Long = 64L): org.apache.spark.sql.DataFrame = {
    require(gram >= 2 && divisor >= 2, "contentDefinedChunks: gram >= 2, divisor >= 2")
    val hs = Bloom.windowHashes(text, gram)
    // cut positions (1-based char index of each boundary window's last
    // char); divisibility is sign-independent, so the signed Long
    // hashes and the oracle's unsigned residues agree exactly
    // sequence(1, 0) is DESCENDING in Spark, so the no-window case
    // (doc shorter than `gram`) must be guarded, not relied on to
    // produce an empty sequence
    val cuts = when(size(hs) > 0,
      filter(
        transform(sequence(lit(1), size(hs)),
          i => when(element_at(hs, i) % divisor === 0, i + (gram - 1))),
        c => c.isNotNull))
      .otherwise(expr("CAST(array() AS ARRAY<INT>)"))
    val ends = when(element_at(cuts, -1) === length(text), cuts)
      .otherwise(concat(cuts, array(length(text))))
    df.select(id.as("doc_id"), text.as("__t"),
        coalesce(when(size(cuts) > 0, ends), array(length(text))).as("__es"))
      .select(col("doc_id"), col("__t"), col("__es"),
        posexplode(col("__es")).as(Seq("__j", "__e")))
      .withColumn("__s",
        when(col("__j") === 0, lit(1))
          .otherwise(expr("element_at(__es, __j) + 1")))
      .select(col("doc_id"), (col("__j") + 1).as("chunk_idx"),
        (col("__e") - col("__s") + 1).cast("long").as("chunk_len"),
        md5(expr("substring(__t, __s, __e - __s + 1)")).as("chunk_md5"))
  }

  /** Drop every document [[contamination]] flags (anti-join on the
   *  flagged-id set). */
  def decontaminate(
      docs: DataFrame, docId: Column, docText: Column,
      bench: DataFrame, benchId: Column, benchText: Column,
      n: Int = 13): DataFrame = {
    val bad = contamination(docs, docId, docText, bench, benchId, benchText, n)
      .select(col("doc_id").as("__bad_id"))
    docs.join(bad, docId === col("__bad_id"), "left_anti")
  }

  /**
   * Prefix-blocked Jaro-Winkler record linkage: candidate pairs share
   * their first `blockPrefix` characters (an equi-join — the classic
   * blocking key for Winkler-style comparators, which up-weight
   * shared prefixes by construction), then the exact
   * [[graft.functions.JaroWinklerSimilarity]] kernel filters to
   * `minSim`. Recall contract is explicit: pairs differing within the
   * first `blockPrefix` characters are NOT candidates — callers
   * needing typo-in-prefix recall union a second pass blocked on a
   * different key (e.g. a reversed-prefix or phonetic key). Keys
   * shorter than `blockPrefix` block on the full key (substring
   * already yields the whole string), so two identical short keys
   * (jw = 1.0) are still candidates rather than silently dropped.
   * Scale
   * shape: one equi-shuffle on the tiny prefix key; hot prefixes are
   * AQE-splittable; per-pair work is the O(|a|·window) kernel.
   * Returns (id_a, id_b, jw) with id_a < id_b.
   */
  def jaroWinklerPairs(df: DataFrame, id: Column, key: Column,
      minSim: Double = 0.9, blockPrefix: Int = 2): DataFrame = {
    require(blockPrefix >= 1, "blockPrefix must be >= 1")
    require(minSim >= 0.0 && minSim <= 1.0, "minSim in [0,1]")
    val s = df.select(id.as("id"), key.as("k"),
      substring(key, 1, blockPrefix).as("__blk"))
    val a = s.select(col("id").as("id_a"), col("k").as("ka"), col("__blk"))
    val b = s.select(col("id").as("id_b"), col("k").as("kb"), col("__blk"))
    val jw = ColumnShim.column(graft.functions.JaroWinklerSimilarity(
      ColumnShim.expr(col("ka")), ColumnShim.expr(col("kb"))))
    a.join(b, "__blk")
      .where(col("id_a") < col("id_b"))
      .withColumn("jw", jw)
      .where(col("jw") >= minSim)
      .select("id_a", "id_b", "jw")
  }

  /**
   * Exact duplicated-substring discovery — the span-level dedup class
   * of "Deduplicating Training Data Makes Language Models Better"
   * (Lee et al. 2022, the ExactSubstr tool), re-expressed as a
   * distributed gram-offset pipeline instead of a single-node suffix
   * array: a character position is *duplicated* when the `minLen`-gram
   * starting there occurs at least twice in the corpus (other
   * documents or elsewhere in the same one), and *removable* when it
   * is duplicated but not the canonical (lowest (doc_id, offset))
   * occurrence of that gram. Removable positions whose gram character
   * ranges overlap or touch merge into maximal disjoint spans
   * (doc_id, start, span_len).
   *
   * Scale shape: |text| rows of ~24 bytes per document (offset +
   * 128-bit gram key) — linear in corpus bytes, the canonical
   * distributed formulation (the suffix array is also O(n) but
   * single-machine). The gram never travels: it is hashed map-side to
   * a 2×xxhash64 composite (collision odds ~1e-11 at 1e14 grams), so
   * the shuffle is fixed-width regardless of `minLen`; the canonical
   * occurrence is a lexicographic struct min, no packing bounds. One
   * aggregation keyed by gram + one shuffle-reusing self-join keyed
   * the same way + one per-doc window. No driver materialization.
   */
  def duplicatedSpans(df: DataFrame, id: Column, text: Column,
      minLen: Int = 20): DataFrame = {
    require(minLen >= 2, "minLen must be at least 2")
    val offs = df.select(id.as("doc_id"), text.as("__t"))
      .where(length(col("__t")) >= minLen)
      .select(col("doc_id"),
        explode(sequence(lit(0), length(col("__t")) - minLen)).as("off"),
        col("__t"))
      .select(col("doc_id"), col("off"),
        expr(s"substring(__t, off + 1, $minLen)").as("__g"))
      .select(col("doc_id"), col("off"),
        xxhash64(col("__g")).as("__h1"), xxhash64(col("__g"), lit(1)).as("__h2"),
        struct(col("doc_id"), col("off")).as("__pos"))
    // one gram-keyed aggregate: occurrence count + canonical position
    val gramStats = offs.groupBy("__h1", "__h2")
      .agg(count(lit(1)).as("__n"), min("__pos").as("__canon"))
      .where(col("__n") >= 2)
    // removable = duplicated and not canonical; the join key equals the
    // aggregation key, so AQE reuses the exchange
    val removable = offs.join(gramStats, Seq("__h1", "__h2"))
      .where(col("__pos") =!= col("__canon"))
      .select("doc_id", "off")
    // islands: removable offsets whose CHARACTER ranges [off, off+L)
    // overlap or touch merge into one maximal span — the criterion is
    // gap <= minLen, not consecutive offsets (a 2-offset gap still
    // overlaps in char space for any minLen >= 3, and the published
    // tool merges overlapping byte ranges before cutting)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("doc_id").orderBy("off")
    removable
      .withColumn("__new",
        when(col("off") - lag("off", 1).over(w) > minLen, 1).otherwise(0))
      .withColumn("__isl", sum("__new").over(
        w.rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)))
      .groupBy("doc_id", "__isl")
      .agg(min("off").as("span_start"),
        (max("off") - min("off") + lit(minLen)).cast("long").as("span_len"))
      .select(col("doc_id"), col("span_start").cast("long"), col("span_len"))
  }

  /**
   * Apply [[duplicatedSpans]]: cut every removable span out of the
   * text, keeping canonical occurrences — the greedy one-copy-survives
   * policy of the published tool. `spans` is the (doc_id, span_start,
   * span_len) frame from [[duplicatedSpans]] (or a filtered subset —
   * callers often drop spans shorter than a threshold above minLen).
   * Shape: spans aggregate per doc (bounded: spans are disjoint so at
   * most |text|/minLen rows), one equi-join back onto the corpus, and
   * the splice is a codegen'd array transform — no UDF, no driver.
   * Documents with no spans pass through unchanged.
   */
  def stripSpans(df: DataFrame, id: Column, text: Column,
      spans: DataFrame): DataFrame = {
    val perDoc = spans.groupBy(col("doc_id").as("__sid"))
      .agg(sort_array(collect_list(struct(
        col("span_start").as("s"), col("span_len").as("l")))).as("__spans"))
    val outCols = df.columns.map(col) :+
      coalesce(
        when(col("__spans").isNotNull,
          // kept segments = complement of the spans: zip each span's
          // end with the next span's start (text length as sentinel)
          expr("""concat(
            concat_ws('', zip_with(
              array_prepend(transform(__spans, x -> x.s + x.l), 0L),
              transform(__spans, x -> x.s),
              (e, s) -> substring(__text_in, CAST(e AS INT) + 1, CAST(s - e AS INT)))),
            substring(__text_in,
              CAST(element_at(__spans, -1).s + element_at(__spans, -1).l AS INT) + 1))""")),
        col("__text_in")).as("text_dedup")
    df.withColumn("__text_in", text)
      .join(perDoc, id === col("__sid"), "left")
      .select(outCols: _*)
  }
}
