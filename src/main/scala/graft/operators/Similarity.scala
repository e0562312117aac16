package graft.operators

import graft.functions.{CosineSimilarity, HyperplaneSignature, NearestCentroids, PqAdcLut, PqEncode, TopKByScore}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.ColumnShim
import org.apache.spark.sql.types.{ArrayType, ByteType, DataType, DoubleType, FloatType, IntegerType, LongType, ShortType}

/**
 * Embedding similarity search over `Array[Float]` columns.
 *
 * Baseline: brute-force cosine top-k (broadcast the query set, scan
 * the corpus once — exact, O(|corpus|·|queries|)). Scale path:
 * random-hyperplane LSH bucketing turns the all-pairs problem into an
 * equi-join on bucket signature (same blocking-join skeleton as
 * [[SpatialJoin]] and [[Dedup.minhashCandidates]]).
 */
object Similarity {

  def cosine(a: Column, b: Column): Column =
    ColumnShim.column(CosineSimilarity(ColumnShim.expr(a), ColumnShim.expr(b)))

  /** LSH bucket id (random-hyperplane signs, deterministic planes). */
  def lshBucket(vec: Column, numPlanes: Int = 16, seed: Long = 42L): Column =
    ColumnShim.column(HyperplaneSignature(ColumnShim.expr(vec), numPlanes, seed))

  /** Bounded top-k aggregate: `array<struct<id bigint, score double>>`
   *  ranked by (score desc, id asc). See [[graft.functions.TopKByScore]]. */
  def topKByScore(score: Column, id: Column, k: Int): Column =
    ColumnShim.column(
      TopKByScore(ColumnShim.expr(score), ColumnShim.expr(id), k).toAggregateExpression())

  private def isIntegral(t: DataType): Boolean = t match {
    case ByteType | ShortType | IntegerType | LongType => true
    case _ => false
  }

  /**
   * Per-group top-k over a scored candidate frame. With an integral id
   * the bounded [[TopKByScore]] aggregate partial-aggregates map-side —
   * only ≤ k rows per (group, partition) reach the exchange, vs the
   * row_number window's shuffle+sort of EVERY candidate (the bottleneck
   * at 100 TB candidate sets). Non-integral ids keep the window path.
   */
  private def rankTopK(
      scored: DataFrame, groupCol: String, idCol: String, score: Column,
      k: Int, idType: DataType, scoreName: String, rankName: String): DataFrame = {
    if (isIntegral(idType)) {
      scored.groupBy(groupCol)
        .agg(topKByScore(score, col(idCol).cast("long"), k).as("__tk"))
        .select(col(groupCol), posexplode(col("__tk")))
        .select(col(groupCol), col("col.id").cast(idType).as(idCol),
          col("col.score").as(scoreName), (col("pos") + lit(1)).as(rankName))
    } else {
      val w = Window.partitionBy(col(groupCol)).orderBy(score.desc, col(idCol).asc)
      scored.withColumn(rankName, row_number().over(w))
        .filter(col(rankName) <= k)
        .select(col(groupCol), col(idCol), score.as(scoreName), col(rankName))
    }
  }

  /**
   * Exact brute-force cosine top-k: for every query row, the k most
   * similar corpus rows. Queries are broadcast (they must be the small
   * side); the corpus is scanned exactly once, no shuffle of the
   * corpus itself — only the (|queries|·k)-sized result shuffles for
   * the per-query window.
   */
  def bruteForceTopK(
      corpus: DataFrame, queries: DataFrame,
      corpusId: Column, corpusVec: Column,
      queryId: Column, queryVec: Column,
      k: Int = 10): DataFrame = {
    val idType = corpus.select(corpusId).schema.head.dataType
    val c = corpus.select(corpusId.as("corpus_id"), corpusVec.as("__cv"))
    val q = queries.select(queryId.as("query_id"), queryVec.as("__qv"))
    val scored = c.crossJoin(broadcast(q))
      .filter(col("corpus_id") =!= col("query_id"))
      .withColumn("cosine", cosine(col("__cv"), col("__qv")))
    rankTopK(scored, "query_id", "corpus_id", col("cosine"), k, idType, "cosine", "rank")
  }

  /**
   * Approximate all-pairs similarity: bucket by hyperplane signature
   * (optionally multiple probe tables with different seeds to boost
   * recall), equi-join within buckets, verify exact cosine ≥ threshold.
   * Returns (id_a, id_b, cosine) with id_a < id_b.
   */
  def annPairs(
      df: DataFrame, id: Column, vec: Column,
      threshold: Double = 0.9, numPlanes: Int = 16, numTables: Int = 4): DataFrame = {
    val base = df.select(id.as("__id"), vec.as("__v"))
    // Scale shape (same as Dedup.minhashCandidates): the bucket join and
    // the multi-table dedup carry ONLY (table, bucket, id) — never the
    // embedding payload. At 100 TB the vectors dominate shuffle bytes;
    // they re-join by id onto the (small) deduped pair set for the one
    // exact-cosine verify.
    val buckets = (0 until numTables).map { t =>
      base.select(col("__id"), lit(t).as("__t"),
        lshBucket(col("__v"), numPlanes, seed = 42L + t).as("__bucket"))
    }.reduce(_ unionAll _)
    val a = buckets.select(col("__t"), col("__bucket"), col("__id").as("id_a"))
    val b = buckets.select(col("__t"), col("__bucket"), col("__id").as("id_b"))
    val pairs = a.join(b, Seq("__t", "__bucket"))
      .filter(col("id_a") < col("id_b"))
      .select("id_a", "id_b")
      .distinct()                        // collapse multi-table hits
    pairs
      .join(base.select(col("__id").as("id_a"), col("__v").as("__va")), "id_a")
      .join(base.select(col("__id").as("id_b"), col("__v").as("__vb")), "id_b")
      .withColumn("cosine", cosine(col("__va"), col("__vb")))
      .filter(col("cosine") >= threshold)
      .select("id_a", "id_b", "cosine")
  }

  /** Embedding-cosine near-duplicate removal: greedy min-id survivor
   *  over [[annPairs]] candidates. */
  def dedupByEmbedding(
      df: DataFrame, id: Column, vec: Column,
      threshold: Double = 0.95, numPlanes: Int = 16, numTables: Int = 4): DataFrame = {
    val dups = annPairs(df, id, vec, threshold, numPlanes, numTables)
      .select(col("id_b").as("__dup_id")).distinct()
    df.join(dups, id === col("__dup_id"), "left_anti")
  }

  /**
   * SemDeDup-style cluster-scoped semantic near-duplicate pairs
   * (Abbas et al. 2023): k-means-cluster the corpus ([[kmeansFit]]),
   * then compare ONLY within-cluster pairs — the quadratic all-pairs
   * problem becomes k independent cluster-local ones, and `k` is the
   * explicit knob bounding pair blowup (production SemDeDup runs
   * k ≈ n/1000, making expected cluster-local work linear in n).
   *
   * Scale shape mirrors [[annPairs]]: the cluster-blocked self-join
   * carries ONLY (cluster, id) — never the embedding payload; vectors
   * re-join by id onto the (small) pair set for the one exact-cosine
   * verify. Cosines round at 1e-6 so the pair set is engine- and
   * partitioning-stable. Returns (cluster, id_a, id_b, cosine) with
   * id_a < id_b.
   */
  def semanticPairs(df: DataFrame, id: Column, vec: Column,
      k: Int = 8, iters: Int = 2, threshold: Double = 0.4): DataFrame = {
    val (assigned, _) = kmeansFit(df, id, vec, k, iters)
    val a = assigned.select(col("cluster"), col("id").as("id_a"))
    val b = assigned.select(col("cluster"), col("id").as("id_b"))
    val idPairs = a.join(b, "cluster").filter(col("id_a") < col("id_b"))
    val base = df.select(id.cast("long").as("__id"), vec.as("__v"))
    idPairs
      .join(base.select(col("__id").as("id_a"), col("__v").as("__va")), "id_a")
      .join(base.select(col("__id").as("id_b"), col("__v").as("__vb")), "id_b")
      .withColumn("cosine", round(cosine(col("__va"), col("__vb")), 6))
      .filter(col("cosine") >= threshold)
      .select("cluster", "id_a", "id_b", "cosine")
  }

  /** SemDeDup removal pass: greedy min-id survivor over
   *  [[semanticPairs]] — any row with a semantic dup of smaller id is
   *  dropped (same policy as [[dedupByEmbedding]] and the MinHash
   *  dedup chain, so survivors are deterministic). */
  def semanticDedup(df: DataFrame, id: Column, vec: Column,
      k: Int = 8, iters: Int = 2, threshold: Double = 0.4): DataFrame = {
    val dups = semanticPairs(df, id, vec, k, iters, threshold)
      .select(col("id_b").as("__dup_id")).distinct()
    df.join(dups, id.cast("long") === col("__dup_id"), "left_anti")
  }

  /** Symmetric int8 quantization step (max|x|/127; dequantize =
   *  q·scale). At 100 TB the embedding payload dominates storage and
   *  shuffle bytes — int8 cuts both 4×. Pure SQL lambdas, codegen. */
  def int8Scale(vec: Column): Column =
    greatest(aggregate(vec, lit(0.0d), (a, x) => greatest(a, abs(x.cast("double")))),
      lit(1e-30)) / 127.0

  /** Quantize to `array<tinyint>` with the given step. */
  def quantizeInt8(vec: Column, scale: Column): Column =
    transform(vec, x => round(x.cast("double") / scale).cast("tinyint"))

  /** Dequantize back to `array<double>`. */
  def dequantizeInt8(q: Column, scale: Column): Column =
    transform(q, x => x.cast("double") * scale)

  // -------------------- binary (sign-bit) signatures --------------------

  /**
   * Pack the sign bits of the first `nBits` dimensions into one BIGINT:
   * bit i set iff `vec[i+1] > 0`. 64× smaller than the float vector —
   * the classic binary-embedding compression: at 100 TB the signature
   * column is the only thing a Hamming search has to scan or shuffle.
   * Capped at 63 bits (the oracle engine's `<<` traps on 1<<63; the
   * two's-complement top bit buys nothing for distance). A compiled
   * [[graft.functions.SignPack]] expression — the SQL-lambda fold was
   * interpreted and re-materialized a computed child array per fold
   * step (see SignPack's scaladoc).
   */
  def signSignature(vec: Column, nBits: Int = 63): Column =
    ColumnShim.column(graft.functions.SignPack(ColumnShim.expr(vec), nBits))

  /** Hamming distance between two packed signatures. */
  def hammingDist(a: Column, b: Column): Column = bit_count(a.bitwiseXOR(b))

  /**
   * All-pairs Hamming near-dup search via multi-index hashing
   * (Norouzi/Punjani/Fleet, "Fast Search in Hamming Space with
   * Multi-Index Hashing"): split the signature into `maxDist + 1`
   * disjoint bands — by pigeonhole, any pair within `maxDist` agrees
   * EXACTLY on at least one band, so banding has 100% recall and the
   * popcount verify removes the false candidates. Scale shape follows
   * [[annPairs]]: the band join and pair dedup carry ONLY
   * (band, value, id) — 8-byte signatures re-join onto the (small)
   * candidate set for the verify; the full vectors never shuffle.
   * Bands stay ≥ 4 bits up to maxDist 15 — beyond that the buckets
   * collapse toward all-pairs (radius search is not the near-dup use
   * case; use [[hammingTopK]] for broad retrieval).
   *
   * Sizing honesty: expected candidates per band ≈ n²/2^bandWidth, so
   * a 63-bit signature with maxDist 3 (≈15-bit bands) is comfortable
   * to ~1M rows; at 100 TB corpora use proportionally longer
   * signatures (bandWidth ≳ 2·log2(n) keeps the candidate set linear —
   * the published MIH sizing rule). The banding/verify pipeline is
   * signature-length agnostic; only the 63-bit packer is the current
   * single-BIGINT convenience.
   */
  def hammingPairs(df: DataFrame, id: Column, vec: Column,
      maxDist: Int, nBits: Int = 63): DataFrame = {
    require(maxDist >= 0 && maxDist < nBits, s"hammingPairs: maxDist in [0,$nBits)")
    val bands = maxDist + 1
    // pin the signature frame: the band union + two verify joins would
    // otherwise re-scan df (and recompute SignPack) bands+2 times
    val base = df.select(id.cast("long").as("__id"), signSignature(vec, nBits).as("__s"))
      .persist()
    base.count()
    try {
      val w = nBits / bands
      val rem = nBits % bands
      val banded = (0 until bands).map { b =>
        val lo = b * w + math.min(b, rem)
        val width = w + (if (b < rem) 1 else 0)
        base.select(lit(b).as("__b"),
          shiftright(col("__s"), lo).bitwiseAND(lit((1L << width) - 1)).as("__v"),
          col("__id"))
      }.reduce(_ unionAll _)
      val cand = banded.select(col("__b"), col("__v"), col("__id").as("id_a"))
        .join(banded.select(col("__b"), col("__v"), col("__id").as("id_b")), Seq("__b", "__v"))
        .filter(col("id_a") < col("id_b"))
        .select("id_a", "id_b")
        .distinct() // collapse multi-band hits
      val out = cand
        .join(base.select(col("__id").as("id_a"), col("__s").as("__sa")), "id_a")
        .join(base.select(col("__id").as("id_b"), col("__s").as("__sb")), "id_b")
        .withColumn("hamming", hammingDist(col("__sa"), col("__sb")))
        .filter(col("hamming") <= maxDist)
        .select("id_a", "id_b", "hamming")
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      out.count() // materialize before releasing the signature frame
      out
    } finally base.unpersist(blocking = false)
  }

  /**
   * Wide binary signature: `numWords` independent hyperplane words
   * (distinct seeds), each ≤ 63 Rademacher-projection bits — the
   * instrument for [[hammingPairsWide]]'s sizing rule (band width
   * ≳ 2·log2(n) keeps candidates linear; one BIGINT caps at 63 bits,
   * an array of words does not).
   */
  def hyperplaneSignatureWide(vec: Column, numWords: Int,
      bitsPerWord: Int = 63, seed: Long = 42L): Column = {
    require(numWords >= 1, "hyperplaneSignatureWide: numWords >= 1")
    array((0 until numWords).map(k => lshBucket(vec, bitsPerWord, seed + k)): _*)
  }

  /** Hamming distance between two wide signatures (same word count). */
  def hammingDistWide(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => bit_count(x.bitwiseXOR(y))),
      lit(0), (acc, h) => acc + h)

  /**
   * [[hammingPairs]] over WIDE hyperplane signatures, bands aligned to
   * words: numWords = maxDist + 1, so any pair within the radius
   * agrees exactly on at least one whole word (pigeonhole) — 100%
   * recall over the projection bits, with per-band candidate counts
   * ≈ n²/2^bitsPerWord regardless of the radius. Distance semantics:
   * Hamming over the (maxDist+1)·bitsPerWord hyperplane projection
   * bits (the angular-distance sketch), not raw dimension signs.
   */
  def hammingPairsWide(df: DataFrame, id: Column, vec: Column,
      maxDist: Int, bitsPerWord: Int = 63, seed: Long = 42L): DataFrame = {
    require(maxDist >= 0, "hammingPairsWide: maxDist >= 0")
    // pinned like hammingPairs — the hyperplane projection is the
    // expensive pass here (dims × bits multiplies per row)
    val base = df.select(id.cast("long").as("__id"),
      hyperplaneSignatureWide(vec, maxDist + 1, bitsPerWord, seed).as("__sig"))
      .persist()
    base.count()
    try {
      val banded = base.select(col("__id"), posexplode(col("__sig")).as(Seq("__w", "__v")))
      val cand = banded.select(col("__w"), col("__v"), col("__id").as("id_a"))
        .join(banded.select(col("__w"), col("__v"), col("__id").as("id_b")), Seq("__w", "__v"))
        .filter(col("id_a") < col("id_b"))
        .select("id_a", "id_b")
        .distinct()
      val out = cand
        .join(base.select(col("__id").as("id_a"), col("__sig").as("__sa")), "id_a")
        .join(base.select(col("__id").as("id_b"), col("__sig").as("__sb")), "id_b")
        .withColumn("hamming", hammingDistWide(col("__sa"), col("__sb")))
        .filter(col("hamming") <= maxDist)
        .select("id_a", "id_b", "hamming")
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      out.count()
      out
    } finally base.unpersist(blocking = false)
  }

  /**
   * Hamming top-k over packed sign signatures: the scale path for
   * similarity search when even int8 vectors are too heavy — corpus
   * scanned once producing ONLY (id, 8-byte signature), queries
   * broadcast, bounded top-k aggregate (map-side partial, ≤ k rows per
   * (query, partition) reach the exchange). Ties break on corpus id
   * ascending — deterministic and oracle-replicable.
   */
  def hammingTopK(
      corpus: DataFrame, queries: DataFrame,
      corpusId: Column, corpusVec: Column,
      queryId: Column, queryVec: Column,
      k: Int = 10, nBits: Int = 63): DataFrame =
    hammingTopKPacked(
      corpus.select(corpusId.as("corpus_id"), signSignature(corpusVec, nBits).as("__cs")),
      queries.select(queryId.as("query_id"), signSignature(queryVec, nBits).as("__qs")),
      col("corpus_id"), col("__cs"), col("query_id"), col("__qs"), k)

  /**
   * [[hammingTopK]] on PRE-PACKED signatures — the layout a persisted
   * signature index stores (pack once at write time, search many). A
   * signature column is a plain BIGINT, so a signature corpus on
   * parquet is ~16 bytes/row and the search is a single corpus scan
   * with a broadcast query probe and the bounded top-k aggregate.
   */
  def hammingTopKPacked(
      corpus: DataFrame, queries: DataFrame,
      corpusId: Column, corpusSig: Column,
      queryId: Column, querySig: Column,
      k: Int = 10): DataFrame = {
    val idType = corpus.select(corpusId).schema.head.dataType
    val c = corpus.select(corpusId.as("corpus_id"), corpusSig.as("__cs"))
    val q = queries.select(queryId.as("query_id"), querySig.as("__qs"))
    val scored = c.crossJoin(broadcast(q))
      .filter(col("corpus_id") =!= col("query_id"))
      // rank on the NEGATED distance (the top-k aggregate keeps maxima);
      // ties on equal distance fall to id asc in both rank paths
      .withColumn("__negh", -hammingDist(col("__cs"), col("__qs")).cast("double"))
    rankTopK(scored, "query_id", "corpus_id", col("__negh"), k, idType, "__negh", "rank")
      .select(col("query_id"), col("corpus_id"),
        (-col("__negh")).cast("int").as("hamming"), col("rank"))
  }

  // ------------------------- product quantization -----------------------

  /**
   * Collect a (small) codebook frame into the constant
   * `[subspace][code][dim]` array [[PqEncode]]/[[PqAdcLut]] embed.
   * Codes are assigned by ascending `cbId` (deterministic). The
   * codebook is k·d doubles — a few KB — so collecting it to the
   * driver is the same "broadcast-able by construction" contract as
   * [[ivfTopK]]'s centroid frame; at scale derive it from a sampled
   * k-means, exactly like the IVF coarse quantizer.
   */
  def pqCodebook(codebook: DataFrame, cbId: Column, cbVec: Column, m: Int):
      Array[Array[Array[Double]]] = {
    val rows = codebook.select(cbId.cast("long").as("id"), cbVec.as("v"))
      .orderBy("id").collect()
    require(rows.nonEmpty, "empty PQ codebook frame")
    val d = rows.head.getSeq[Any](1).length
    require(d % m == 0, s"embedding dim $d not divisible by m=$m subspaces")
    val dsub = d / m
    Array.tabulate(m) { s =>
      rows.map { r =>
        val v = r.getSeq[Any](1)
        Array.tabulate(dsub)(j => v(s * dsub + j) match {
          case f: Float => f.toDouble
          case x: Double => x
        })
      }
    }
  }

  /** PQ-encode a corpus: one map-side scan → (id, codes array<int>).
   *  The codes column is the compressed index payload (m ints vs d
   *  floats — 32-64x smaller at typical settings). */
  def pqEncode(vec: Column, cb: Array[Array[Array[Double]]]): Column =
    ColumnShim.column(PqEncode(ColumnShim.expr(vec), cb))

  /** Per-query ADC lookup table (flat m·k array; see [[PqAdcLut]]). */
  def pqAdcLut(vec: Column, cb: Array[Array[Array[Double]]]): Column =
    ColumnShim.column(PqAdcLut(ColumnShim.expr(vec), cb))

  /**
   * PQ approximate top-k by asymmetric distance computation — the
   * memory-bound scale path for similarity search (IVF bounds how much
   * of the corpus a query READS; PQ bounds how many bytes each corpus
   * row COSTS).
   *
   *  - encode: ONE corpus scan against the broadcast codebook constant;
   *    only (id, m-int codes) live downstream — never the float vectors.
   *  - search: queries build their m·k ADC lookup table map-side, the
   *    scored cross product is query-broadcast (corpus never shuffles),
   *    each candidate costs m array reads, and the bounded top-k
   *    aggregate ships ≤ k rows per (query, partition).
   *
   * Returns (query_id, corpus_id, adc, rank) — `adc` is the rounded
   * squared-L2 ADC estimate, rank 1 = nearest. Ties break on
   * (adc asc, corpus_id asc); all distances round at 1e-6 so results
   * are deterministic across engines and partitionings.
   */
  def pqTopK(
      corpus: DataFrame, queries: DataFrame, codebook: DataFrame,
      corpusId: Column, corpusVec: Column,
      queryId: Column, queryVec: Column,
      cbId: Column, cbVec: Column,
      m: Int = 8, k: Int = 10): DataFrame = {
    val cb = pqCodebook(codebook, cbId, cbVec, m)
    val nCodes = cb.head.length
    val codes = corpus.select(corpusId.as("corpus_id"), pqEncode(corpusVec, cb).as("__codes"))
    val luts = queries.select(queryId.as("query_id"), pqAdcLut(queryVec, cb).as("__lut"))
    val scored = codes.crossJoin(broadcast(luts))
      .filter(col("corpus_id") =!= col("query_id"))
      // adc = sum_s lut[s*k + codes[s]] — m reads, pure codegen lambda
      .withColumn("__adc", round(aggregate(
        sequence(lit(0), lit(m - 1)), lit(0.0d),
        (acc, s) => acc + element_at(col("__lut"), (s * nCodes + element_at(col("__codes"), s + 1)) + 1)), 6))
    val idType = corpus.select(corpusId).schema.head.dataType
    // smallest distance first: rank on negated adc (TopKByScore orders
    // score desc, id asc), then surface the positive distance
    rankTopK(scored, "query_id", "corpus_id", -col("__adc"), k, idType, "__nadc", "rank")
      .select(col("query_id"), col("corpus_id"), (-col("__nadc")).as("adc"), col("rank"))
  }

  /** Collect a broadcast-sized centroid frame to (ids, vectors) for
   *  the constant-centroid expressions. Same contract as [[pqCodebook]]. */
  /**
   * Distributed per-group centroid accumulators (the k-means M-step /
   * per-class mean-embedding shape): dimension-wise sums in EXACT
   * 1e-6-unit BIGINTs — both engines start from the same float bits,
   * so the quantized sums are aggregation-order-free and
   * hash-certifiable, unlike a double mean. Scale shape: posexplode →
   * ONE partial-aggregating groupBy on (group, dim) — (groups·dims)
   * result rows, never a vector-sized shuffle payload. The centroid
   * is sum_micro / n / 1e6, computed by the caller in whatever
   * precision it needs. Returns (grp, dim, n, sum_micro); dim is
   * 0-based.
   */
  /**
   * Distance-to-group-centroid outliers in EXACT integers — the
   * embedding-space quality gate (mislabeled / off-distribution rows
   * surface as the k farthest points from their class centroid).
   *
   * Exactness trick: instead of the centroid c = sum/n (whose floor
   * division disagrees across engines on negative sums), rank by
   *   d2 = Σ_dims (v_micro·n − sum_micro)²  =  n² · Σ (v − c)²
   * — the per-group n² factor is constant, so the ORDER (and the
   * returned d2 itself) is bit-identical everywhere with no division
   * at all.
   *
   * Scale shape: one (group, dim) partial aggregate for the sums
   * (vector payload never shuffles), sums re-attach as a
   * groups-cardinality broadcast, distance is a narrow map, and the
   * bounded top-k window sees ≤ k·partitions rows per group.
   * Returns (grp, id, d2, rank) with rank ≤ k.
   *
   * Overflow: each term scales like (1e6·n·dev)², so a BIGINT d2
   * silently wraps for groups beyond a few thousand rows (while the
   * oracle engine raises). d2 therefore accumulates in DECIMAL(38,0)
   * — exact up to ~38 digits, i.e. unit-norm groups of ~1e11 rows
   * even after the Σ over dims; past that the non-ANSI decimal sum
   * yields null rather than a wrong rank.
   */
  def centroidOutliersMicro(df: DataFrame, id: Column, vec: Column,
      group: Column, k: Int = 5): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val sums = groupCentroidsMicro(df, group, vec)
      .groupBy("grp").agg(max("n").as("n"),
        transform(array_sort(collect_list(struct(col("dim"), col("sum_micro")))),
          s => s.getField("sum_micro")).as("sums"))
    val v = df.select(group.as("grp"), id.as("__id"),
      transform(vec, x => round(x.cast("double") * 1e6, 0).cast("long")).as("vm"))
    val w = Window.partitionBy("grp").orderBy(col("d2").desc, col("__id"))
    v.join(broadcast(sums), "grp")
      .withColumn("d2", aggregate(
        zip_with(col("vm"), col("sums"), (a, b) => {
          val d = (a * col("n") - b).cast("decimal(38,0)")
          (d * d).cast("decimal(38,0)")
        }),
        lit(0).cast("decimal(38,0)"), (acc, x) => (acc + x).cast("decimal(38,0)")))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("grp"), col("__id").as("id"), col("d2"), col("rank"))
  }

  def groupCentroidsMicro(df: DataFrame, group: Column, vec: Column): DataFrame =
    df.select(group.as("grp"), posexplode(vec).as(Seq("dim", "__x")))
      .groupBy("grp", "dim")
      .agg(count(lit(1)).as("n"),
        sum(round(col("__x").cast("double") * 1e6, 0).cast("long")).as("sum_micro"))

  /**
   * Per-group per-dimension first AND second moments in exact units —
   * the feature-scaling / whitening statistics pass (mean = sum/n,
   * variance = sumsq/n - mean²; standardization divides by the
   * resulting per-dim sigma). Extends [[groupCentroidsMicro]] with the
   * squared accumulator: sums are 1e-6-unit BIGINTs, squared sums are
   * 1e-12-unit DECIMAL(38,0) — exact and aggregation-order-free in
   * both engines (a BIGINT sumsq would overflow at ~4e18, i.e. ~15k
   * unit-norm rows per (group, dim); DECIMAL(38,0) carries ~1e38).
   * Same scale shape: ONE partial-aggregating (group, dim) groupBy.
   */
  def groupMomentsMicro(df: DataFrame, group: Column, vec: Column): DataFrame = {
    val xm = round(col("__x").cast("double") * 1e6, 0).cast("long")
    df.select(group.as("grp"), posexplode(vec).as(Seq("dim", "__x")))
      .groupBy("grp", "dim")
      .agg(count(lit(1)).as("n"),
        sum(xm).as("sum_micro"),
        sum((xm * xm).cast("decimal(38,0)")).as("sumsq_micro2"))
  }

  /**
   * Exact cross-moments — the covariance/correlation accumulation
   * pass (PCA/whitening's input): for every dimension pair (i, j),
   * n and Σ xᵢ·xⱼ in 1e-12-unit DECIMAL(38,0). Covariance =
   * sumxy/n − meanᵢ·meanⱼ with means from [[groupMomentsMicro]].
   *
   * Scale shape: each row expands to its d² (i, j, xᵢxⱼ) products via
   * nested index lambdas over the ONCE-BOUND quantized vector (the
   * [[graft.operators.Dedup.winnow]] bind-once pattern — a naive
   * nested reference re-quantizes per element), then ONE
   * partial-aggregating (i, j) groupBy: the exchange carries ≤ d²
   * rows per partition — model-sized, never corpus-sized. No
   * self-join, no shuffle of vectors.
   */
  def crossMomentsMicro(df: DataFrame, vec: Column): DataFrame = {
    val pairs = flatten(transform(array(microVec(vec)), mv =>
      flatten(transform(mv, (xi, i) =>
        transform(mv, (xj, j) =>
          struct(i.as("i"), j.as("j"), (xi * xj).cast("decimal(38,0)").as("xy")))))))
    df.select(explode(pairs).as("p"))
      .groupBy(col("p.i").as("i"), col("p.j").as("j"))
      .agg(count(lit(1)).as("n"), sum(col("p.xy")).as("sumxy_micro2"))
  }

  /**
   * Top principal component by power iteration, hash-certifiable end
   * to end — the PCA head at corpus scale, built the way production
   * systems build it: the covariance accumulation is distributed
   * ([[crossMomentsMicro]] + [[groupMomentsMicro]], the only
   * data-sized work), the d×d solve runs driver-local on the
   * model-sized matrix (Spark MLlib's Gramian-then-local-eigen
   * architecture).
   *
   * Every step is exact or correctly-rounded in a fixed order, so the
   * result replays bit-identically in SQL:
   *  - covariance in 1e-12 units: c_ij = (n·Σxᵢxⱼ − Σxᵢ·Σxⱼ) div n²
   *    (BigInt, truncating division);
   *  - matvec w = C·v in exact BigInt (order-free integer sums);
   *  - rescale wᵢ div 1e12, then ‖w‖² as an exact integer sum;
   *  - normalize vᵢ = round6(wᵢ / √‖w‖²) — scalar double ops only.
   * Seed v₀ = e₀; a zero iterate keeps the previous vector (guard,
   * same COALESCE style as the k-means empty cluster). Converges to
   * ±(top eigenvector) like any power iteration; the sign is pinned
   * by the deterministic seed. Returns (dim, v_micro).
   */
  def topComponentMicro(df: DataFrame, vec: Column, iters: Int = 3): DataFrame = {
    val spark = df.sparkSession
    spark.createDataFrame(topComponentsArray(df, vec, 1, iters)(0)
      .zipWithIndex.map { case (x, i) => (i, x) }.toIndexedSeq)
      .toDF("dim", "v_micro")
  }

  /**
   * Top `p` principal components by power iteration + Hotelling
   * deflation, same exactness contract as [[topComponentMicro]]: after
   * component k, the covariance deflates by its Rayleigh term —
   * C' = C − λ·v·vᵀ with λ = (vᵀCv)/(vᵀv) — entirely in truncating
   * BigInt arithmetic (each deflation entry is
   * c_ij − (num·vᵢ·vⱼ) div (den·1e12), within HUGEINT range for SQL
   * replay). Returns (component, dim, v_micro), component 0-based.
   */
  def topComponentsMicro(df: DataFrame, vec: Column,
      nComponents: Int = 2, iters: Int = 3): DataFrame = {
    val comps = topComponentsArray(df, vec, nComponents, iters)
    df.sparkSession.createDataFrame(
      comps.zipWithIndex.flatMap { case (v, ci) =>
        v.zipWithIndex.map { case (x, d) => (ci, d, x) }
      }.toIndexedSeq).toDF("component", "dim", "v_micro")
  }

  /**
   * Exact projection scores onto micro-unit components: score =
   * (Σ x_micro·v_micro) div 1e6 per (row, component) — order-free
   * BIGINT sums, a narrow map against the broadcast-literal component
   * matrix (the dimensionality-reduction apply pass).
   */
  /** Deterministic ±1 entry of the random-projection matrix:
   *  splitmix64 of (seed + i·dOut + j), sign from the top bit. Public
   *  so the oracle builder can inline the identical matrix. */
  def rpSign(i: Int, j: Int, dOut: Int, seed: Long): Int = {
    var z = seed + i.toLong * dOut + j + 0x9E3779B97F4A7C15L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z = z ^ (z >>> 31)
    if (z < 0) -1 else 1
  }

  /**
   * Random projection (Johnson-Lindenstrauss with the ±1 Achlioptas
   * matrix): project `vec` onto `dOut` pseudo-random sign vectors.
   * Arithmetic is EXACT — inputs quantize to 1e-6 BIGINT micro-units
   * and the matrix entries are ±1, so each output component is an
   * integer sum, hash-certifiable and aggregation-order-free (the
   * same discipline as [[projectMicro]]). The conventional 1/√dOut
   * scale factor is left to the caller (it is a constant that cancels
   * in any distance comparison).
   *
   * Scale shape: the matrix is dIn×dOut literals folded into the plan
   * (model-sized, no join); the projection is a narrow per-row map —
   * at 100 TB this is the classic shuffle-free dimensionality cut
   * applied before ANN indexing. Output: (id, component,
   * score_micro), one row per output dimension.
   */
  def randomProjectMicro(df: DataFrame, id: Column, vec: Column,
      dIn: Int, dOut: Int, seed: Long = 42L): DataFrame = {
    require(dIn >= 1 && dOut >= 1, "bad projection geometry")
    val signs = Array.tabulate(dOut, dIn)((j, i) => rpSign(i, j, dOut, seed).toLong)
    projectMicroSigns(df, id, vec, signs)
  }

  /** Shared projection kernel: rows of `mat` are ±1 (or micro-unit)
   *  vectors; out_j = Σ_i vec_micro[i]·mat[j][i], exact BIGINT. */
  private def projectMicroSigns(df: DataFrame, id: Column, vec: Column,
      mat: Array[Array[Long]]): DataFrame = {
    val matLit = array(mat.map(v => array(v.map(lit(_)): _*)): _*)
    val mv = microVec(vec)
    val scores = flatten(transform(array(mv), mvv =>
      transform(matLit, v =>
        aggregate(zip_with(mvv, v, (x, c) => x * c), lit(0L), (a, x) => a + x))))
    df.select(id.as("id"), posexplode(scores).as(Seq("component", "score_micro")))
  }

  def projectMicro(df: DataFrame, id: Column, vec: Column,
      components: Array[Array[Long]]): DataFrame = {
    require(components.nonEmpty, "no components")
    val compLit = array(components.map(v => array(v.map(lit(_)): _*)): _*)
    val mv = microVec(vec)
    val scores = flatten(transform(array(mv), mvv =>
      transform(compLit, v =>
        (aggregate(zip_with(mvv, v, (x, c) => x * c), lit(0L), (a, x) => a + x)
          / lit(1000000L)).cast("long"))))
    df.select(id.as("id"), posexplode(scores).as(Seq("component", "score_micro")))
  }

  private def topComponentsArray(df: DataFrame, vec: Column,
      nComponents: Int, iters: Int): Array[Array[Long]] = {
    require(iters >= 1 && nComponents >= 1, "bad pca geometry")
    val cross = crossMomentsMicro(df, vec).collect() // d² rows — model-sized
    val d = cross.map(_.getInt(0)).max + 1
    val n = BigInt(cross.head.getLong(2))
    val moms = groupMomentsMicro(df, lit(0), vec).collect()
    val sums = new Array[BigInt](d)
    moms.foreach(r => sums(r.getInt(1)) = BigInt(r.getLong(3)))
    val c = Array.ofDim[BigInt](d, d)
    cross.foreach { r =>
      val (i, j) = (r.getInt(0), r.getInt(1))
      val sumxy = BigInt(r.getDecimal(3).toBigInteger)
      c(i)(j) = (n * sumxy - sums(i) * sums(j)) / (n * n)
    }
    val out = Array.ofDim[Array[Long]](nComponents)
    for (comp <- 0 until nComponents) {
      var v = Array.tabulate(d)(i => BigInt(if (i == 0) 1000000L else 0L))
      for (_ <- 1 to iters) {
        val w = Array.tabulate(d)(i =>
          (0 until d).foldLeft(BigInt(0))((acc, j) => acc + c(i)(j) * v(j)) / BigInt("1000000000000"))
        val s2 = w.foldLeft(BigInt(0))((acc, x) => acc + x * x)
        if (s2 != 0) {
          val norm = math.sqrt(s2.toDouble)
          // HALF_UP (away from zero) matches SQL round() on negatives,
          // where math.round would round -2.5 toward +infinity
          v = w.map(x => BigInt(BigDecimal(x.toDouble / norm * 1e6)
            .setScale(0, scala.math.BigDecimal.RoundingMode.HALF_UP).toLong))
        }
      }
      out(comp) = v.map(_.toLong)
      if (comp < nComponents - 1) {
        // Hotelling deflation in exact integers
        val num = (0 until d).foldLeft(BigInt(0)) { (acc, i) =>
          acc + (0 until d).foldLeft(BigInt(0))((a, j) => a + v(i) * c(i)(j) * v(j))
        }
        val den = v.foldLeft(BigInt(0))((a, x) => a + x * x) * BigInt("1000000000000")
        for (i <- 0 until d; j <- 0 until d)
          c(i)(j) = c(i)(j) - (num * v(i) * v(j)) / den
      }
    }
    out
  }

  /**
   * Standardization apply pass: (x - mean) / sigma per dimension, with
   * mean/sigma derived from a [[groupMomentsMicro]] frame (population
   * variance). The moments frame is model-sized (dims, or groups·dims)
   * and collects to a broadcast constant, so the apply is a narrow
   * map over the corpus — the same constant-table shape as
   * [[kmeansAssign]]. Output components round to 1e-6 (engine-stable:
   * means/sigmas come from exact integer moments, and /,sqrt are
   * IEEE-correctly rounded). A zero-variance dimension standardizes
   * to 0 rather than dividing by zero.
   *
   * `moments` must be single-group (one row per dim) — compute it with
   * a constant group for global standardization.
   */
  def standardize(df: DataFrame, vec: Column, moments: DataFrame): Column = {
    val rows = moments.select(col("dim"), col("n").cast("long"),
      col("sum_micro").cast("long"),
      col("sumsq_micro2").cast("decimal(38,0)")).collect()
    val dims = rows.map(_.getInt(0)).max + 1
    val mean = new Array[Double](dims)
    val sigma = new Array[Double](dims)
    rows.foreach { r =>
      val d = r.getInt(0); val n = r.getLong(1).toDouble
      val s = r.getLong(2).toDouble / 1e6
      val sq = r.getDecimal(3).doubleValue() / 1e12
      mean(d) = s / n
      val v = sq / n - (s / n) * (s / n)
      sigma(d) = if (v > 0) math.sqrt(v) else 0.0
    }
    val meanLit = array(mean.map(lit(_)): _*)
    val sigmaLit = array(sigma.map(lit(_)): _*)
    zip_with(vec, sequence(lit(0), lit(dims - 1)), (x, d) => {
      val m = element_at(meanLit, d + 1)
      val sg = element_at(sigmaLit, d + 1)
      round(when(sg === 0.0, 0.0).otherwise((x.cast("double") - m) / sg), 6)
    })
  }

  def centroidArrays(df: DataFrame, idCol: Column, vecCol: Column):
      (Array[Long], Array[Array[Double]]) = {
    val rows = df.select(idCol.cast("long").as("id"), vecCol.as("v")).orderBy("id").collect()
    require(rows.nonEmpty, "empty centroid frame")
    (rows.map(_.getLong(0)),
      rows.map(_.getSeq[Any](1).map {
        case f: Float => f.toDouble
        case x: Double => x
      }.toArray))
  }

  /** Top-`probe` nearest centroid IDS by rounded cosine (see
   *  [[NearestCentroids]]); probe=1 → single-element array. */
  def nearestCentroids(vec: Column, cents: Array[Array[Double]], ids: Array[Long],
      probe: Int): Column =
    ColumnShim.column(NearestCentroids(ColumnShim.expr(vec), cents, ids, probe))

  /**
   * Composed IVF-PQ top-k — the production ANN architecture (FAISS
   * IVFPQ shape): coarse routing bounds how much of the corpus a query
   * READS, PQ codes bound what each candidate COSTS.
   *
   * Scale shape, and why it beats both parents at 100 TB:
   *  - index build is ONE corpus scan with NO shuffle: list assignment
   *    ([[NearestCentroids]], constant centroids) and PQ encoding
   *    ([[PqEncode]], constant codebook) are both map-side projections;
   *    the stored index row is (id, list, m codes) ≈ 16+m bytes vs
   *    4·d bytes of floats.
   *  - search broadcasts (query, probed-list) pairs AND the per-query
   *    ADC tables: candidate generation is a broadcast-hash join (the
   *    corpus-sized index never shuffles), scoring is m array reads,
   *    and the bounded top-k aggregate ships ≤ k rows per partition.
   *
   * Same determinism contract as [[pqTopK]]/[[ivfTopK]]: cosines and
   * distances round at 1e-6, ties break on ids.
   */
  def ivfPqTopK(
      corpus: DataFrame, queries: DataFrame,
      centroids: DataFrame, codebook: DataFrame,
      corpusId: Column, corpusVec: Column,
      queryId: Column, queryVec: Column,
      centroidId: Column, centroidVec: Column,
      cbId: Column, cbVec: Column,
      m: Int = 8, k: Int = 10, nprobe: Int = 3): DataFrame = {
    val (cids, cvecs) = centroidArrays(centroids, centroidId, centroidVec)
    val cb = pqCodebook(codebook, cbId, cbVec, m)
    val nCodes = cb.head.length
    val index = corpus.select(corpusId.as("corpus_id"),
      element_at(nearestCentroids(corpusVec, cvecs, cids, probe = 1), 1).as("__cid"),
      pqEncode(corpusVec, cb).as("__codes"))
    val probes = queries.select(queryId.as("query_id"),
      explode(nearestCentroids(queryVec, cvecs, cids, probe = nprobe)).as("__cid"))
    val luts = queries.select(queryId.as("query_id"), pqAdcLut(queryVec, cb).as("__lut"))
    val cands = index.join(broadcast(probes), "__cid")
      .filter(col("corpus_id") =!= col("query_id"))
      .join(broadcast(luts), "query_id")
      .withColumn("__adc", round(aggregate(
        sequence(lit(0), lit(m - 1)), lit(0.0d),
        (acc, s) => acc + element_at(col("__lut"), (s * nCodes + element_at(col("__codes"), s + 1)) + 1)), 6))
    val idType = corpus.select(corpusId).schema.head.dataType
    rankTopK(cands, "query_id", "corpus_id", -col("__adc"), k, idType, "__nadc", "rank")
      .select(col("query_id"), col("corpus_id"), (-col("__nadc")).as("adc"), col("rank"))
  }

  /**
   * IVF-flat approximate top-k — the inverted-file scale path for
   * similarity search (vs [[bruteForceTopK]]'s exhaustive scan).
   *
   * `centroids` is the coarse quantizer (id, vector). It must be small
   * enough to broadcast — at scale use a sampled/k-means subset (a few
   * Lloyd rounds over a sample; the INDEX SHAPE is what matters here
   * and is independent of how centroids were chosen):
   *
   *  - build: ONE corpus scan × broadcast(centroids) → argmax cosine →
   *    inverted lists (list_id, id, vec), i.e. the corpus partitioned
   *    by list id. No corpus×corpus or corpus×query product anywhere.
   *  - search: queries × broadcast(centroids) → top-`nprobe` lists per
   *    query; equi-join probes⋈lists on list_id reads ONLY probed
   *    lists (1/`numLists`·`nprobe` of the corpus in expectation);
   *    exact cosine + top-k window on the candidates.
   *
   * Ranking ties break on rounded cosine then id, keeping results
   * deterministic across partitionings.
   */
  /** [[ivfTopK]]'s list-assignment stage, shared with the persisted
   *  index so both carry identical tie-break semantics. Only
   *  (corpus_id, cid, rounded score) reaches the argmax shuffle — never
   *  the embedding payload — and max_by partial-aggregates map-side.
   *  Tie-break: highest score, then lowest centroid id.
   *
   *  Kept as the FALLBACK shape: [[centModel]]'s map-side argmax
   *  replaces it whenever the centroid frame collects cleanly. The
   *  max_by struct ordering cannot use the hash aggregate's
   *  fixed-width buffer, so this shape plans a SortAggregate over the
   *  |corpus| × |centroids| crossJoin — the dominant cost of
   *  ivf_topk_10m before r16. */
  private def ivfAssignIds(c: DataFrame, cent: DataFrame): DataFrame =
    c.crossJoin(broadcast(cent))
      .select(col("corpus_id"), col("__cid"),
        round(cosine(col("__cv"), col("__centv")), 6).as("__cs"))
      .groupBy("corpus_id")
      .agg(max_by(col("__cid"), struct(col("__cs"), (-col("__cid")).as("__tb"))).as("__cid"))

  /** Collected centroid model for the map-side assignment fast path:
   *  (cids ascending, vectors in that order), or None when the frame
   *  doesn't fit the fast path's preconditions (non-integral centroid
   *  ids, null ids/vectors) — those fall back to [[ivfAssignIds]].
   *  The collect is in-contract: every IVF path already broadcasts
   *  this frame (centroid tables are model-sized by construction). */
  private def centModel(cent: DataFrame): Option[(Array[Long], Array[Array[Double]])] = {
    if (!isIntegral(cent.select(col("__cid")).schema.head.dataType)) return None
    val elemT = cent.schema("__centv").dataType match {
      case ArrayType(FloatType, _) => "float"
      case ArrayType(DoubleType, _) => "double"
      case _ => return None
    }
    val rows = cent.select(col("__cid").cast("long"),
      if (elemT == "float") expr("transform(__centv, x -> CAST(x AS DOUBLE))") else col("__centv"))
      .collect()
    if (rows.exists(r => r.isNullAt(0) || r.isNullAt(1))) return None
    val sorted = rows.map(r => (r.getLong(0), r.getSeq[Double](1).toArray)).sortBy(_._1)
    if (sorted.isEmpty) return None
    Some((sorted.map(_._1), sorted.map(_._2)))
  }

  /** Map-side centroid assignment: `__cid` computed per corpus row by
   *  [[graft.functions.NearestCentroidIndex]] against the collected
   *  model — no crossJoin explosion, no aggregate, no shuffle; the
   *  selected centroid is bit-identical to [[ivfAssignIds]]'s
   *  (same cosine op order, same round(·, 6), same tie-break). */
  private def assignedCid(vec: Column, model: (Array[Long], Array[Array[Double]])): Column = {
    val (cids, vecs) = model
    val idx = ColumnShim.column(
      graft.functions.NearestCentroidIndex(ColumnShim.expr(vec), vecs))
    element_at(lit(cids), idx + 1)
  }

  /** Corpus rows with their assigned `__cid` (long) attached: map-side
   *  fast path when the centroid model collects, else the fallback
   *  aggregation + re-join. Input `c` = (corpus_id, __cv); `cent` =
   *  (__cid integral, __centv). */
  private def assignedAll(c: DataFrame, cent: DataFrame): DataFrame =
    centModel(cent) match {
      case Some(m) => c.withColumn("__cid", assignedCid(col("__cv"), m))
      case None => c.join(ivfAssignIds(c, cent), "corpus_id")
    }

  /** [[ivfTopK]]'s probe stage (top-nprobe lists per query), shared
   *  with the persisted index. */
  private def ivfProbes(q: DataFrame, cent: DataFrame, nprobe: Int): DataFrame = {
    val wProbe = Window.partitionBy(col("query_id"))
      .orderBy(round(col("__qs"), 6).desc, col("__cid").asc)
    q.crossJoin(broadcast(cent))
      .withColumn("__qs", cosine(col("__qv"), col("__centv")))
      .withColumn("__rn", row_number().over(wProbe))
      .filter(col("__rn") <= nprobe)
      .select(col("__cid"), col("query_id"))
  }

  /**
   * Persist an IVF index: assign every corpus row to its nearest
   * centroid (identical argmax/tie-break to [[ivfTopK]]) and write the
   * corpus parquet PARTITIONED BY the list id, centroids alongside.
   * This is the ANN analog of the reference's CREATE INDEX: the
   * cluster-by-list layout turns every later search into a
   * partition-pruned scan — [[ivfTopKIndexed]] reads ONLY the probed
   * lists' files, which at 100 TB is the difference between scanning
   * nprobe/nlists of the corpus and all of it.
   */
  def writeIvfIndex(corpus: DataFrame, centroids: DataFrame,
      corpusId: Column, corpusVec: Column,
      centroidId: Column, centroidVec: Column, path: String): Unit = {
    // a non-integral id would cast to null and silently drop every row
    // at the assignment join — refuse instead (ivfTopK's window path
    // supports such ids; the persisted layout keys on longs)
    require(isIntegral(corpus.select(corpusId).schema.head.dataType),
      "writeIvfIndex: corpusId must be an integral type")
    val c = corpus.select(corpusId.cast("long").as("corpus_id"), corpusVec.as("__cv"))
    val cent = centroids.select(centroidId.cast("long").as("__cid"), centroidVec.as("__centv"))
    assignedAll(c, cent)
      .select(col("corpus_id"), col("__cv"), col("__cid").as("__list"))
      .write.mode("overwrite").partitionBy("__list").parquet(s"$path/lists")
    cent.write.mode("overwrite").parquet(s"$path/centroids")
  }

  /**
   * Incrementally maintain a persisted IVF index: assign a batch of
   * NEW corpus rows to their nearest STORED centroid (identical
   * argmax/tie-break to the build) and append them into the
   * partitioned list layout — the index-refresh half of the ingest
   * loop (a geotable stream of arriving embeddings feeds this per
   * micro-batch; [[ivfTopKIndexed]] then sees the new rows on its next
   * partition-pruned scan, no rebuild). Centroids drift as the corpus
   * grows — recall degrades gracefully, and a periodic
   * [[writeIvfIndex]] rebuild re-centers (same contract as any IVF
   * index; the reference's R-tree analogously absorbs inserts and
   * rebuilds on VACUUM). Cost: one batch × centroids assignment +
   * a batch-sized append — never touches existing lists.
   */
  def appendIvfIndex(spark: org.apache.spark.sql.SparkSession, path: String,
      batch: DataFrame, corpusId: Column, corpusVec: Column): Unit = {
    require(isIntegral(batch.select(corpusId).schema.head.dataType),
      "appendIvfIndex: corpusId must be an integral type")
    val cent = spark.read.parquet(s"$path/centroids")
    val c = batch.select(corpusId.cast("long").as("corpus_id"), corpusVec.as("__cv"))
    assignedAll(c, cent)
      .select(col("corpus_id"), col("__cv"), col("__cid").as("__list"))
      .write.mode("append").partitionBy("__list").parquet(s"$path/lists")
  }

  /**
   * Search a persisted IVF index: probe lists come from the stored
   * centroids, then ONLY those lists' partitions are scanned (the
   * `isin` over the probed ids lands in the scan's PartitionFilters —
   * plan-asserted in IvfIndexSpec). The probed-id collect is
   * (|queries| × nprobe)-bounded — model-sized under the same
   * broadcast-queries contract as [[ivfTopK]]. Results are tie-break
   * identical to [[ivfTopK]] over the same corpus/centroids.
   */
  def ivfTopKIndexed(spark: org.apache.spark.sql.SparkSession, path: String,
      queries: DataFrame, queryId: Column, queryVec: Column,
      k: Int = 10, nprobe: Int = 3): DataFrame = {
    val cent = spark.read.parquet(s"$path/centroids")
    // long ids throughout (the stored index keys on longs; the local
    // probe relation's schema is typed LongType)
    val q = queries.select(queryId.cast("long").as("query_id"), queryVec.as("__qv"))
    // collect the probe assignment ONCE — (|queries| × nprobe)-bounded,
    // model-sized — and rebuild it as a local relation: computing lists
    // and the candidate join from the same lazy frame would run the
    // queries × centroids window twice
    val probeRows = ivfProbes(q, cent, nprobe).collect()
    val lists = probeRows.map(_.getLong(0)).distinct.toSeq
    val probes = spark.createDataFrame(
      new java.util.ArrayList[org.apache.spark.sql.Row](
        java.util.Arrays.asList(probeRows: _*)),
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("__cid", LongType),
        org.apache.spark.sql.types.StructField("query_id", LongType))))
    val corpus = spark.read.parquet(s"$path/lists")
      .where(col("__list").isin(lists: _*))
    val cands = probes
      .join(corpus, probes("__cid") === corpus("__list").cast("long"))
      .filter(col("corpus_id") =!= col("query_id"))
      .join(broadcast(q), "query_id")
      .withColumn("__sim", cosine(col("__qv"), col("__cv")))
    rankTopK(cands, "query_id", "corpus_id", round(col("__sim"), 6), k,
      LongType, "cosine", "rank")
  }

  def ivfTopK(
      corpus: DataFrame, queries: DataFrame, centroids: DataFrame,
      corpusId: Column, corpusVec: Column,
      queryId: Column, queryVec: Column,
      centroidId: Column, centroidVec: Column,
      k: Int = 10, nprobe: Int = 3): DataFrame = {
    val c = corpus.select(corpusId.as("corpus_id"), corpusVec.as("__cv"))
    val q = queries.select(queryId.as("query_id"), queryVec.as("__qv"))
    val cent = centroids.select(centroidId.as("__cid"), centroidVec.as("__centv"))
    val probes = ivfProbes(q, cent, nprobe)

    // Fast path (centroid model collects): assignment is a map-side
    // argmax, the probe table broadcasts, and the corpus is NEVER
    // shuffled — candidates flow with their vectors straight into the
    // bounded top-k partial aggregate. The pre-r16 shape (fallback
    // below) split candidates into id pairs and re-joined the corpus
    // vectors by corpus_id: one SortAggregate over the
    // |corpus|×|centroids| crossJoin plus a full corpus-vector
    // exchange, together the dominant cost of ivf_topk_10m.
    val candBase = centModel(cent) match {
      case Some(m) =>
        val cidT = centroids.select(centroidId).schema.head.dataType
        c.withColumn("__cid", assignedCid(col("__cv"), m).cast(cidT))
          .join(broadcast(probes), "__cid")
          .filter(col("corpus_id") =!= col("query_id"))
      case None =>
        val assign = ivfAssignIds(c, cent)
        probes.join(assign, "__cid")
          .filter(col("corpus_id") =!= col("query_id"))
          .select("query_id", "corpus_id")
          .join(c, "corpus_id")
    }
    val cands = candBase
      .join(broadcast(q), "query_id")
      .withColumn("__sim", cosine(col("__qv"), col("__cv")))
    // bounded top-k aggregate instead of a row_number window: candidates
    // partial-aggregate map-side, so the exchange carries ≤ k rows per
    // (query, partition) instead of every probed-list member
    rankTopK(cands, "query_id", "corpus_id", round(col("__sim"), 6), k,
      corpus.select(corpusId).schema.head.dataType, "cosine", "rank")
  }

  /** Vector quantized to exact 1e-6-unit BIGINTs — the shared input
   *  representation of the k-means loop (both engines start from the
   *  same float bits, so every downstream sum/compare is exact). */
  def microVec(vec: Column): Column =
    transform(vec, x => round(x.cast("double") * 1e6, 0).cast("long"))

  /** Squared-Euclidean argmin against a constant centroid table, all
   *  in BIGINT micro-units: 0-based cluster index, first (lowest)
   *  index wins ties. A pure map-side projection — the centroid table
   *  is a plan constant, so assignment adds NO shuffle; the tight-loop
   *  [[graft.functions.KmeansAssignMicro]] expression does the argmin
   *  without per-row allocation. Magnitude contract: |x| ≤ ~1.5e3 per
   *  dimension keeps `d · (2·1.5e9)²` under Long range; embedding
   *  coordinates (|x| ≤ O(1)) are far inside it. */
  def kmeansAssign(microVec: Column, cents: Array[Array[Long]]): Column =
    ColumnShim.column(graft.functions.KmeansAssignMicro(
      ColumnShim.expr(microVec), cents))

  /**
   * Full Lloyd's k-means over an embedding column, hash-certifiable:
   * coordinates quantize to 1e-6-unit BIGINTs up front and every step
   * is exact integer arithmetic — squared-Euclidean distances are
   * BIGINT sums, centroid updates are `sum DIV n` (truncating integer
   * division, identical to DuckDB's `//`) — so the fixed point is
   * bit-identical across engines, partitionings and reruns, unlike
   * any double-precision k-means.
   *
   * Seeding is content-stable: the k rows with the smallest ids. An
   * emptied cluster keeps its previous centroid (standard Lloyd
   * fallback, replayable in SQL via COALESCE).
   *
   * Scale shape (the only one that survives 100 TB):
   *  - E-step: [[kmeansAssign]] against the broadcast-literal centroid
   *    table — a narrow map, no shuffle, no vector payload movement.
   *  - M-step: posexplode → ONE partial-aggregating groupBy on
   *    (cluster, dim) — exactly [[groupCentroidsMicro]]'s shape; the
   *    exchange carries ≤ k·d rows per partition and k·d result rows
   *    reach the driver (k, d are model constants, not data-sized).
   *  - The quantized input is persisted once and freed at the end;
   *    per-iteration work is one scan + one bounded-key aggregate.
   *
   * Returns (id, cluster) for `iters` centroid updates followed by a
   * final assignment. The companion [[kmeansCentroidsMicro]] exposes
   * the fitted centroid table itself.
   */
  def kmeansMicro(df: DataFrame, id: Column, vec: Column,
      k: Int = 8, iters: Int = 2): DataFrame = {
    val (out, _) = kmeansFit(df, id, vec, k, iters)
    out
  }

  /** Fitted centroid table of [[kmeansMicro]] as (cluster, dim,
   *  centroid_micro) rows — k·d rows, broadcastable by construction. */
  def kmeansCentroidsMicro(df: DataFrame, id: Column, vec: Column,
      k: Int = 8, iters: Int = 2): DataFrame = {
    val (assigned, cents) = kmeansFit(df, id, vec, k, iters)
    assigned.sparkSession.createDataFrame(
      cents.zipWithIndex.flatMap { case (c, ci) =>
        c.zipWithIndex.map { case (x, d) => (ci, d, x) }
      }.toIndexedSeq).toDF("cluster", "dim", "centroid_micro")
  }

  /**
   * Lloyd's loop run to the exact fixed point: because every update is
   * integer arithmetic, "converged" is bit-equality of consecutive
   * centroid tables — no epsilon tuning, and the fixed point is
   * reached in finitely many steps (the within-cluster integer SSE is
   * non-increasing). Runs at most `maxIters` centroid updates; returns
   * the assignments plus the number of updates that changed the
   * centroids. Same per-iteration shapes as [[kmeansFit]].
   */
  def kmeansConverged(df: DataFrame, id: Column, vec: Column,
      k: Int = 8, maxIters: Int = 20): (DataFrame, Int) = {
    require(maxIters >= 1, "bad kmeans geometry")
    kmeansLoop(df, id, vec, k, maxIters, stopAtFixedPoint = true)
      match { case (out, _, used) => (out, used) }
  }

  /** Shared fit loop: (final assignments (id, cluster), centroids). */
  def kmeansFit(df: DataFrame, id: Column, vec: Column,
      k: Int, iters: Int): (DataFrame, Array[Array[Long]]) = {
    val (out, cents, _) = kmeansLoop(df, id, vec, k, iters, stopAtFixedPoint = false)
    (out, cents)
  }

  private def kmeansLoop(df: DataFrame, id: Column, vec: Column,
      k: Int, iters: Int, stopAtFixedPoint: Boolean):
      (DataFrame, Array[Array[Long]], Int) = {
    require(k >= 1 && iters >= 0, "bad kmeans geometry")
    val base = df.select(id.cast("long").as("id"), microVec(vec).as("__mv"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // seeds: k smallest ids — content-stable, an ORDER BY id LIMIT k
    // in any engine (k rows to the driver, model-constant-sized)
    var cents: Array[Array[Long]] = base.orderBy(col("id")).limit(k)
      .collect().map(_.getSeq[Long](1).toArray)
    require(cents.length == k, s"need >= $k rows to seed $k clusters")
    var used = 0
    var it = 0
    var fixed = false
    while (it < iters && !fixed) {
      it += 1
      val stats = base
        .select(kmeansAssign(col("__mv"), cents).as("c"),
          posexplode(col("__mv")).as(Seq("d", "x")))
        .groupBy("c", "d")
        .agg(count(lit(1)).as("n"), sum(col("x")).as("s"))
        .collect() // k·d rows — model-sized, never data-sized
      val next = cents.map(_.clone()) // emptied cluster keeps its centroid
      stats.foreach { r =>
        next(r.getInt(0))(r.getInt(1)) = r.getLong(3) / r.getLong(2)
      }
      if (stopAtFixedPoint && java.util.Arrays.deepEquals(
          next.asInstanceOf[Array[AnyRef]], cents.asInstanceOf[Array[AnyRef]]))
        fixed = true // assignments can't change either — stop
      else { cents = next; used += 1 }
    }
    val out = base.select(col("id"), kmeansAssign(col("__mv"), cents).as("cluster"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    out.count() // materialize before freeing the quantized input
    base.unpersist(blocking = false)
    (out, cents, used)
  }
}
