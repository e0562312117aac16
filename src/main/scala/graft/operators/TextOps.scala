package graft.operators

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/**
 * Text analysis operators for training-data pipelines: token counting,
 * quality scoring, language identification, all as codegen-friendly
 * built-in compositions (no UDFs, no JTS — these run in the hot path
 * of 100 TB document scans).
 */
object TextOps {

  /** Whitespace token count. */
  def tokenCount(text: Column): Column =
    size(split(trim(text), "\\s+"))

  /** BPE-ish subword count estimate: word-piece regex (letter runs,
   *  digit runs, single punctuation marks), the standard cheap proxy
   *  for LLM token counts without a vocab file. */
  def subwordCount(text: Column): Column =
    size(regexp_extract_all(text, lit("[A-Za-z]+|[0-9]|[^A-Za-z0-9\\s]"), lit(0)))

  /** Lowercased whitespace tokens. */
  def tokens(text: Column): Column = split(lower(trim(text)), "\\s+")

  // ---- PII detection / redaction (training-data compliance pass) -----
  // Patterns stay in the RE2 ∩ java.util.regex common subset (no
  // lookarounds, ASCII classes) so the same text matches identically in
  // Spark and in external engines replaying the pipeline.
  private val UrlRe = "https?://[^\\s]+"
  private val EmailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  private val SsnRe = "\\b\\d{3}-\\d{2}-\\d{4}\\b"
  private val Ipv4Re = "\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b"
  // separators required: a bare 10-digit run is more often an id than a
  // phone number in web corpora
  private val PhoneRe = "\\(?\\d{3}\\)?[ .-]\\d{3}[ .-]\\d{4}\\b"

  private def countOf(text: Column, re: String): Column =
    size(regexp_extract_all(text, lit(re), lit(0)))

  def urlCount(text: Column): Column = countOf(text, UrlRe)
  def emailCount(text: Column): Column = countOf(text, EmailRe)
  def ssnCount(text: Column): Column = countOf(text, SsnRe)
  def ipv4Count(text: Column): Column = countOf(text, Ipv4Re)
  def phoneCount(text: Column): Column = countOf(text, PhoneRe)

  // ---- URL / domain analysis (C4-style source filtering) ------------
  // Host = everything after the scheme up to the first of /:?#, port
  // stripped by the same class, lowercased, leading "www." dropped —
  // the normalization C4/CC-Net use before blocklist matching so that
  // http://WWW.Example.com:8080/x and https://example.com/y count as
  // one source. Stays in the RE2 ∩ java.util.regex subset.
  private val HostRe = "https?://([^/:?#\\s]+)"

  /** Normalized registrable host of one URL ('' when no URL parses). */
  def extractDomain(url: Column): Column =
    regexp_replace(lower(regexp_extract(url, HostRe, 1)), "^www\\.", "")

  /** Normalized domains of every URL in a document, duplicates kept
   *  (frequency matters for per-source accounting). */
  def urlDomains(text: Column): Column =
    transform(regexp_extract_all(text, lit(UrlRe), lit(0)),
      u => extractDomain(u))

  /** True when any URL in the document resolves to a blocklisted
   *  domain — the C4 source-filter gate. The blocklist is a literal
   *  array (broadcast with the plan; corpus-scale lists belong in a
   *  broadcast join over [[urlDomains]] exploded). */
  def hasBlockedDomain(text: Column, blocklist: Seq[String]): Column =
    arrays_overlap(urlDomains(text), array(blocklist.map(lit): _*))

  /** True when any PII detector fires — the cheap document-level gate
   *  (route to redaction/review instead of scanning five times). */
  def hasPii(text: Column): Column =
    (emailCount(text) + ssnCount(text) + ipv4Count(text) + phoneCount(text)) > 0

  /** Redact detected PII with typed placeholder tokens. URL masks
   *  first (URLs may embed user@host, which the email pattern would
   *  half-match); then email, SSN, IPv4, phone. Pure regexp_replace
   *  chain — codegen, single pass per pattern. */
  def maskPii(text: Column): Column = {
    val u = regexp_replace(text, UrlRe, "<URL>")
    val e = regexp_replace(u, EmailRe, "<EMAIL>")
    val s = regexp_replace(e, SsnRe, "<SSN>")
    val i = regexp_replace(s, Ipv4Re, "<IP>")
    regexp_replace(i, PhoneRe, "<PHONE>")
  }

  private def ratio(num: Column, den: Column): Column =
    when(den > 0, num.cast("double") / den).otherwise(lit(0.0))

  /** Fraction of characters that are punctuation/symbols. */
  def punctRatio(text: Column): Column =
    ratio(length(regexp_replace(text, "[A-Za-z0-9\\s]", "")), length(text))

  /** Fraction of characters that are digits. */
  def digitRatio(text: Column): Column =
    ratio(length(text) - length(regexp_replace(text, "[0-9]", "")), length(text))

  /** Mean word length. */
  def meanWordLength(text: Column): Column =
    ratio(length(regexp_replace(text, "\\s", "")), tokenCount(text))

  private val enStop = Seq("the", "a", "of", "and", "to", "in", "is", "that", "it", "for")
  private val stopwords: Map[String, Seq[String]] = Map(
    "en" -> enStop,
    "de" -> Seq("der", "die", "das", "und", "ist", "nicht", "ein", "mit", "auf", "für"),
    "fr" -> Seq("le", "la", "les", "et", "est", "une", "pour", "dans", "que", "pas"),
    "es" -> Seq("el", "la", "los", "y", "es", "una", "para", "en", "que", "no"),
    "it" -> Seq("il", "la", "di", "e", "che", "un", "per", "non", "sono", "con"))

  /** Fraction of tokens that are (English) stopwords — a standard
   *  fluency signal (C4/Gopher-style quality filters). */
  def stopwordRatio(text: Column): Column = {
    val toks = tokens(text)
    ratio(size(filter(toks, t => t.isin(enStop: _*))), size(toks))
  }

  /** Corpus vocabulary: the `k` most frequent lowercased whitespace
   *  tokens with counts, deterministically tie-broken on the token.
   *  Plan shape at 100 TB: explode → partial/final count aggregate →
   *  `TakeOrderedAndProject` (each partition keeps only its top k, the
   *  driver merges k·partitions rows — no global sort shuffle). */
  def topTokens(df: org.apache.spark.sql.DataFrame, text: Column, k: Int = 100): org.apache.spark.sql.DataFrame =
    df.select(explode(tokens(text)).as("token"))
      .filter(length(col("token")) > 0)
      .groupBy("token").agg(count(lit(1)).as("cnt"))
      .orderBy(col("cnt").desc, col("token").asc)
      .limit(k)

  /** All word n-grams of a document in order, duplicates KEPT (unlike
   *  the dedup shingles — frequency is the signal here); a document
   *  with fewer than `n` tokens yields its whole token run as one
   *  gram. */
  def wordNgrams(text: Column, n: Int = 2): Column = {
    val toks = tokens(text)
    transform(sequence(lit(1), greatest(size(toks) - (n - 1), lit(1))),
      i => concat_ws(" ", slice(toks, i, lit(n))))
  }

  /** Corpus n-gram frequency table (gram, cnt), pruned to
   *  cnt ≥ `minCount`. One explode + map-side-combined count — the
   *  grouped key space is distinct grams, far smaller than the
   *  exploded corpus. `minCount` > 1 is the vocabulary-pruning knob
   *  that makes the table broadcastable for the scoring join. */
  def ngramCounts(df: org.apache.spark.sql.DataFrame, text: Column,
      n: Int = 2, minCount: Long = 1): org.apache.spark.sql.DataFrame =
    df.select(explode(wordNgrams(text, n)).as("gram"))
      .groupBy("gram").agg(count(lit(1)).as("cnt"))
      .filter(col("cnt") >= minCount)

  /**
   * N-gram frequency LM score per document — the cheap distributed
   * analog of CC-Net's KenLM perplexity filter. Each gram scores
   * ln(cnt/total) against the corpus table (`total` = Σcnt of the
   * table as given); grams pruned or unseen take the floor
   * probability 1/total. Per-gram log-probs are rounded to 6 decimals
   * and summed as exact 1e-6-unit BIGINTs, so the per-doc sum is
   * independent of aggregation order (a raw double sum would diverge
   * across partitionings AND engines). Returns
   * (id, n_grams, lp_micro); avg log-prob = lp_micro/n_grams/1e6,
   * perplexity = exp(-avg).
   *
   * Scale shape: the scoring join (exploded grams ⋈ counts on the
   * gram STRING — never a 32-bit hash, collisions would manufacture
   * probability mass) is shuffled big-big by default; hot common
   * grams skew the probe side and AQE splits them (same argument as
   * the grid-join hot cells). `broadcastCounts = true` makes it
   * exchange-free when the pruned vocabulary is bounded — with any
   * real `minCount` the count table is millions of rows against a
   * corpus of billions, which is exactly the broadcast case.
   */
  def ngramLogProb(df: org.apache.spark.sql.DataFrame, id: Column, text: Column,
      counts: org.apache.spark.sql.DataFrame, n: Int = 2,
      broadcastCounts: Boolean = false): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.functions.{broadcast => bcast}
    // `total` is a grouping-key-free aggregate — exactly ONE row by
    // construction — so the broadcast cross that attaches it is O(n)
    // and scale-safe (PlanAuditSpec whitelists this query for the same
    // reason it whitelists the PQ query×centroid crosses). A constant-
    // key equi-join does not avoid the BNLJ: Catalyst constant-folds
    // the literal key out of the join condition.
    val total = counts.agg(sum(col("cnt")).cast("double").as("__total"))
    val grams = df.select(id.as("id"), explode(wordNgrams(text, n)).as("__g"))
    val cSide = if (broadcastCounts) bcast(counts) else counts
    val lp = round(log(coalesce(col("cnt").cast("double"), lit(1.0)) / col("__total")) * 1e6, 0)
      .cast("long")
    grams.join(cSide, col("__g") === col("gram"), "left")
      .crossJoin(bcast(total))
      .select(col("id"), lp.as("__lp"))
      .groupBy("id")
      .agg(count(lit(1)).as("n_grams"), sum(col("__lp")).as("lp_micro"))
  }

  /**
   * Stupid-backoff trigram LM scoring — the web-scale backoff of
   * Brants et al. 2007 ("Large Language Models in Machine
   * Translation"): no discounting, a fixed multiplier α per backoff
   * level. Per scored position (every word trigram of the document):
   *
   *   S(w₃|w₁w₂) = c(w₁w₂w₃)/c(w₁w₂)          when the trigram survives pruning
   *              = α · c(w₂w₃)/c(w₂)           else, when the bigram survives
   *              = α² · c(w₃)/N                else (unseen w₃ floors at α²·1/N)
   *
   * ln(S) is rounded to 1e-6 and summed as exact BIGINT micro-units
   * per document (aggregation-order-free, hash-certifiable — the
   * [[ngramLogProb]] discipline). Returns (id, n_scored, sb_micro);
   * avg ln-score = sb_micro/n_scored/1e6.
   *
   * Scale shape: the three count tables come from one explode each
   * with map-side combine; `minCount` pruning (on bi/tri — unigrams
   * stay unpruned, they are the floor) bounds them to vocabulary
   * size, which is the broadcast case (`broadcastCounts`): five
   * broadcast hash joins on the exploded trigram stream, zero
   * corpus shuffles before the per-doc aggregate. This is exactly
   * why Brants replaced Kneser-Ney at web scale — backoff scoring is
   * embarrassingly parallel over positions; discount estimation is
   * not.
   */
  def stupidBackoff(
      df: org.apache.spark.sql.DataFrame, id: Column, text: Column,
      train: org.apache.spark.sql.DataFrame, trainText: Column,
      alpha: Double = 0.4, minCount: Long = 2,
      broadcastCounts: Boolean = true): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.functions.{broadcast => bcast}
    require(alpha > 0 && alpha <= 1, s"alpha must be in (0, 1], got $alpha")
    val uni = ngramCounts(train, trainText, 1, 1L)
    val bi = ngramCounts(train, trainText, 2, minCount)
    val tri = ngramCounts(train, trainText, 3, minCount)
    val total = uni.agg(sum(col("cnt")).cast("double").as("__N"))
    def side(c: org.apache.spark.sql.DataFrame, key: String, cnt: String) = {
      val r = c.select(col("gram").as(key), col("cnt").as(cnt))
      if (broadcastCounts) bcast(r) else r
    }
    val pos = df.select(id.as("id"), explode(wordNgrams(text, 3)).as("__t3"))
      .withColumn("__p", split(col("__t3"), " "))
      .select(col("id"), col("__t3"),
        concat_ws(" ", col("__p")(0), col("__p")(1)).as("__bictx"),
        concat_ws(" ", col("__p")(1), col("__p")(2)).as("__bi"),
        col("__p")(1).as("__unictx"), col("__p")(2).as("__uni"))
    // the score expressions keep the SAME operation order as the
    // oracle SQL (ratio built first, single ln) so the 1e-6 rounding
    // sees bit-identical doubles on both engines
    val lp = when(col("__tc").isNotNull && col("__bcc").isNotNull,
        log(col("__tc").cast("double") / col("__bcc").cast("double")))
      .when(col("__bc").isNotNull && col("__ucc").isNotNull,
        log(lit(alpha) * col("__bc").cast("double") / col("__ucc").cast("double")))
      .otherwise(
        log(lit(alpha * alpha) * coalesce(col("__uc"), lit(1L)).cast("double") / col("__N")))
    pos
      .join(side(tri, "__kt", "__tc"), col("__t3") === col("__kt"), "left")
      .join(side(bi, "__kbc", "__bcc"), col("__bictx") === col("__kbc"), "left")
      .join(side(bi, "__kb", "__bc"), col("__bi") === col("__kb"), "left")
      .join(side(uni, "__kuc", "__ucc"), col("__unictx") === col("__kuc"), "left")
      .join(side(uni, "__ku", "__uc"), col("__uni") === col("__ku"), "left")
      .crossJoin(bcast(total))
      .select(col("id"), round(lp * 1e6, 0).cast("long").as("__lp"))
      .groupBy("id")
      .agg(count(lit(1)).as("n_scored"), sum(col("__lp")).as("sb_micro"))
  }

  /**
   * Overlapping token-window chunking (the embedding/RAG ingestion
   * primitive: long documents become `size`-token windows every
   * `stride` tokens, so context survives window boundaries). Pure
   * expression composition — split, explode over the window index
   * range, slice — so the 100 TB shape is a narrow map with fanout
   * ~ntok/stride and NO shuffle; each chunk row carries only its own
   * tokens. Window k covers tokens [k*stride, k*stride+size); the last
   * window starts at the smallest k*stride reaching the tail.
   * Output: id, chunk_idx, n_tok, chunk_text.
   */
  def chunkTokens(df: org.apache.spark.sql.DataFrame, id: Column, text: Column,
      chunkSize: Int = 256, stride: Int = 192): org.apache.spark.sql.DataFrame = {
    require(chunkSize >= 1 && stride >= 1 && stride <= chunkSize, "bad chunk geometry")
    val base = df.select(id.as("id"), split(trim(text), "\\s+").as("__toks"))
      .withColumn("__ntok", size(col("__toks")))
    val lastK = when(col("__ntok") <= chunkSize, lit(0))
      .otherwise(floor((col("__ntok") - chunkSize + stride - 1) / stride).cast("int"))
    base.withColumn("chunk_idx", explode(sequence(lit(0), lastK)))
      .withColumn("n_tok", least(lit(chunkSize), col("__ntok") - col("chunk_idx") * stride))
      .withColumn("chunk_text",
        concat_ws(" ", slice(col("__toks"), col("chunk_idx") * stride + 1, col("n_tok"))))
      .select(col("id"), col("chunk_idx"), col("n_tok"), col("chunk_text"))
  }

  /**
   * Corpus vocabulary with dense ids: top-`k` tokens by (count desc,
   * token asc), id = 1-based rank. Deterministic across engines and
   * reruns (exact counts, total tie order). The frame is k rows —
   * broadcastable by construction.
   */
  def buildVocab(df: org.apache.spark.sql.DataFrame, text: Column,
      k: Int = 200): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.expressions.Window
    topTokens(df, text, k)
      .withColumn("tid", row_number().over(
        Window.orderBy(col("cnt").desc, col("token").asc)))
      .select("token", "tid")
  }

  /**
   * Vocabulary application (the tokenizer-apply step): every document
   * becomes its ordered token-id sequence; unknown tokens map to 0.
   * Scale shape: posexplode → broadcast hash join against the k-row
   * vocab → one groupBy(id) that re-assembles the sequence via
   * array_sort on (pos, tid) structs — the document's ids are the only
   * per-doc state, order restored without a window. Returns
   * (id, n_tok, n_unk, ids) with `ids` the ordered id array.
   */
  def applyVocab(df: org.apache.spark.sql.DataFrame, id: Column, text: Column,
      vocab: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.functions.{broadcast => bcast}
    val flat = df.select(id.as("id"), posexplode(tokens(text)).as(Seq("pos", "token")))
    flat.join(bcast(vocab), Seq("token"), "left")
      .select(col("id"), col("pos"), coalesce(col("tid"), lit(0)).as("tid"))
      .groupBy("id")
      .agg(count(lit(1)).as("n_tok"),
        sum(when(col("tid") === 0, 1L).otherwise(0L)).as("n_unk"),
        transform(array_sort(collect_list(struct(col("pos"), col("tid")))),
          x => x.getField("tid")).as("ids"))
  }

  /**
   * Filter-funnel accounting: for an ordered chain of quality gates,
   * how many documents survive each prefix of the chain (the report
   * every corpus-curation run ships with). ONE scan — the running
   * conjunctions are computed as conditional-sum aggregates, so at
   * 100 TB this is a single pass with map-side partial aggregation and
   * a 1-row result, instead of N filtered sub-scans (the naive
   * formulation reads the corpus once per stage).
   * Returns one row: n_total plus one survivor count per stage name.
   */
  def filterFunnel(df: org.apache.spark.sql.DataFrame,
      stages: Seq[(String, Column)]): org.apache.spark.sql.DataFrame = {
    require(stages.nonEmpty, "funnel needs at least one stage")
    val running = stages.scanLeft(lit(true)) { case (acc, (_, c)) => acc && c }.tail
    val aggs = count(lit(1)).as("n_total") +:
      stages.zip(running).map { case ((name, _), cond) =>
        sum(when(cond, 1L).otherwise(0L)).as(name)
      }
    df.agg(aggs.head, aggs.tail: _*)
  }

  /**
   * TF-IDF top terms per group (source/domain keyword profiles — the
   * standard corpus-characterization pass over a crawl). Terms are
   * lowercase alpha runs of >= 2 chars; `tf` counts occurrences within
   * the group, `df` counts distinct documents containing the term,
   * idf = ln((N+1)/(df+1)) with N = distinct documents. Scores are
   * exact BIGINT micro-units (`tf * round6(idf) * 1e6`) so ranking is
   * aggregation-order-free and replays identically in other engines.
   *
   * Scale shape: one explode feeds two partial-aggregating groupBys
   * (group×term tf, term df) whose key spaces are vocabulary-sized —
   * far smaller than the exploded corpus; the tf⋈idf join and the
   * final per-group ranking window both run on that reduced
   * vocabulary frame, never on corpus-cardinality data. N is a 1-row
   * scalar stat (same contract as the other scalar stats).
   */
  def tfIdfTopTerms(df: org.apache.spark.sql.DataFrame, docId: Column, text: Column,
      group: Column, k: Int = 20): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val toks = df.select(docId.as("__id"), group.as("grp"),
      explode(regexp_extract_all(lower(text), lit("[a-z]{2,}"), lit(0))).as("term"))
    val nDocs = df.select(docId).distinct().count()
    val tf = toks.groupBy("grp", "term").agg(count(lit(1)).as("tf"))
    val dfreq = toks.select(col("__id"), col("term")).distinct()
      .groupBy("term").agg(count(lit(1)).as("df"))
    val idfMicro = round(log(lit(nDocs + 1.0) / (col("df") + 1.0)) * 1e6, 0).cast("long")
    val scored = tf.join(dfreq, "term")
      .select(col("grp"), col("term"), col("tf"), col("df"),
        (col("tf") * idfMicro).as("score_micro"))
    val w = Window.partitionBy("grp").orderBy(col("score_micro").desc, col("term").asc)
    scored.withColumn("rank", row_number().over(w)).filter(col("rank") <= k)
  }

  /**
   * Per-document character-level Shannon entropy in exact 1e-6-unit
   * BIGINTs — the gibberish/degenerate-content signal (natural text
   * sits ~3.5-4.5 bits/char in nats here; base64 blobs and repeated
   * filler fall far outside). Each distinct character contributes
   * round6(−(c/n)·ln(c/n)) and the per-doc sum is order-free, so the
   * score is engine- and partitioning-stable. Scale shape: one
   * per-char explode into a (doc, char) partial-aggregating groupBy
   * (state bounded by alphabet size per doc), lengths join back on
   * the doc key. Output: (id, n_chars, entropy_micro).
   */
  def charEntropyMicro(df: org.apache.spark.sql.DataFrame, id: Column,
      text: Column): org.apache.spark.sql.DataFrame = {
    val lens = df.select(id.as("id"), length(text).as("n_chars"))
    val terms = df.select(id.as("id"), explode(split(text, "")).as("ch"))
      .filter(length(col("ch")) > 0)
      .groupBy("id", "ch").agg(count(lit(1)).as("c"))
    val p = col("c").cast("double") / col("n_chars").cast("double")
    val term = round(-(p * log(p)) * 1e6, 0).cast("long")
    lens.join(terms, Seq("id"), "left")
      .select(col("id"), col("n_chars"), when(col("c").isNull, lit(0L))
        .otherwise(term).as("__t"))
      .groupBy("id", "n_chars").agg(sum(col("__t")).as("entropy_micro"))
  }

  /** Unicode NFC canonical composition (matches DuckDB's
   *  nfc_normalize; ASCII short-circuits). */
  def nfc(text: Column): Column =
    org.apache.spark.sql.graft.ColumnShim.column(
      graft.functions.NfcNormalize(
        org.apache.spark.sql.graft.ColumnShim.expr(text)))

  /**
   * Standard text-cleaning pass for crawl ingestion: NFC canonical
   * composition, control characters stripped (tab/newline kept),
   * horizontal whitespace runs collapsed, edges trimmed. The regex
   * classes stay in the RE2 ∩ java.util.regex subset (explicit hex
   * ranges, no Java-only class intersections) so the pass replays
   * identically in other engines. Pure narrow map, codegen-friendly
   * except the NFC expression (which short-circuits on ASCII).
   */
  def normalizeText(text: Column): Column =
    trim(regexp_replace(
      regexp_replace(nfc(text),
        "[\\x00-\\x08\\x0B\\x0C\\x0E-\\x1F\\x7F]", ""),
      "[ \\t]+", " "))

  /**
   * Linear text-classifier APPLY pass (the fastText-style quality/
   * toxicity filter shape every curation pipeline runs at full corpus
   * scale — training happens offline, scoring is the 100 TB job):
   * tokens hash into `weights.length` buckets (same md5-derived
   * bucketing as [[Sampling.hashBucket]] — engine-replayable), the
   * score is bias + Σ w[bucket(token)] in exact order-free micro-unit
   * BIGINTs, and `prob` = round6(sigmoid(score)). The weight table is
   * a broadcast literal; the whole pass is a narrow map with NO
   * shuffle. Output: (id, n_tok, score_micro, prob, label).
   */
  def linearTextScore(df: org.apache.spark.sql.DataFrame, id: Column, text: Column,
      weightsMicro: Array[Long], biasMicro: Long = 0L): org.apache.spark.sql.DataFrame = {
    require(weightsMicro.nonEmpty, "empty weight table")
    val n = weightsMicro.length
    val wLit = array(weightsMicro.map(lit(_)): _*)
    val toks = regexp_extract_all(lower(text), lit("[a-z]{2,}"), lit(0))
    val bucket = (t: Column) =>
      conv(substring(md5(t), 1, 8), 16, 10).cast("long") % n
    val score = aggregate(toks, lit(biasMicro),
      (acc, t) => acc + element_at(wLit, (bucket(t) + 1).cast("int")))
    df.select(id.as("id"), size(toks).as("n_tok"), score.as("score_micro"))
      .withColumn("prob",
        round(lit(1.0) / (lit(1.0) + exp(-(col("score_micro").cast("double") / 1e6))), 6))
      .withColumn("label", (col("score_micro") >= 0).as("label"))
  }

  /**
   * Linear text-classifier TRAINING pass: exact-integer batch
   * perceptron. Each iteration is ONE partial-aggregating scan of the
   * corpus — per feature j, the misclassified update
   * Σ_{pred≠y} y·x_j — with the weight vector held on the driver
   * (model-sized, same contract as kmeans centroids). Everything is
   * BIGINT: prediction is `w·x > 0` (ties predict −1) and updates are
   * integer sums, so the recurrence is summation-order-free and a SQL
   * oracle replicates it bit-exactly as unrolled CTEs (the
   * pagerank/kmeans exact-integer pattern). Labels must be ±1.
   * Complements [[linearTextScore]] (the apply pass): train in-engine
   * on labeled features, then score the full corpus with the result.
   *
   * @return (weights after `iters` iterations, training errors under
   *         the final weights)
   */
  def perceptronFit(df: org.apache.spark.sql.DataFrame,
      features: Seq[Column], label: Column, iters: Int): (Array[Long], Long) = {
    require(features.nonEmpty && iters >= 0, "perceptronFit: features and iters >= 0")
    val n = features.length
    val cols = features.zipWithIndex.map { case (c, j) => c.cast("long").as(s"x$j") }
    val feats = df.select(cols :+ label.cast("long").as("y"): _*)
    def dot(w: Array[Long]) =
      (0 until n).map(j => col(s"x$j") * lit(w(j))).reduce(_ + _)
    def pred(w: Array[Long]) = when(dot(w) > 0, 1L).otherwise(-1L)
    var w = Array.fill(n)(0L)
    for (_ <- 0 until iters) {
      val g = feats.select((0 until n).map(j =>
        sum(when(pred(w) =!= col("y"), col("y") * col(s"x$j")).otherwise(0L)).as(s"g$j")): _*)
        .head()
      w = Array.tabulate(n)(j => w(j) + (if (g.isNullAt(j)) 0L else g.getLong(j)))
    }
    val errs = feats.agg(sum(when(pred(w) =!= col("y"), 1L).otherwise(0L))).head()
    (w, if (errs.isNullAt(0)) 0L else errs.getLong(0))
  }

  /**
   * Collocation mining by pointwise mutual information — the phrase
   * discovery pass (which adjacent word pairs co-occur far more than
   * chance predicts). PMI = ln((c_xy/T_bi) / ((c_x/T_uni)·(c_y/T_uni)))
   * rounded to 1e-6-unit BIGINTs; `minCount` prunes the unstable rare
   * tail (PMI's classic failure mode), and the result is the global
   * top-`k` by (pmi desc, pair asc).
   *
   * Scale shape: unigram and bigram counts are vocabulary-sized
   * partial-aggregating groupBys off one tokenized scan each; the
   * unigram table joins onto the (pruned) bigram table twice —
   * broadcastable by construction; totals are 1-row scalar stats.
   * The final global top-k is TakeOrderedAndProject (no full sort).
   */
  def collocations(df: org.apache.spark.sql.DataFrame, text: Column,
      minCount: Long = 5, k: Int = 50): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.functions.{broadcast => bcast}
    val t = tokens(text)
    val bigrams = flatten(transform(array(t), tv =>
      when(size(tv) >= 2, transform(sequence(lit(1), size(tv) - 1), i =>
        struct(element_at(tv, i).as("w1"), element_at(tv, i + 1).as("w2"))))
        .otherwise(array().cast("array<struct<w1:string,w2:string>>"))))
    val uni = df.select(explode(t).as("w")).groupBy("w").agg(count(lit(1)).as("c"))
    val bi = df.select(explode(bigrams).as("b"))
      .groupBy(col("b.w1").as("w1"), col("b.w2").as("w2"))
      .agg(count(lit(1)).as("cxy"))
    val Array(tu, tb) = Seq(uni.agg(sum(col("c"))), bi.agg(sum(col("cxy"))))
      .map(_.collect()(0).getLong(0)).toArray
    val pmiMicro = round(log(
      (col("cxy").cast("double") / lit(tb.toDouble)) /
        ((col("c1").cast("double") / lit(tu.toDouble))
          * (col("c2").cast("double") / lit(tu.toDouble)))) * 1e6, 0).cast("long")
    bi.filter(col("cxy") >= minCount)
      .join(bcast(uni.select(col("w").as("w1"), col("c").as("c1"))), "w1")
      .join(bcast(uni.select(col("w").as("w2"), col("c").as("c2"))), "w2")
      .select(col("w1"), col("w2"), col("cxy"), pmiMicro.as("pmi_micro"))
      .orderBy(col("pmi_micro").desc, col("w1").asc, col("w2").asc)
      .limit(k)
  }

  /**
   * Positional inverted index — the search-index build pass (the
   * artifact BM25/phrase search serve from). One row per (term,
   * doc_id) posting: tf and the ordered 0-based token positions
   * within the document. `minDf`/`maxDf` bound the indexed vocabulary
   * (df < minDf drops hapax noise, df > maxDf drops stopwords — the
   * standard index-pruning dials; 0 disables either).
   *
   * Scale shape: positions come from ONE posexplode of the tokenized
   * scan; the (term, doc) groupBy partial-aggregates and its state is
   * bounded by document length (positions stay within their own
   * posting row — never a corpus-sized array). The df gate is a
   * vocabulary-sized aggregate joined back onto postings; at corpus
   * scale that frame broadcasts. Postings land sorted by nothing —
   * write them bucketed/sorted by term for serving locality.
   */
  def invertedIndex(df: org.apache.spark.sql.DataFrame, id: Column, text: Column,
      minDf: Long = 0, maxDf: Long = 0): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.functions.{broadcast => bcast}
    val toks = df.select(id.as("doc_id"),
      posexplode(regexp_extract_all(lower(text), lit("[a-z]{2,}"), lit(0)))
        .as(Seq("pos", "term")))
    val postings = toks.groupBy("term", "doc_id")
      .agg(count(lit(1)).as("tf"),
        sort_array(collect_list(col("pos"))).as("positions"))
    if (minDf <= 0 && maxDf <= 0) return postings
    val dfreq = postings.groupBy("term").agg(count(lit(1)).as("df"))
      .filter((if (minDf > 0) col("df") >= minDf else lit(true)) &&
              (if (maxDf > 0) col("df") <= maxDf else lit(true)))
    postings.join(bcast(dfreq.select("term", "df")), "term")
  }

  /**
   * Exact phrase search over the positional index: documents
   * containing `phrase`'s terms at consecutive token positions, with
   * occurrence counts. Term i's positions shift left by i and the
   * per-document arrays intersect — an occurrence survives all m
   * intersections iff the full phrase starts at that position.
   *
   * Scale shape: the posting scan filters to the phrase's m terms
   * BEFORE any join (m is query-sized, the filter prunes the
   * vocabulary-keyed index scan), then m-1 doc-keyed equi-joins over
   * those sparse posting rows; position arrays stay inside their own
   * row (intersections are per-row array ops, never an explode).
   * Output: (doc_id, n_occurrences, first_pos).
   */
  def phraseSearch(df: org.apache.spark.sql.DataFrame, id: Column, text: Column,
      phrase: String): org.apache.spark.sql.DataFrame = {
    val terms = "[a-z]{2,}".r.findAllIn(phrase.toLowerCase).toSeq
    require(terms.nonEmpty, "phrase has no indexable terms")
    val postings = invertedIndex(df, id, text)
    def termPos(t: String, shift: Int) =
      postings.filter(col("term") === t)
        .select(col("doc_id"), transform(col("positions"), p => p - shift).as("__p"))
    val first = termPos(terms.head, 0)
    val matched = terms.zipWithIndex.tail.foldLeft(first) { case (acc, (t, i)) =>
      acc.join(termPos(t, i).withColumnRenamed("__p", "__q"), "doc_id")
        .select(col("doc_id"), array_intersect(col("__p"), col("__q")).as("__p"))
        .filter(size(col("__p")) > 0)
    }
    matched.select(col("doc_id"), size(col("__p")).as("n_occurrences"),
      array_min(col("__p")).as("first_pos"))
  }

  /**
   * Okapi BM25 top-k retrieval over a document corpus — the classic
   * lexical search scorer (and the strong baseline every
   * embedding-retrieval pipeline is benchmarked against). Terms are
   * lowercase alpha runs of >= 2 chars, same tokenizer as
   * [[tfIdfTopTerms]].
   *
   * k1 = 1.2 and b = 0.75 are fixed as exact rationals so the whole
   * score is engine-replayable: with T = total corpus tokens and
   * N = doc count, the Okapi term weight
   * `idf · tf·(k1+1) / (tf + k1·(1-b+b·dl·N/T))` multiplies out to
   * `idf_micro · (22·tf·T) / (10·tf·T + 3·T + 9·dl·N)` — numerator
   * and denominator are exact BIGINTs, the single double division is
   * IEEE-correctly rounded (identical in any engine), and each term
   * contribution rounds to a 1e-6-unit BIGINT before the order-free
   * per-(query, doc) sum. idf_micro = round6(ln((N-df+0.5)/(df+0.5)+1))
   * — the RSJ+1 form, always positive. Overflow contract:
   * 22·tf·T < 2^63 (T up to ~4e17 tokens at tf 1e3 — far beyond any
   * single corpus).
   *
   * Scale shape: tokenize once; (doc, term) tf and per-doc dl are
   * partial-aggregating groupBys; query terms and their df/idf rows
   * broadcast onto the tf table (queries are small by construction),
   * so candidate generation is exchange-free; the per-(query, doc)
   * sum partial-aggregates; the final top-k is the bounded
   * [[graft.functions.TopKByScore]] aggregate — ≤ k rows per (query,
   * partition) reach the exchange, never the full posting list.
   * T and N are 1-row scalar stats (same contract as the other
   * scalar-stat operators). Output: (query_id, doc_id, score_micro,
   * rank), rank by (score desc, doc_id asc).
   */
  def bm25TopK(docs: org.apache.spark.sql.DataFrame, docId: Column, text: Column,
      queries: org.apache.spark.sql.DataFrame, queryId: Column, queryText: Column,
      k: Int = 5): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.functions.{broadcast => bcast}
    val toks = docs.select(docId.as("doc_id"),
      explode(regexp_extract_all(lower(text), lit("[a-z]{2,}"), lit(0))).as("term"))
    val tf = toks.groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
    val dl = toks.groupBy("doc_id").agg(count(lit(1)).as("dl"))
    val Array(bigT, nDocs) = dl.agg(sum(col("dl")), count(lit(1)))
      .collect()(0).toSeq.map(_.asInstanceOf[Long]).toArray
    val dfreq = toks.select(col("doc_id"), col("term")).distinct()
      .groupBy("term").agg(count(lit(1)).as("df"))
    val qterms = queries.select(queryId.as("query_id"),
      explode(array_distinct(
        regexp_extract_all(lower(queryText), lit("[a-z]{2,}"), lit(0)))).as("term"))
    // (query_id, term, idf_micro): |queries|·|query terms| rows — tiny
    val idfMicro = round(
      log((lit(nDocs.toDouble) - col("df") + 0.5) / (col("df") + 0.5) + 1.0) * 1e6, 0)
      .cast("long")
    val qstats = qterms.join(dfreq, "term").select(
      col("query_id"), col("term"), idfMicro.as("idf_micro"))
    val termScore = round(
      col("idf_micro").cast("double") * (lit(22L) * col("tf") * lit(bigT)).cast("double")
        / (lit(10L) * col("tf") * lit(bigT) + lit(3L) * lit(bigT)
           + lit(9L) * col("dl") * lit(nDocs)).cast("double"), 0).cast("long")
    val scored = tf.join(bcast(qstats), "term")
      .join(dl, "doc_id")
      .select(col("query_id"), col("doc_id"), termScore.as("__ts"))
      .groupBy("query_id", "doc_id").agg(sum(col("__ts")).as("__sm"))
    scored.groupBy("query_id")
      .agg(org.apache.spark.sql.graft.ColumnShim.column(
        graft.functions.TopKByScore(
          org.apache.spark.sql.graft.ColumnShim.expr(col("__sm").cast("double")),
          org.apache.spark.sql.graft.ColumnShim.expr(col("doc_id").cast("long")),
          k).toAggregateExpression()).as("__tk"))
      .select(col("query_id"), posexplode(col("__tk")))
      .select(col("query_id"), col("col.id").as("doc_id"),
        col("col.score").cast("long").as("score_micro"),
        (col("pos") + lit(1)).as("rank"))
  }

  /** Fraction of non-empty lines that are duplicates of another line —
   *  the Gopher "duplicate line fraction" repetition filter (boiler-
   *  plate / template detection). Pure built-ins, stays in codegen. */
  def duplicateLineFraction(text: Column): Column = {
    val lines = filter(split(text, "\n"), l => length(l) > 0)
    ratio(size(lines) - size(array_distinct(lines)), size(lines))
  }

  /** Fraction of word n-grams taken by the most frequent n-gram — the
   *  Gopher "top n-gram fraction" repetition filter. Single-pass custom
   *  expression ([[graft.functions.TopNgramFraction]]); the SQL-lambda
   *  formulation is O(tokens²) per document. */
  def topNgramFraction(text: Column, n: Int = 2): Column =
    org.apache.spark.sql.graft.ColumnShim.column(
      graft.functions.TopNgramFraction(
        org.apache.spark.sql.graft.ColumnShim.expr(text), n))

  /**
   * Composite quality score in [0,1] (Gopher/C4-style heuristics):
   * rewards stopword presence and sane word lengths, penalizes
   * punctuation/digit/uppercase excess and degenerate repetition.
   */
  def qualityScore(text: Column): Column = {
    val mwl = meanWordLength(text)
    val lengthOk = when(mwl.between(3.0, 10.0), 1.0).otherwise(0.0)
    val stopOk = least(stopwordRatio(text) * 5.0, lit(1.0))
    val punctOk = greatest(lit(1.0) - punctRatio(text) * 4.0, lit(0.0))
    val digitOk = greatest(lit(1.0) - digitRatio(text) * 4.0, lit(0.0))
    val uniqueOk = ratio(size(array_distinct(tokens(text))), tokenCount(text))
    (lengthOk * 0.2 + stopOk * 0.3 + punctOk * 0.2 + digitOk * 0.15 + uniqueOk * 0.15)
  }

  /**
   * N-gram/stopword language ID over {en,de,fr,es} + CJK char-range
   * detection for zh. Returns the language code with the most stopword
   * hits, 'zh' if CJK chars dominate, 'und' if nothing matches.
   */
  def langId(text: Column): Column = {
    val toks = tokens(text)
    val cjk = length(regexp_replace(text, "[^\\u4e00-\\u9fff]", ""))
    val hits = stopwords.map { case (lang, words) =>
      struct(size(filter(toks, t => t.isin(words: _*))).as("hits"), lit(lang).as("lang"))
    }.toSeq
    val best = greatest(hits: _*)
    when(ratio(cjk, length(text)) > 0.25, "zh")
      .when(best.getField("hits") > 0, best.getField("lang"))
      .otherwise("und")
  }

  /** Per-pattern overlapping occurrence counts via one Aho-Corasick
   *  pass (see [[graft.functions.MultiPatternCounts]] for the scale
   *  contract: O(chars + matches) per row regardless of lexicon size,
   *  vs P separate contains/regexp scans). Array aligned to the
   *  pattern order. */
  def patternCounts(text: Column, patterns: Seq[String]): Column = {
    import org.apache.spark.sql.graft.ColumnShim
    ColumnShim.column(graft.functions.MultiPatternCounts(
      ColumnShim.expr(text),
      ColumnShim.expr(array(patterns.map(lit): _*))))
  }

  /**
   * Blocklist accounting (toxicity/boilerplate lexicon gate): per row,
   * total overlapping matches across the lexicon, the number of
   * distinct patterns present, and the sorted CSV of those patterns.
   * Everything downstream of the single automaton pass is codegen'd
   * builtin array algebra — no second text scan.
   */
  def blocklistAccounting(df: org.apache.spark.sql.DataFrame, id: Column,
      text: Column, patterns: Seq[String]): org.apache.spark.sql.DataFrame = {
    val pats = array(patterns.map(lit): _*)
    df.select(id.as("doc_id"), patternCounts(text, patterns).as("__c"))
      .select(col("doc_id"),
        aggregate(col("__c"), lit(0L), (a, x) => a + x).as("n_matches"),
        size(filter(col("__c"), c => c > 0)).cast("long").as("n_pats"),
        array_join(array_sort(filter(
          zip_with(pats, col("__c"), (p, c) => when(c > 0, p)),
          p => p.isNotNull)), ",").as("pats_csv"))
  }
}
