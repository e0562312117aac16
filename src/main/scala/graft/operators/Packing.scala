package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BoundReference, GenericInternalRow, JoinedRow, UnsafeProjection}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.ColumnShim
import org.apache.spark.sql.types.{LongType, StructField, StructType}

/**
 * Sequence packing for LLM pretraining batches: concatenate the corpus
 * in a deterministic seeded shuffle order and cut it into fixed
 * token-budget sequences — each document is assigned the sequence
 * where it STARTS (`seq_id`) and its offset inside it (`seq_offset`),
 * the standard GPT-style pack-and-cut (documents may straddle a cut;
 * the trainer masks across the boundary).
 *
 * Scale shape: the naive formulation is a cumulative sum over ONE
 * global ordering — a single-partition window, the classic driver-
 * funnel mistake at 100 TB. This implementation is a two-pass prefix
 * scan over one sorted plan instead, whose partitions hold consecutive
 * runs of the global order: rows go to the partition their md5 key's
 * leading 32 bits scale to, an id that rises with the key, so no job
 * samples range bounds (md5 is uniform; the bounds are known). Pass 1
 * sums each partition's tokens (numPartitions longs to the driver —
 * scalar stats, not data), pass 2 is a narrow running sum per
 * partition that starts at its partition's prefix offset. Both passes
 * read the same RDD, so the second reads the shuffle's retained map
 * output: one shuffle, no window, no join, nothing persisted.
 *
 * The assignment is CONTENT-STABLE: `seq_id`/`seq_offset` derive from
 * the md5 shuffle order and token counts alone — cuts depend only on
 * prefix sums, not on partition boundaries — so re-running on
 * different cluster sizes, partition counts, or engines reproduces
 * byte-identical packing (the same
 * property [[Sampling]] guarantees for splits, and why the shuffle
 * key is md5 of seed:key, not `rand()`).
 */
object Packing {

  /** Deterministic seeded shuffle-order key: md5("<seed>:<key>").
   *  Content-stable analog of "globally shuffle the corpus". */
  def shuffleKey(key: Column, seed: Long): Column =
    md5(concat_ws(":", lit(seed.toString), key.cast("string")))

  /**
   * Assign `seq_id` / `seq_offset` for pack-and-cut at `budget` tokens
   * per sequence. `tokens` is the per-document token count (e.g.
   * [[TextOps.subwordCount]]); ties in the md5 order break by `key`.
   * A null token count gets null `seq_id`/`seq_offset` and adds no
   * tokens. Runs pass 1 eagerly; the result is computed by pass 2 on
   * each action.
   */
  def packSequences(df: DataFrame, key: Column, tokens: Column, budget: Long,
      seed: Long = 0L): DataFrame = {
    require(budget > 0, "budget must be positive")
    // partition k takes the keys whose leading 32 bits b (the first 8
    // hex digits of the md5) have floor(b·n / 2^32) = k: the id never
    // falls as (__ord, __key) rises, and equal keys share one, so each
    // partition is a consecutive run of the global order. Sorting
    // within partitions then completes Spark's parallel sort.
    val n = df.sparkSession.sessionState.conf.numShufflePartitions
    val sorted = df
      .withColumn("__ord", shuffleKey(key, seed))
      .withColumn("__key", key.cast("string"))
      .withColumn("__tok", tokens.cast("long"))
      .repartitionById(n, shiftright(conv(substring(col("__ord"), 1, 8), 16, 10)
        .cast("long") * n, 32).cast("int"))
      .sortWithinPartitions("__ord", "__key")
    val rows = sorted.queryExecution.toRdd
    val tok = sorted.schema.fieldIndex("__tok")
    // pass 1: one token sum per partition
    val offsets = rows.mapPartitions { it =>
      var s = 0L
      it.foreach(r => if (!r.isNullAt(tok)) s += r.getLong(tok))
      Iterator.single(s)
    }.collect().scanLeft(0L)(_ + _)
    // pass 2: the running sum from the partition's offset. Rows are
    // reused buffers, so each is projected, never held.
    val width = sorted.schema.length
    val outRefs = df.schema.fields.toSeq.zipWithIndex.map { case (f, i) =>
      BoundReference(i, f.dataType, f.nullable)
    } ++ Seq(BoundReference(width, LongType, nullable = true),
      BoundReference(width + 1, LongType, nullable = true))
    val packed = rows.mapPartitionsWithIndex[InternalRow] { (pid, it) =>
      val project = UnsafeProjection.create(outRefs)
      val seq = new GenericInternalRow(2)
      val joined = new JoinedRow(null, seq)
      var start = offsets(pid)
      it.map { r =>
        if (r.isNullAt(tok)) { seq.setNullAt(0); seq.setNullAt(1) }
        else {
          seq.setLong(0, start / budget)
          seq.setLong(1, start % budget)
          start += r.getLong(tok)
        }
        project(joined.withLeft(r))
      }
    }
    ColumnShim.dataFrame(df.sparkSession, packed, StructType(df.schema.fields ++
      Seq(StructField("seq_id", LongType), StructField("seq_offset", LongType))),
      isStreaming = false)
  }

  /**
   * Token-budget corpus subset: the documents that START within the
   * first `budget` tokens of the deterministic shuffled stream — "give
   * me a fair ~N-token slice of the corpus", the standard way to carve
   * a fixed training budget out of a larger pool. Pure composition
   * over [[packSequences]]: a document starts inside the budget iff
   * its global start offset < budget iff its `seq_id` is 0 at this
   * budget — so the subset inherits the distributed two-pass prefix
   * scan and the content-stable (cluster-size-independent) assignment.
   */
  def tokenBudgetSample(df: DataFrame, key: Column, tokens: Column,
      budget: Long, seed: Long = 0L): DataFrame =
    packSequences(df, key, tokens, budget, seed)
      .where(col("seq_id") === 0L)
      .drop("seq_id", "seq_offset")
}
