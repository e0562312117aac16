package graft.streaming

import graft.sources.GeoTableLog
import org.apache.spark.internal.Logging
import org.apache.spark.sql.{DataFrame, SQLContext, SparkSession}
import org.apache.spark.sql.connector.read.streaming.{Offset => OffsetV2, ReadLimit, SupportsAdmissionControl, SupportsTriggerAvailableNow}
import org.apache.spark.sql.execution.streaming.{Offset => OffsetV1, Source}
import org.apache.spark.sql.execution.streaming.runtime.{LongOffset, SerializedOffset}
import org.apache.spark.sql.graft.ColumnShim
import org.apache.spark.sql.functions._
import org.apache.spark.sql.sources.{DataSourceRegister, StreamSourceProvider}
import org.apache.spark.sql.types.{IntegerType, StructField, StructType}

/**
 * Structured Streaming source that tails a GeoTable commit log: each
 * micro-batch is a contiguous range of committed versions, and a
 * version's rows are its immutable staged delta files — so a batch
 * reads exactly the appended bytes, never rescans the table, and
 * replays byte-identically on checkpoint recovery (the files of a
 * committed version never change; offsets are version numbers).
 *
 * This is the streaming face of [[graft.sources.GeoTableChanges]]:
 * where the reference's R-tree WAL replays row deltas privately for
 * crash recovery (duckdb_spatial rtree_index.cpp,
 * test/sql/index/rtree_persistence_wal.test), this source hands the
 * same append stream to a Structured Streaming pipeline — the
 * ingest-side pattern a 100 TB training corpus needs (appendClustered
 * upstream; dedup gates / index refresh / feature extraction
 * downstream) without per-run full scans.
 *
 * Usage:
 * {{{
 *   spark.readStream.format("geotable")
 *     .option("path", dir)
 *     .option("startingVersion", "0" /* or "latest" */)
 *     .option("includeCommitVersion", "true")   // adds _commit_version
 *     .option("skipChangeCommits", "true")      // skip delete/update rewrites
 *     .option("readChangeFeed", "true")         // CDF mode: change rows
 *     .option("maxVersionsPerTrigger", "8")     // bound batch size
 *     .load()
 * }}}
 *
 * Semantics per commit op: `init`/`append` rows are emitted; `compact`
 * preserves the row multiset and is silently skipped; `delete`/`update`
 * rewrites FAIL the stream by default (an append-only reader is
 * otherwise silently wrong) unless `skipChangeCommits=true` (Delta's
 * option name and behavior — the rewrite's versions are skipped whole;
 * consumers that need row-level deletes use the batch change feed).
 * A vacuum rebase / recluster checkpoint renumbers history; a stream
 * whose checkpoint crosses one fails with a re-sync message instead of
 * replaying wrong data (detected by a version hole or the log's latest
 * version falling behind the checkpointed offset — undetectable only
 * if post-rebase commits have already re-reached the old count, which
 * an operational rule of "no vacuum under a live stream" avoids).
 */
class GeoTableSourceProvider extends StreamSourceProvider with DataSourceRegister {
  override def shortName(): String = "geotable"

  private def pathOf(parameters: Map[String, String]): String = {
    val p = parameters.collectFirst { case (k, v) if k.equalsIgnoreCase("path") => v }
    require(p.nonEmpty, "geotable source requires .option(\"path\", ...) or .load(path)")
    p.get.stripSuffix("/")
  }

  override def sourceSchema(sqlContext: SQLContext, schema: Option[StructType],
      providerName: String, parameters: Map[String, String]): (String, StructType) =
    ("geotable", GeoTableSource.schemaFor(
      sqlContext.sparkSession, pathOf(parameters), parameters))

  override def createSource(sqlContext: SQLContext, metadataPath: String,
      schema: Option[StructType], providerName: String,
      parameters: Map[String, String]): Source =
    new GeoTableSource(sqlContext.sparkSession, pathOf(parameters), parameters)
}

object GeoTableSource {
  val CommitVersionCol = "_commit_version"

  private[streaming] def boolOpt(parameters: Map[String, String], name: String): Boolean =
    parameters.collectFirst { case (k, v) if k.equalsIgnoreCase(name) => v }
      .exists(_.trim.equalsIgnoreCase("true"))

  /** The live table schema, plus `_commit_version` when requested; in
   *  change-feed mode (`readChangeFeed=true`) every row carries
   *  `_change_type` AND `_commit_version` (Delta-CDF shape). */
  def schemaFor(spark: SparkSession, base: String,
      parameters: Map[String, String]): StructType = {
    require(!(boolOpt(parameters, "readChangeFeed") &&
        boolOpt(parameters, "skipChangeCommits")),
      "readChangeFeed delivers delete/update rewrites as change rows; " +
        "skipChangeCommits would silently drop them — pick one")
    parameters.collectFirst {
      case (k, v) if k.equalsIgnoreCase("maxVersionsPerTrigger") => v
    }.foreach(v => require(v.trim.toInt > 0,
      s"maxVersionsPerTrigger must be positive, got '$v'"))
    require(!(parameters.keys.exists(_.equalsIgnoreCase("startingVersion")) &&
        parameters.keys.exists(_.equalsIgnoreCase("startingTimestamp"))),
      "set startingVersion OR startingTimestamp, not both")
    val table = spark.read.parquet(base).schema
    if (boolOpt(parameters, "readChangeFeed"))
      StructType(table.fields :+
        StructField(graft.sources.GeoTableChanges.ChangeTypeCol,
          org.apache.spark.sql.types.StringType, nullable = false) :+
        StructField(CommitVersionCol, IntegerType, nullable = false))
    else if (boolOpt(parameters, "includeCommitVersion"))
      StructType(table.fields :+ StructField(CommitVersionCol, IntegerType, nullable = false))
    else table
  }
}

class GeoTableSource(spark: SparkSession, base: String,
    parameters: Map[String, String]) extends Source
    with SupportsAdmissionControl with SupportsTriggerAvailableNow with Logging {

  private val fs = new org.apache.hadoop.fs.Path(base)
    .getFileSystem(spark.sparkContext.hadoopConfiguration)
  private val includeVersion = GeoTableSource.boolOpt(parameters, "includeCommitVersion")
  private val skipChangeCommits = GeoTableSource.boolOpt(parameters, "skipChangeCommits")
  /** Change-feed mode: every micro-batch row is a change row
   *  (insert / delete / update_preimage / update_postimage) tagged
   *  `_change_type` + `_commit_version` — the streaming face of
   *  [[graft.sources.GeoTableChanges]]. Rewrite commits become their
   *  row-level diffs instead of failing the stream. */
  private val readChangeFeed = GeoTableSource.boolOpt(parameters, "readChangeFeed")
  require(!(readChangeFeed && skipChangeCommits),
    "readChangeFeed delivers delete/update rewrites as change rows; " +
      "skipChangeCommits would silently drop them — pick one")

  /** Long-lived tailer: each trigger re-reads only NEW commits, not
   *  the whole log (O(new) instead of O(all versions) per poll — the
   *  difference between a fresh table and one carrying 10^5 commits). */
  private val entryCache = new GeoTableLog.EntryCache

  /** First version this stream emits. `startingVersion`: "latest" =
   *  only commits after stream definition, a number = that version
   *  onward; `startingTimestamp`: the first version committed at or
   *  after the instant (Delta's changes-since rule); default 0 (the
   *  full table history, starting with the init snapshot). */
  private val startVersion: Int = {
    val sv = parameters.collectFirst {
      case (k, v) if k.equalsIgnoreCase("startingVersion") => v }
    val st = parameters.collectFirst {
      case (k, v) if k.equalsIgnoreCase("startingTimestamp") => v }
    require(sv.isEmpty || st.isEmpty,
      "set startingVersion OR startingTimestamp, not both")
    st match {
      case Some(ts) =>
        GeoTableLog.versionSince(spark, base, GeoTableLog.parseTsMillis(ts))
      case None => sv.map(_.trim.toLowerCase) match {
        case Some("latest") =>
          val es = entryCache.read(fs, base)
          es.lastOption.map(_._1 + 1).getOrElse(0)
        case Some(n) =>
          require(n.forall(_.isDigit),
            s"startingVersion must be a number or 'latest', got '$n'")
          n.toInt
        case None => 0
      }
    }
  }

  override val schema: StructType = GeoTableSource.schemaFor(spark, base, parameters)
  private val tableSchema: StructType =
    if (readChangeFeed) StructType(schema.fields.dropRight(2))
    else if (includeVersion) StructType(schema.fields.dropRight(1)) else schema

  private def versionOf(o: OffsetV1): Int = o match {
    case lo: LongOffset => lo.offset.toInt
    case so: SerializedOffset => so.json.trim.toInt // LongOffset serializes as the bare number
    case other => other.json.trim.toInt
  }

  /** Batch-size cap: at most this many versions per micro-batch. A
   *  fresh stream on a table carrying 10^4 commits must not get the
   *  whole history as one giant first batch — capping keeps each
   *  batch's file set (and its task count, shuffle, sink commit)
   *  bounded regardless of how far behind the stream starts. */
  private val maxVersionsPerTrigger: Int =
    parameters.collectFirst {
      case (k, v) if k.equalsIgnoreCase("maxVersionsPerTrigger") => v.trim.toInt
    }.map { n =>
      require(n > 0, s"maxVersionsPerTrigger must be positive, got $n"); n
    }.getOrElse(Int.MaxValue)

  /** Highest version already handed out via getBatch's `end` — the cap
   *  base for the NEXT trigger. Recovery-safe: on restart the engine
   *  replays the checkpointed batch through getBatch, which refreshes
   *  this before the next getOffset; capping can only slow the offset
   *  walk, never skip or reorder versions. */
  @volatile private var lastEmitted: Int = startVersion - 1

  /** Highest committed version, capped to maxVersionsPerTrigger past
   *  the last batch already handed out. With [[SupportsAdmissionControl]]
   *  implemented the engine drives [[latestOffset]] instead; this stays
   *  as the plain-Source fallback. */
  override def getOffset: Option[OffsetV1] = {
    val es = entryCache.read(fs, base)
    es.lastOption.collect { case (v, _, _, _) if v >= startVersion =>
      val capped = math.min(v.toLong,
        lastEmitted.toLong + maxVersionsPerTrigger.toLong)
      LongOffset(capped)
    }
  }

  /** Trigger.AvailableNow ceiling, snapshotted at prepare time:
   *  batches keep advancing (capped) up to the versions committed
   *  when the run started; later commits wait for the next scheduled
   *  run — the hourly-ingest-job shape, natively, instead of the
   *  engine's single-offset wrapper snapshot (which would collide
   *  with maxVersionsPerTrigger and stop after one capped batch). */
  @volatile private var availableNowCeiling: Option[Int] = None

  override def prepareForTriggerAvailableNow(): Unit =
    availableNowCeiling = entryCache.read(fs, base).lastOption.map(_._1)

  /** Version capping is internal (see [[latestOffset]]); the engine's
   *  limit vocabulary (rows/files) doesn't describe it. */
  override def getDefaultReadLimit: ReadLimit = ReadLimit.allAvailable()

  private def versionOfV2(o: OffsetV2): Int = o match {
    case o1: OffsetV1 => versionOf(o1)
    case other => other.json.trim.toInt
  }

  /** Admission-controlled offset walk: the engine hands us the PREVIOUS
   *  end offset, so the cap base is exact even on the first call after
   *  a checkpoint restart. Returns null when no new version is
   *  admissible (the engine's no-new-data signal, which is also how an
   *  AvailableNow run terminates at the prepared ceiling). */
  override def latestOffset(startOffset: OffsetV2, limit: ReadLimit): OffsetV2 = {
    val start = Option(startOffset).map(versionOfV2).getOrElse(startVersion - 1)
    if (start > lastEmitted) lastEmitted = start
    val es = entryCache.read(fs, base)
    val committed = es.lastOption.map(_._1).getOrElse(-1)
    val target = availableNowCeiling.fold(committed)(math.min(committed, _))
    val capped = math.min(target.toLong,
      start.toLong + maxVersionsPerTrigger.toLong).toInt
    if (capped <= start || capped < startVersion) null else LongOffset(capped.toLong)
  }

  /** An empty micro-batch with exactly this source's schema. */
  private def emptyBatch: DataFrame = ColumnShim.dataFrame(spark,
    spark.createDataFrame(new java.util.ArrayList[org.apache.spark.sql.Row](), schema)
      .queryExecution.toRdd, schema, isStreaming = true)

  override def getBatch(start: Option[OffsetV1], end: OffsetV1): DataFrame = {
    val from = math.max(start.map(versionOf(_) + 1).getOrElse(startVersion), startVersion)
    val to = versionOf(end)
    if (to > lastEmitted) lastEmitted = to
    val es = entryCache.read(fs, base)
    // an end BEHIND the checkpointed start has two causes: (a) a fresh
    // restart where this source's capped getOffset answered before it
    // saw the checkpointed offset — benign, resume capping from the
    // checkpoint; (b) the log's version numbers actually went
    // backwards — a vacuum rebase / recluster checkpoint under a live
    // checkpoint, which must fail rather than replay wrong data
    if (start.exists(versionOf(_) > to)) {
      val st = versionOf(start.get)
      val latestV = es.lastOption.map(_._1).getOrElse(-1)
      if (latestV >= st) { // log still has the checkpointed version: (a)
        lastEmitted = math.max(lastEmitted, st)
        return emptyBatch
      }
      throw new IllegalStateException(
        s"geotable stream at $base: checkpointed offset $st is ahead " +
          s"of the log's latest version $latestV — history was rebased by " +
          "vacuum/recluster; restart the stream from a fresh checkpoint")
    }
    val inRange = es.filter { case (v, _, _, _) => v >= from && v <= to }
    // a hole or a shrunken log under a checkpointed offset means a
    // vacuum rebase / recluster checkpoint renumbered history
    if (from <= to && inRange.map(_._1) != (from to to).toSeq)
      throw new IllegalStateException(
        s"geotable stream at $base: versions [$from, $to] no longer in the log " +
          s"(have ${es.headOption.map(_._1)}..${es.lastOption.map(_._1)}) — history was " +
          "rebased by vacuum/recluster; restart the stream from a fresh checkpoint")
    if (readChangeFeed) {
      // change-feed mode: the batch feed's reconstruction verbatim —
      // insert commits collapse into one scan, rewrites diff
      // per-commit, cost proportional to the commits' touched files
      val frames =
        graft.sources.GeoTableChanges.changeFrames(spark, fs, base, inRange)
      val batch = frames.reduceOption(_ unionByName _)
        .map(_.select(schema.fieldNames.map(org.apache.spark.sql.functions.col): _*))
        .getOrElse(spark.createDataFrame(
          new java.util.ArrayList[org.apache.spark.sql.Row](), schema))
      return ColumnShim.dataFrame(spark, batch.queryExecution.toRdd, schema, isStreaming = true)
    }
    val fileVersions: Seq[(Int, Seq[String])] = inRange.flatMap {
      case (v, "init", add, _) => Some(v -> add)
      case (v, "append", add, _) => Some(v -> add)
      case (_, "compact", _, _) => None // row multiset preserved
      case (v, op, _, _) if op == "delete" || op == "update" =>
        if (skipChangeCommits) { logInfo(s"geotable stream: skipping $op commit $v"); None }
        else throw new IllegalStateException(
          s"geotable stream at $base: version $v is a '$op' rewrite; this source is " +
            "append-only. Set .option(\"skipChangeCommits\", \"true\") to skip rewrite " +
            "commits, or consume row-level changes with GeoTableChanges.readChanges")
      case (v, op, _, _) => throw new IllegalStateException(
        s"unknown commit op '$op' at version $v of $base")
    }
    // plan-size discipline (same as the batch change feed): ONE scan
    // over every version's files — a catch-up batch spanning many
    // commits must not become a union branch per version. Version
    // attribution joins a broadcast (file basename -> version) map
    // (part-file basenames carry a UUID: unique for the table's life).
    val fileVers = fileVersions.flatMap { case (v, names) => names.map(_ -> v) }
    val batch =
      if (fileVers.isEmpty) spark.createDataFrame(
        new java.util.ArrayList[org.apache.spark.sql.Row](), schema)
      else {
        val paths = GeoTableLog.resolveFiles(
          fs, base, fileVers.map(_._1), s"stream batch [$from, $to]")
        val df = spark.read.schema(tableSchema).parquet(paths: _*)
        if (includeVersion) {
          val sq = spark; import sq.implicits._
          df.withColumn("__base", element_at(split(input_file_name(), "/"), -1))
            .join(broadcast(fileVers.toDF("__base", GeoTableSource.CommitVersionCol)),
              "__base")
            .drop("__base")
            .select(schema.fieldNames.map(col): _*)
        } else df
      }
    // getBatch must return a streaming DataFrame with exactly `schema`
    ColumnShim.dataFrame(spark,
      batch.queryExecution.toRdd, schema, isStreaming = true)
  }

  override def commit(end: OffsetV1): Unit = ()
  override def stop(): Unit = ()
}
