package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.hadoop.fs.{FileSystem, Path}

/**
 * Commit log + snapshot reads for clustered tables — the analog of the
 * reference R-tree's WAL/MVCC row CRUD (`rtree_index.cpp`,
 * `test/sql/index/rtree_crud.test`: transactional INSERT/UPDATE/DELETE
 * with readers seeing consistent snapshots). A lakehouse table format
 * is the Spark-idiomatic answer, so this is a miniature one:
 *
 *   - `<table>/_graft_log/NNNNNNNNNN.json` — one entry per committed
 *     maintenance op: `{"version":N,"op":"...","add":[...],"remove":[...]}`
 *     over part-file BASENAMES. Underscore-prefixed, so ordinary
 *     `spark.read.parquet(table)` never sees it.
 *   - With the log enabled, [[GeoTable.deleteWhere]]/[[GeoTable.updateWhere]]
 *     RETAIN the files they would have deleted (moved to
 *     `_graft_log/retained/`) and append a commit; [[GeoTable.appendClustered]]
 *     commits its added files.
 *   - [[readVersion]] replays the log prefix and reads exactly that
 *     version's file set — time travel to any committed state.
 *   - [[GeoTable.recluster]] is the checkpoint/VACUUM analog: it
 *     compacts history away and re-initializes the log at the new
 *     layout (documented, like the reference's index rebuild).
 *
 * Scale shape: the log is file-count-sized JSON (driver metadata, the
 * same order as parquet footers); retained files cost storage, never
 * read time — current-version reads list only the table root.
 *
 * Concurrency contract (r14, tightened r15): COMMIT APPENDS are
 * multi-writer safe — [[appendEntry]] claims version slots through an
 * atomic publish-if-absent CAS with optimistic remove-set validation
 * (see its doc), and [[GeoTable.appendClustered]] stages its part
 * files and registers them in `_graft_log/inflight/` before moving
 * them in, so row-CRUD maintenance (deleteWhere/updateWhere/
 * compactDeltas/repair) running CONCURRENTLY with an in-flight append
 * cannot reap the append's not-yet-committed files ([[repairRoot]]).
 * MAINTENANCE ops that renumber history (vacuum, recluster's
 * checkpoint) remain mutually exclusive against everything — run one
 * at a time per table with no concurrent commits. Snapshot READS are
 * safe against everything: committed versions only ever reference
 * immutable files (a new commit never mutates old parts — they are
 * moved, not rewritten, and [[readVersion]] resolves either location),
 * and a reader that encounters a vacuum's staged rebase ignores an
 * in-progress stage, serves itself from a COMPLETE stage while the
 * vacuum (or a single CAS-elected recoverer) owns the swap, and
 * finishes only a provably abandoned swap ([[entryDir]]).
 */
object GeoTableLog {

  private def logDir(base: String) = new Path(base.stripSuffix("/"), "_graft_log")
  private def retainedDir(base: String) = new Path(logDir(base), "retained")
  private[sources] def inflightDir(base: String) = new Path(logDir(base), "inflight")

  /** Age past which an in-flight append marker / a RECOVERING claim is
   *  treated as abandoned (the writer crashed). Live writers hold these
   *  for milliseconds-to-seconds (a metadata move-in, a log-drop), so
   *  ten minutes of silence means death, not slowness. */
  private[graft] val staleClaimMs = 600000L

  private def readFileUtf8(fs: FileSystem, p: Path): String = {
    val in = fs.open(p)
    try {
      val bos = new java.io.ByteArrayOutputStream()
      val buf = new Array[Byte](8192)
      var n = in.read(buf)
      while (n > 0) { bos.write(buf, 0, n); n = in.read(buf) }
      bos.toString("UTF-8")
    } finally in.close()
  }

  private[sources] def fsOf(spark: SparkSession, base: String): FileSystem =
    new Path(base).getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** Is the commit log enabled for this table? */
  def isEnabled(fs: FileSystem, base: String): Boolean =
    fs.exists(logDir(base.stripSuffix("/")))

  /** Data-file basenames currently in the table root. */
  private def dataFiles(fs: FileSystem, base: String): Seq[String] =
    fs.listStatus(new Path(base.stripSuffix("/")))
      .map(_.getPath.getName)
      .filter(n => n.startsWith("part-") && n.endsWith(".parquet"))
      .sorted.toSeq

  /**
   * Enable the commit log on an existing clustered table: version 0 =
   * the current file set. Idempotent-hostile on purpose — enabling
   * twice is a caller bug (it would fork history), so it fails loudly.
   */
  def enable(spark: SparkSession, path: String): Unit = {
    val base = path.stripSuffix("/")
    val fs = fsOf(spark, base)
    require(!isEnabled(fs, base), s"commit log already enabled at $base")
    fs.mkdirs(retainedDir(base))
    appendEntry(fs, base, "init", add = dataFiles(fs, base), remove = Nil)
  }

  /**
   * Append one commit entry; returns the committed version number.
   *
   * Multi-writer contract (optimistic concurrency): the version slot is
   * claimed by an atomic publish-if-absent of the entry file — exactly
   * one concurrent committer wins version N; the loser re-reads the log
   * and retries at N+1. Before each attempt the entry's `remove` set is
   * validated against the then-current live file set: a file already
   * retired by a concurrent commit makes this commit semantically stale
   * (its rewrite read rows another writer superseded), so it fails with
   * `ConcurrentModificationException` instead of silently double-
   * removing. Disjoint concurrent appends (fresh UUID part names)
   * serialize cleanly. Maintenance ops that renumber history (vacuum,
   * recluster's checkpoint) remain single-writer, as documented on each.
   */
  private[graft] def appendEntry(fs: FileSystem, base: String, op: String,
      add: Seq[String], remove: Seq[String]): Int = {
    def arr(xs: Seq[String]) = xs.map("\"" + _ + "\"").mkString("[", ",", "]")
    // losing a race is global progress (the winner committed and the
    // next read computes a higher version), so retries are unbounded
    // while the version advances; repeated CAS failure at the SAME
    // version means the store is misbehaving — fail then.
    var lastLost = -1
    var stuckAt = 0
    while (true) {
      val es = entries(fs, base)
      val v = es.lastOption.map(_._1 + 1).getOrElse(0)
      if (remove.nonEmpty && es.nonEmpty) {
        val live = fileSetFrom(es, es.last._1).toSet
        val gone = remove.filterNot(live.contains)
        if (gone.nonEmpty) throw new java.util.ConcurrentModificationException(
          s"commit conflict at $base: a concurrent commit already removed ${gone.mkString(", ")}")
      }
      val json = s"""{"version":$v,"ts":${System.currentTimeMillis()},"op":"$op",""" +
        s""""add":${arr(add)},"remove":${arr(remove)}}"""
      if (casWrite(fs, new Path(logDir(base), f"$v%010d.json"), json.getBytes("UTF-8")))
        return v
      stuckAt = if (v == lastLost) stuckAt + 1 else 0
      if (stuckAt >= 5) throw new java.io.IOException(
        s"appendEntry: CAS failed 5 times at version $v of $base with no progress")
      lastLost = v
    }
    -1 // unreachable
  }

  /** Atomically publish `bytes` at `dst` iff `dst` does not exist — the
   *  version-slot CAS. file:// stages a temp file and hard-links it in
   *  (link(2) fails with EEXIST atomically; plain rename OVERWRITES on
   *  POSIX, so it cannot be the CAS); HDFS-like stores use
   *  create(overwrite=false), atomic at the namenode. Returns false
   *  when another committer won the slot. */
  private def casWrite(fs: FileSystem, dst: Path, bytes: Array[Byte]): Boolean =
    if (fs.getUri.getScheme == "file") {
      val tmp = new Path(dst.getParent, s".${dst.getName}.${java.util.UUID.randomUUID}.tmp")
      val out = fs.create(tmp, true)
      try out.write(bytes) finally out.close()
      try {
        java.nio.file.Files.createLink(
          java.nio.file.Paths.get(dst.toUri.getPath),
          java.nio.file.Paths.get(tmp.toUri.getPath))
        true
      } catch {
        case _: java.nio.file.FileAlreadyExistsException => false
        case _: UnsupportedOperationException | _: java.nio.file.FileSystemException =>
          // a local fs without hard links (some overlay/NFS mounts):
          // fall back to the check-then-create primitive — weaker
          // atomicity, same contract as the non-local branch
          createIfAbsent(fs, dst, bytes)
      } finally fs.delete(tmp, false)
    } else createIfAbsent(fs, dst, bytes)

  private def createIfAbsent(fs: FileSystem, dst: Path, bytes: Array[Byte]): Boolean =
    try {
      val out = fs.create(dst, false)
      try out.write(bytes) finally out.close()
      true
    } catch {
      case _: org.apache.hadoop.fs.FileAlreadyExistsException => false
      case _: java.io.IOException if fs.exists(dst) => false
    }

  /** Move a data file aside instead of deleting it (commit-log mode).
   *  Part names carry write UUIDs, so a collision with BOTH copies
   *  present means a caller bug — but dst-present with src-gone is the
   *  benign outcome of a RACING RETIRER (a repairRoot preamble retiring
   *  a just-committed rewrite's files while the rewriter runs its own
   *  retire pass — both move the same src to the same dst; one rename
   *  wins, the loser must treat the move as done, r16). The local
   *  FileSystem reports that loss by THROWING FileNotFoundException
   *  (its copy fallback finds the source gone) rather than returning
   *  false, so both outcomes take the same check. */
  private[sources] def retain(fs: FileSystem, base: String, file: Path): Unit = {
    val dst = new Path(retainedDir(base), file.getName)
    if (fs.exists(dst)) {
      if (!fs.exists(file)) return // a concurrent retirer already moved it
      throw new IllegalStateException(s"retained name collision: ${file.getName}")
    }
    val moved =
      try fs.rename(file, dst)
      catch { case _: java.io.FileNotFoundException => false }
    if (!moved) {
      if (fs.exists(dst) && !fs.exists(file)) return // lost the race mid-move
      throw new java.io.IOException(s"cannot retain $file")
    }
    val crc = new Path(file.getParent, "." + file.getName + ".crc")
    if (fs.exists(crc)) fs.delete(crc, false)
  }

  /**
   * Repair an interrupted maintenance swap so the root's data files
   * again equal the latest committed file set: a file a committed entry
   * removed but that was never retired is retired now (crash between
   * the commit and the retire pass); a root file the log has never seen
   * is deleted (crash between a staging move-in and its commit — its
   * rows still live in the files the log references) UNLESS a live
   * in-flight append marker claims it. [[GeoTable.appendClustered]]
   * registers the exact file set it is about to move in under
   * `_graft_log/inflight/<uuid>` BEFORE the move and removes the marker
   * after its commit — so a repair preamble running concurrently with
   * an in-flight append leaves the append's files alone instead of
   * destroying a commit-to-be (the r14 contract blesses concurrent
   * appends; reaping their staged files would make the committed entry
   * reference files that no longer exist — permanent row loss). A
   * marker older than [[staleClaimMs]] means the append died: its
   * uncommitted files and the marker itself are reaped. A marker whose
   * files are all committed is cleanup debt from a crash between the
   * commit and the marker delete: only the marker is removed. No-op
   * when the root already matches.
   *
   * Ordering contract (r16, closes the TOCTOU an r15 audit found): the
   * ROOT LISTING happens FIRST, then the marker scan, then a FRESH
   * entries read. [[GeoTable.appendClustered]] writes its marker
   * strictly BEFORE any move-in and commits strictly BEFORE deleting
   * the marker, so for any file visible in our root listing either its
   * marker is visible to the (later) marker scan or its commit is
   * visible to the (even later) entries read — a file can only be
   * reaped when it is unknown to the fresh log AND unclaimed by the
   * fresh marker scan, which proves its writer died before committing.
   * The old order (entries → markers → listing) let an append that
   * moved files in between the marker scan and the listing be reaped
   * as "unknown root file" even though its marker (or commit) existed
   * — permanent row loss for a concurrency pattern the contract
   * blesses.
   */
  private[sources] def repairRoot(fs: FileSystem, base0: String): Unit = {
    val base = base0.stripSuffix("/")
    if (!isEnabled(fs, base)) return
    // 1. root listing FIRST (see ordering contract above)
    val rootNames = dataFiles(fs, base)
    // 2. marker scan second: capture (markerPath, mtime, fileNames).
    //    A marker that vanishes between the listing and the open is a
    //    committed append that just deleted it — skip it; the fresh
    //    entries read below sees its commit.
    val markers: Seq[(Path, Long, Seq[String])] = {
      val inflDir = inflightDir(base)
      if (!fs.exists(inflDir)) Nil
      else fs.listStatus(inflDir).toSeq
        // dot-prefixed names are casWrite staging artifacts (.N.uuid.tmp
        // and checksum siblings) mid-publish — not markers; touching
        // them would crash the publishing writer's CAS (fuzz-caught)
        .filterNot(_.getPath.getName.startsWith("."))
        .flatMap { st =>
          try {
            val names = readFileUtf8(fs, st.getPath)
              .split("\n").map(_.trim).filter(_.nonEmpty).toSeq
            Some((st.getPath, st.getModificationTime, names))
          } catch { case _: java.io.FileNotFoundException => None }
        }
    }
    // 3. entries LAST — any commit that raced the scans above is in
    val es = entries(fs, base)
    if (es.isEmpty) return
    val live = fileSetFrom(es, es.last._1).toSet
    val everLogged = es.flatMap(e => e._3 ++ e._4).toSet
    val now = System.currentTimeMillis()
    var inflight = Set.empty[String]
    markers.foreach { case (markerPath, mtime, names) =>
      val uncommitted = names.filterNot(live.contains)
      if (uncommitted.isEmpty) {
        // append committed; the writer died before removing its marker
        fs.delete(markerPath, false)
      } else if (now - mtime > staleClaimMs) {
        // the append died mid-flight: reap its moved-in files + marker
        uncommitted.foreach { n =>
          val p = new Path(base, n)
          if (fs.exists(p)) fs.delete(p, false)
        }
        fs.delete(markerPath, false)
      } else inflight ++= uncommitted
    }
    rootNames.foreach { n =>
      if (!live.contains(n)) {
        val p = new Path(base, n)
        if (everLogged.contains(n)) { if (fs.exists(p)) retain(fs, base, p) }
        else if (!inflight.contains(n) && fs.exists(p)) {
          fs.delete(p, false)
          val crc = new Path(p.getParent, "." + n + ".crc")
          if (fs.exists(crc)) fs.delete(crc, false)
        }
      }
    }
  }

  /** Register / clear an in-flight append's exact file set (see
   *  [[repairRoot]]). The marker name is the append's own UUID, so
   *  concurrent appends never collide. Published ATOMICALLY via the
   *  same CAS primitive as version slots (r16, fuzz-caught): a plain
   *  create-then-write left a window where a concurrent repairRoot
   *  read the marker EMPTY, misclassified the append as committed
   *  cleanup debt, deleted the marker, and then reaped the append's
   *  moved-in files — the exact row loss the marker exists to prevent. */
  private[graft] def writeInflightMarker(
      fs: FileSystem, base: String, id: String, names: Seq[String]): Path = {
    val dir = inflightDir(base.stripSuffix("/"))
    fs.mkdirs(dir)
    val p = new Path(dir, id)
    if (!casWrite(fs, p, (names.mkString("\n") + "\n").getBytes("UTF-8")))
      throw new java.io.IOException(s"inflight marker collision (broken UUID?): $p")
    p
  }

  /** All committed (version, op, add, remove) entries in order. */
  def entries(spark: SparkSession, path: String):
      Seq[(Int, String, Seq[String], Seq[String])] = {
    val base = path.stripSuffix("/")
    entries(fsOf(spark, base), base)
  }

  /** All committed (version, op, add, remove) entries in order. */
  def entries(fs: FileSystem, base: String):
      Seq[(Int, String, Seq[String], Seq[String])] = {
    val dir = logDir(base.stripSuffix("/"))
    if (!fs.exists(dir)) return Nil
    // retry loop: when the source is a live vacuum's staged rebase, the
    // owner may promote it away (renames + dir delete) between our
    // listing and the reads — re-resolve and read the promoted log
    var attempt = 0
    while (true) {
      val src = entryDir(fs, base.stripSuffix("/"))
      try {
        if (!fs.exists(src)) { if (src == dir) return Nil }
        else return fs.listStatus(src).map(_.getPath)
          .filter(_.getName.endsWith(".json"))
          .sortBy(_.getName).toSeq.map(p => parseEntry(readFileUtf8(fs, p)))
      } catch { case _: java.io.FileNotFoundException => () }
      attempt += 1
      if (attempt >= 5) throw new java.io.IOException(
        s"entries: log source for $base kept vanishing mid-read after $attempt attempts")
    }
    Nil // unreachable
  }

  /** Incremental entry reader for a long-lived log tailer (the
   *  streaming source polls on every trigger): re-parses only entry
   *  files not seen before, identified by (name, length, mtime) —
   *  entry slots are immutable once CAS-published, so a matching
   *  triple is the same committed entry. ANY prefix mismatch (a
   *  vacuum/recluster rebase recreates the SAME slot names with
   *  different content) drops the whole cache and re-reads from
   *  scratch — correctness never rides on a cache hit. Cost per poll:
   *  one listing + O(new commits) reads, instead of O(all commits). */
  final class EntryCache {
    private var keys: Vector[(String, Long, Long)] = Vector.empty
    private var parsed: Vector[(Int, String, Seq[String], Seq[String])] = Vector.empty

    def read(fs: FileSystem, path: String): Seq[(Int, String, Seq[String], Seq[String])] =
      synchronized {
        val base = path.stripSuffix("/")
        val dir = logDir(base)
        def reset(): Unit = { keys = Vector.empty; parsed = Vector.empty }
        if (!fs.exists(dir)) { reset(); return Nil }
        var attempt = 0
        while (attempt < 5) {
          val src = entryDir(fs, base)
          try {
            if (!fs.exists(src)) {
              if (src == dir) { reset(); return Nil }
            } else {
              val st = fs.listStatus(src)
                .filter(_.getPath.getName.endsWith(".json"))
                .sortBy(_.getPath.getName).toVector
              val ks = st.map(s => (s.getPath.getName, s.getLen, s.getModificationTime))
              if (ks.length >= keys.length && ks.take(keys.length) == keys)
                parsed = parsed ++ st.drop(keys.length)
                  .map(s => parseEntry(readFileUtf8(fs, s.getPath)))
              else
                parsed = st.map(s => parseEntry(readFileUtf8(fs, s.getPath)))
              keys = ks
              return parsed
            }
          } catch { case _: java.io.FileNotFoundException => reset() }
          attempt += 1
        }
        throw new java.io.IOException(
          s"EntryCache: log source for $base kept vanishing mid-read after $attempt attempts")
      }
  }

  /**
   * Crash recovery for an interrupted vacuum + the authoritative entry
   * source for readers. The staged rebase under rebase.tmp carries
   * three phase markers:
   *   RECOVERING — the drop phase has an owner (the live vacuum itself,
   *                or the one CAS-elected crash recoverer); carries the
   *                claim's wall-clock millis
   *   COMPLETE   — staging finished; the staged set is authoritative
   *                and the old-entry drop may have begun
   *   DROPPED    — the drop finished; promotion may have begun
   * No COMPLETE -> either the vacuum died mid-staging (the old log is
   * intact and the next vacuum clears the stage) or a vacuum is
   * staging RIGHT NOW — a reader must only IGNORE the stage, never
   * delete it. COMPLETE without DROPPED -> the drop is in progress or
   * was abandoned. The drop deletes every old .json in the log dir,
   * and after DROPPED lands promotion moves the staged entries to the
   * SAME names — so a second dropper whose delete loop runs after a
   * first finished would destroy freshly promoted entries (the r14
   * ADVICE race). The drop is therefore SINGLE-WINNER: whoever holds
   * RECOVERING (published with the same CAS primitive as version
   * slots; [[vacuum]] claims it before writing COMPLETE, so readers
   * always lose against a live vacuum) performs it; everyone else
   * reads the staged entries directly — the same committed state the
   * swap will publish. A RECOVERING older than [[staleClaimMs]] means
   * the owner died; the reader takes over best-effort (two
   * simultaneous stale-takeovers re-open the window, but both require
   * a drop owner that has been silent for ten minutes — a crashed
   * process, not a slow one — and the fresh DROPPED re-check narrows
   * the remaining exposure to the listing-to-delete interval). Both
   * markers -> any .json in the dir is already-promoted staged
   * content: keep it, promote the rest (promoteStagedRebase is
   * idempotent and tolerates a concurrent recoverer).
   *
   * Returns the directory whose *.json files are the committed entries
   * right now: rebase.tmp while someone else owns a COMPLETE swap, the
   * log dir otherwise.
   */
  private def entryDir(fs: FileSystem, base: String): Path = {
    val dir = logDir(base)
    val staged = new Path(dir, "rebase.tmp")
    if (fs.exists(staged) && fs.exists(new Path(staged, "COMPLETE"))) {
      if (!fs.exists(new Path(staged, "DROPPED"))) {
        val marker = new Path(staged, "RECOVERING")
        val claimed = casWrite(fs, marker,
          System.currentTimeMillis().toString.getBytes("UTF-8"))
        val ownerAgeMs =
          if (claimed) 0L
          else try System.currentTimeMillis() -
            readFileUtf8(fs, marker).trim.takeWhile(_.isDigit).toLong
          catch { case _: Exception => 0L } // unreadable = just created: live
        if (!claimed && ownerAgeMs < staleClaimMs)
          return staged // a live owner is mid-swap: the stage is the log
        // Stale-owner takeover: RE-CLAIM the marker before dropping
        // (r15 ADVICE) — overwrite RECOVERING with our own fresh
        // timestamp + nonce so readers arriving after us see a LIVE
        // owner and back off to the stage instead of all entering the
        // drop loop at once; then re-read after a short delay — if the
        // content is not ours, a racing taker re-stamped later and owns
        // the drop, so we serve from the stage like any other reader.
        // (Two takers that interleave inside the delay window remain
        // possible — the drop loop itself tolerates a concurrent
        // dropper — but the exposure shrinks from "every reader after
        // 10 min" to one racing pair inside ~100 ms.)
        if (!claimed) {
          val stamp = s"${System.currentTimeMillis()} ${java.util.UUID.randomUUID}"
          try {
            val out = fs.create(marker, true)
            try out.write(stamp.getBytes("UTF-8")) finally out.close()
            Thread.sleep(100)
            if (readFileUtf8(fs, marker).trim != stamp) return staged
          } catch { case _: java.io.FileNotFoundException =>
            // the owner finished and promoted the stage away — fall
            // through; the fresh re-checks below handle the gone stage
          }
        }
        // sole claimant (or re-claimed stale-owner takeover): finish the
        // drop. Fresh re-checks: the swap may have completed since. The
        // COMPLETE re-check matters — creating our marker implicitly
        // re-creates rebase.tmp when the owner promoted it away in the
        // race window, and dropping against that freshly re-created
        // empty stage would delete the JUST-PROMOTED live log; a real
        // stage still carries COMPLETE, a re-created shell does not.
        if (fs.exists(new Path(staged, "COMPLETE")) &&
            !fs.exists(new Path(staged, "DROPPED"))) {
          fs.listStatus(dir).map(_.getPath).filter(_.getName.endsWith(".json"))
            .foreach(fs.delete(_, false))
          fs.create(new Path(staged, "DROPPED"), true).close()
        }
      }
      promoteStagedRebase(fs, base)
    }
    dir
  }

  /** Minimal parser for the entry shape this object writes (basenames
   *  never contain quotes or backslashes). */
  private def parseEntry(json: String): (Int, String, Seq[String], Seq[String]) = {
    def field(name: String): String = {
      val i = json.indexOf("\"" + name + "\":")
      require(i >= 0, s"commit entry missing $name: $json")
      json.substring(i + name.length + 3)
    }
    val v = field("version").takeWhile(_.isDigit).toInt
    val op = field("op").drop(1).takeWhile(_ != '"')
    def list(name: String): Seq[String] = {
      val body = field(name).drop(1).takeWhile(_ != ']')
      if (body.isEmpty) Nil
      else body.split(",").toSeq.map(_.trim.stripPrefix("\"").stripSuffix("\""))
    }
    (v, op, list("add"), list("remove"))
  }

  /** The file-basename set of a committed version. */
  def fileSetAt(fs: FileSystem, base: String, version: Int): Seq[String] = {
    val es = entries(fs, base)
    require(es.nonEmpty, s"no commit log at $base")
    require(es.exists(_._1 == version),
      s"version $version not in log (have ${es.head._1}..${es.last._1})")
    fileSetFrom(es, version)
  }

  /** [[fileSetAt]] over already-read entries (no re-listing — the
   *  optimistic-commit validation runs this per attempt). */
  private[sources] def fileSetFrom(
      es: Seq[(Int, String, Seq[String], Seq[String])], version: Int): Seq[String] = {
    val live = scala.collection.mutable.LinkedHashSet[String]()
    es.takeWhile(_._1 <= version).foreach { case (_, _, add, remove) =>
      remove.foreach(live -= _)
      add.foreach(live += _)
    }
    live.toSeq
  }

  /** Latest committed version number. */
  def latestVersion(spark: SparkSession, path: String): Int = {
    val base = path.stripSuffix("/")
    val es = entries(fsOf(spark, base), base)
    require(es.nonEmpty, s"no commit log at $base")
    es.last._1
  }

  /** (version, commit-time millis) per entry, in version order. */
  def entryTimes(spark: SparkSession, path: String): Seq[(Int, Long)] = {
    val base = path.stripSuffix("/")
    entryTimes(fsOf(spark, base), base)
  }

  /** (version, commit-time millis) per entry, in version order. Uses
   *  the entry's "ts" field; entries written before it existed fall
   *  back to the entry file's modification time. Resolves the SAME
   *  entry source as [[entries]] (the staged rebase while a live
   *  vacuum owns the swap), so version numbers and AS OF timestamps
   *  stay mutually consistent mid-swap. */
  def entryTimes(fs: FileSystem, base: String): Seq[(Int, Long)] = {
    val dir = logDir(base.stripSuffix("/"))
    if (!fs.exists(dir)) return Nil
    var attempt = 0
    while (true) {
      val src = entryDir(fs, base.stripSuffix("/"))
      try {
        if (!fs.exists(src)) { if (src == dir) return Nil }
        else return fs.listStatus(src).filter(_.getPath.getName.endsWith(".json"))
          .sortBy(_.getPath.getName).toSeq.map { st =>
            val text = readFileUtf8(fs, st.getPath)
            val v = { val i = text.indexOf("\"version\":")
              text.substring(i + 10).takeWhile(_.isDigit).toInt }
            val i = text.indexOf("\"ts\":")
            val ts = if (i >= 0) text.substring(i + 5).takeWhile(_.isDigit).toLong
              else st.getModificationTime
            (v, ts)
          }
      } catch { case _: java.io.FileNotFoundException => () }
      attempt += 1
      if (attempt >= 5) throw new java.io.IOException(
        s"entryTimes: log source for $base kept vanishing mid-read after $attempt attempts")
    }
    Nil // unreachable
  }

  /** The latest version committed at or before `tsMillis` — the
   *  `AS OF <timestamp>` resolver behind st_read_version's string
   *  overload. Commit times are non-decreasing in version order
   *  (single-clock writer per table), so this is a prefix max. */
  def versionAsOf(spark: SparkSession, path: String, tsMillis: Long): Int = {
    val base = path.stripSuffix("/")
    val times = entryTimes(fsOf(spark, base), base)
    require(times.nonEmpty, s"no commit log at $base")
    val at = times.filter(_._2 <= tsMillis)
    require(at.nonEmpty,
      s"no version of $base committed at or before $tsMillis " +
        s"(earliest commit is version ${times.head._1} at ${times.head._2})")
    at.map(_._1).max
  }

  /** First version committed AT OR AFTER `tsMillis` — the change-feed
   *  and stream starting-timestamp rule (Delta's semantics: "changes
   *  since this instant"), the dual of [[versionAsOf]]'s at-or-before
   *  snapshot rule. latest+1 when nothing is that new ("only future
   *  commits"), which a stream treats as startingVersion=latest. */
  def versionSince(spark: SparkSession, path: String, tsMillis: Long): Int = {
    val base = path.stripSuffix("/")
    val times = entryTimes(fsOf(spark, base), base)
    require(times.nonEmpty, s"no commit log at $base")
    times.find(_._2 >= tsMillis).map(_._1).getOrElse(times.last._1 + 1)
  }

  /** Parse a timestamp string for the AS OF form: ISO-8601 instants
   *  ("2026-08-16T04:00:00Z"), a date-time without zone, read as
   *  UTC (the engine's session time zone): "2026-08-16 04:00:00[.SSS]",
   *  "2026-08-16T04:00", "2026-08-16" — or a bare epoch-millis digit
   *  string (every supported calendar form contains a dash, so an
   *  all-digit string is unambiguous). */
  def parseTsMillis(s: String): Long = {
    val t = s.trim
    if (t.nonEmpty && t.forall(_.isDigit)) return t.toLong
    try java.time.Instant.parse(t).toEpochMilli
    catch { case _: Exception =>
      val norm = if (t.contains("T")) t else t.replace(' ', 'T')
      val full =
        if (!norm.contains("T")) norm + "T00:00:00"
        else if (norm.count(_ == ':') == 1) norm + ":00"
        else norm
      java.time.LocalDateTime.parse(full).toInstant(java.time.ZoneOffset.UTC).toEpochMilli
    }
  }

  /**
   * Snapshot read of a committed version: resolves each basename to
   * the table root (still live) or `_graft_log/retained/` (superseded)
   * and reads exactly those immutable files. The version's rows are
   * byte-stable across later maintenance until a recluster checkpoint
   * compacts history.
   */
  def readVersion(spark: SparkSession, path: String, version: Int): DataFrame = {
    val base = path.stripSuffix("/")
    val fs = fsOf(spark, base)
    val names = fileSetAt(fs, base, version)
    // a schema-less empty frame would fail downstream column refs with
    // a baffling UNRESOLVED_COLUMN — fail here with the actual cause
    if (names.isEmpty) throw new IllegalStateException(
      s"version $version of $base has no data files (read the live table " +
        "with spark.read.parquet for its schema)")
    spark.read.parquet(resolveFiles(fs, base, names, s"version $version"): _*)
  }

  /** Resolve committed basenames to readable paths: the table root
   *  (still live) or `_graft_log/retained/` (superseded by a later
   *  rewrite). Files in neither place were vacuumed — fail with the
   *  cause instead of letting the parquet reader 404. */
  private[graft] def resolveFiles(fs: FileSystem, base: String,
      names: Seq[String], what: String): Seq[String] =
    names.map { n =>
      val live = new Path(base, n)
      val kept = new Path(retainedDir(base), n)
      if (fs.exists(live)) live.toString
      else if (fs.exists(kept)) kept.toString
      else throw new java.io.IOException(
        s"$what references vacuumed file $n (recluster checkpointed history)")
    }

  /** Checkpoint: drop all history, re-init at the current file set
   *  (called by recluster — the VACUUM/index-rebuild analog). */
  private[sources] def checkpoint(fs: FileSystem, base: String): Unit = {
    fs.delete(logDir(base), true)
    fs.mkdirs(retainedDir(base))
    appendEntry(fs, base, "init", add = dataFiles(fs, base), remove = Nil)
  }

  /**
   * Drop history before `keepFrom`: retained files referenced ONLY by
   * versions < keepFrom are physically deleted and the log is rebased
   * so keepFrom becomes a fresh version-0 init of its file set (later
   * commits are renumbered onto it unchanged). The storage-retention
   * knob of the WAL analog — bounded history without giving up recent
   * snapshots (recluster's checkpoint drops everything instead).
   * Returns the number of retained files deleted. Single-writer, like
   * every maintenance op.
   */
  def vacuum(spark: SparkSession, path: String, keepFrom: Int): Long = {
    val base = path.stripSuffix("/")
    val fs = fsOf(spark, base)
    val es = entries(fs, base)
    require(es.nonEmpty, s"no commit log at $base")
    require(es.exists(_._1 == keepFrom), s"version $keepFrom not in log")
    if (keepFrom == es.head._1)
      // nothing to rebase, but sweep orphans a crash between a prior
      // vacuum's log swap and its retained-file pass left behind
      return sweepUnneededRetained(fs, base, es)
    // rebase: version 0 = init(fileSetAt(keepFrom)), then the later
    // entries verbatim with shifted numbers. Only the entry JSONs are
    // replaced — retained/ lives inside the log dir and must survive
    // (the surviving snapshots still resolve files there). Crash
    // safety: the rebased entries are STAGED under rebase.tmp first
    // with a COMPLETE marker, the old entries drop, a DROPPED marker
    // lands, and the staged set moves in — [[entries]] self-heals from
    // whichever phase a crash interrupts (the recluster "never zero
    // copies" bar applied to the log itself). Retained-file deletion
    // runs LAST, after the rebased log no longer references the files
    // (deleting first would break surviving snapshots on a crash
    // between the delete and the swap).
    val baseSet = fileSetFrom(es, keepFrom)
    val tail = es.filter(_._1 > keepFrom)
    // rebased entries PRESERVE their original commit instants (the
    // rebased init inherits keepFrom's) — vacuum reclaims storage, it
    // must not rewrite history for AS OF <timestamp> reads
    val times = entryTimes(fs, base).toMap
    val tmp = new Path(logDir(base), "rebase.tmp")
    fs.delete(tmp, true); fs.mkdirs(tmp)
    // claim the drop phase FIRST: once COMPLETE lands, concurrent
    // readers CAS against this marker, lose, and serve themselves from
    // the stage while this vacuum owns the swap (see entryDir)
    val claim = fs.create(new Path(tmp, "RECOVERING"), false)
    try claim.write(System.currentTimeMillis().toString.getBytes("UTF-8"))
    finally claim.close()
    def stage(v: Int, ts: Long, op: String, add: Seq[String], remove: Seq[String]): Unit = {
      def arr(xs: Seq[String]) = xs.map("\"" + _ + "\"").mkString("[", ",", "]")
      val out = fs.create(new Path(tmp, f"$v%010d.json"), false)
      try out.write(
        (s"""{"version":$v,"ts":$ts,"op":"$op",""" +
          s""""add":${arr(add)},"remove":${arr(remove)}}""").getBytes("UTF-8"))
      finally out.close()
    }
    stage(0, times.getOrElse(keepFrom, System.currentTimeMillis()), "init", baseSet, Nil)
    tail.zipWithIndex.foreach { case ((ov, op, add, remove), i) =>
      stage(i + 1, times.getOrElse(ov, System.currentTimeMillis()), op, add, remove)
    }
    fs.create(new Path(tmp, "COMPLETE"), true).close()
    fs.listStatus(logDir(base)).map(_.getPath)
      .filter(_.getName.endsWith(".json")).foreach(fs.delete(_, false))
    fs.create(new Path(tmp, "DROPPED"), true).close()
    promoteStagedRebase(fs, base)
    sweepUnneededRetained(fs, base, entries(fs, base))
  }

  /** Delete retained files referenced by NO version of the (current)
   *  log; returns the number deleted. Runs after a vacuum's log swap
   *  and as the orphan sweep of a no-op vacuum call. */
  private def sweepUnneededRetained(fs: FileSystem, base: String,
      es: Seq[(Int, String, Seq[String], Seq[String])]): Long = {
    val needed = es.map(_._1).flatMap(v => fileSetFrom(es, v)).toSet
    var dropped = 0L
    val retained = retainedDir(base)
    if (fs.exists(retained)) fs.listStatus(retained).foreach { st =>
      if (!needed.contains(st.getPath.getName)) {
        fs.delete(st.getPath, false); dropped += 1
      }
    }
    dropped
  }

  /** Move a complete staged rebase (the .json entries under
   *  rebase.tmp) into the log dir. Shared by [[vacuum]] and the
   *  [[entries]] crash recovery; idempotent — a staged name whose
   *  destination already exists was promoted before a crash, so the
   *  stage copy is simply dropped. */
  private def promoteStagedRebase(fs: FileSystem, base: String): Unit = {
    val tmp = new Path(logDir(base), "rebase.tmp")
    if (!fs.exists(tmp)) return // a concurrent recoverer already finished
    val staged = try fs.listStatus(tmp) catch {
      case _: java.io.FileNotFoundException => return
    }
    staged.map(_.getPath).filter(_.getName.endsWith(".json"))
      .foreach { p =>
        val dst = new Path(logDir(base), p.getName)
        if (fs.exists(dst)) fs.delete(p, false)
        else {
          // a concurrent recoverer may win the same rename; on a local
          // fs the loser's rename can THROW FileNotFoundException (the
          // copy fallback stats a vanished source) rather than return
          // false — both spellings of the same benign race (r16)
          val renamed =
            try fs.rename(p, dst)
            catch { case _: java.io.FileNotFoundException => false }
          if (!renamed) {
            if (fs.exists(dst)) fs.delete(p, false)
            else if (fs.exists(p))
              throw new java.io.IOException(s"vacuum: cannot promote $p")
            // else: the concurrent winner already promoted and cleaned it
          }
        }
      }
    fs.delete(tmp, true)
  }
}
