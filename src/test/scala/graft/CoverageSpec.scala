package graft

import org.apache.spark.sql.catalyst.FunctionIdentifier

/**
 * COVERAGE.md drift gate: the doc claims to be generated from the live
 * registry against the reference's function index, so this spec makes
 * that claim enforceable — round 5 shipped the table with 7 rows
 * missing (ST_Force2D/3DZ/3DM/4D, ST_Point2D/3D/4D) while the
 * functions themselves were implemented and oracle-covered.
 */
class CoverageSpec extends SparkSpec {

  // ISO-8859-1: byte-transparent (never throws on the docs' non-UTF8
  // bytes) and identical to UTF-8 on the ASCII function names we match
  private implicit val codec: scala.io.Codec = scala.io.Codec.ISO8859

  // sbt runs tests with the project root as cwd; a run from anywhere
  // else fails here rather than checking some other checkout's doc
  private val repoRoot: String = {
    val cwd = new java.io.File(".").getCanonicalFile
    require(new java.io.File(cwd, "COVERAGE.md").isFile,
      s"COVERAGE.md not found in the working directory $cwd; run the suite from the project root")
    cwd.getPath
  }

  // the reference's function index, pinned as one name a line (its
  // provenance is in the file's header); where the reference snapshot
  // itself is present, its docs/functions.md must list the same names
  private lazy val refIndex: Set[String] = {
    val src = scala.io.Source.fromFile(
      new java.io.File(repoRoot, "src/test/resources/reference_functions.txt"))
    val pinned = try {
      src.getLines().map(_.trim).filter(l => l.nonEmpty && !l.startsWith("#")).toSet
    } finally src.close()
    val liveDoc = new java.io.File("/root/reference/docs/functions.md")
    if (liveDoc.isFile) {
      val live = scala.io.Source.fromFile(liveDoc)
      val index = try {
        val pat = """\| \[`(ST_[A-Za-z0-9_]+)`\]""".r
        live.getLines().flatMap(l => pat.findAllMatchIn(l).map(_.group(1))).toSet
      } finally live.close()
      assert(index == pinned, s"pinned reference index differs from $liveDoc: " +
        s"only pinned ${(pinned -- index).toSeq.sorted}, only live ${(index -- pinned).toSeq.sorted}")
    }
    pinned
  }

  private def coverageRows: Set[String] = {
    val src = scala.io.Source.fromFile(new java.io.File(repoRoot, "COVERAGE.md"))
    try {
      val pat = """^\| (ST_[A-Za-z0-9_]+)""".r
      src.getLines().flatMap(l => pat.findFirstMatchIn(l).map(_.group(1))).toSet
    } finally src.close()
  }

  test("every reference-index function has a COVERAGE.md row") {
    val missing = refIndex -- coverageRows
    assert(missing.isEmpty, s"COVERAGE.md is missing rows for: ${missing.toSeq.sorted.mkString(", ")}")
  }

  test("every COVERAGE.md reference row names a live registered function") {
    Graft.install(spark)
    val freg = spark.sessionState.functionRegistry
    val tfreg = spark.sessionState.tableFunctionRegistry
    val unregistered = refIndex.filterNot { name =>
      val id = FunctionIdentifier(name.toLowerCase)
      freg.functionExists(id) || tfreg.functionExists(id)
    }
    assert(unregistered.isEmpty,
      s"COVERAGE/reference functions not in the live registry: ${unregistered.toSeq.sorted.mkString(", ")}")
  }

  test("every driver-gate query is cited somewhere in COVERAGE.md") {
    // the pipeline/extras tables cite oracle rows as (q_...) — a new
    // SparkEntry.queries entry that never lands a COVERAGE citation is
    // the same drift class as the round-5 missing-rows bug
    val src = scala.io.Source.fromFile(new java.io.File(repoRoot, "COVERAGE.md"))
    val doc = try src.mkString finally src.close()
    val missing = SparkEntry.queries.keySet.filterNot(doc.contains)
    // geo/native/source rows are covered per-function in the reference
    // table; the gate here is the beyond-reference operator surface
    val pipelineMissing = missing.filter(n =>
      n.startsWith("q_doc_") || n.startsWith("q_emb_") || n.startsWith("q_events_"))
    assert(pipelineMissing.isEmpty,
      s"COVERAGE.md cites no row for: ${pipelineMissing.toSeq.sorted.mkString(", ")}")
  }

  test("a red row in the newest driver CORRECTNESS artifact cannot coexist with an unqualified COVERAGE claim") {
    // round-7 lesson: COVERAGE said "yes (oracle)" for q_emb_moments /
    // q_emb_cov while the driver hash was red — the drift gate only
    // checked citation PRESENCE, not driver outcome. Parse the newest
    // CORRECTNESS_r*.json; every query with any failed check must
    // either be un-cited or cited on a line that acknowledges the red
    // run ("red" / "re-certif").
    val arts = Option(new java.io.File(repoRoot).listFiles()).getOrElse(Array.empty)
      .filter(_.getName.matches("CORRECTNESS_r\\d+\\.json")).sortBy(_.getName)
    assume(arts.nonEmpty, "no driver CORRECTNESS artifact yet")
    val txt = java.nio.file.Files.readString(arts.last.toPath)
    val entry = """"(q[A-Za-z0-9_]+)":\s*\{([^}]*)\}""".r
    // only the three gating *_match fields flag a row — an err message or
    // an unrelated boolean containing "false" must not false-positive
    val gating = """"(rows|schema|hash)_match":\s*false""".r
    val red = entry.findAllMatchIn(txt)
      .filter(m => gating.findFirstIn(m.group(2)).isDefined)
      .map(_.group(1)).toSet
    val covSrc = scala.io.Source.fromFile(new java.io.File(repoRoot, "COVERAGE.md"))
    val covLines = try covSrc.getLines().toVector finally covSrc.close()
    val offending = for {
      q <- red.toSeq.sorted
      line <- covLines if line.contains(q)
      if line.contains("yes (") && !line.toLowerCase.matches(".*(red|re-certif).*")
    } yield s"$q on: ${line.take(100)}"
    assert(offending.isEmpty,
      s"COVERAGE.md claims 'yes' for driver-red queries (${arts.last.getName}):\n${offending.mkString("\n")}")
  }

  test("capability notes track the code: feature markers must be documented") {
    // the r12 lesson: WKT2 landed in Crs.scala but the ST_Transform
    // COVERAGE row still said "proj4 strings and WKT1" — the
    // function-name drift gates can't see capability growth INSIDE an
    // existing row. This net ties greppable code markers to required
    // COVERAGE keywords; adding a capability without documenting it
    // (or documenting one that was removed) is a red test either way.
    val cov = {
      val src = scala.io.Source.fromFile(new java.io.File(repoRoot, "COVERAGE.md"))
      try src.mkString finally src.close()
    }
    def srcHas(rel: String, marker: String): Boolean = {
      val f = new java.io.File(repoRoot, s"src/main/scala/graft/$rel")
      val s = scala.io.Source.fromFile(f)
      try s.mkString.contains(marker) finally s.close()
    }
    val markers = Seq(
      ("functions/Crs.scala", "wkt2ToProj4", "WKT2"),
      ("functions/Crs.scala", "proj4ToProjJson", "projjson"),
      ("sources/GeoPackageWrite.scala", "writeSpatialite", "writeSpatialite"),
      ("sources/GeoRead.scala", "\".kmz\"", "kmz"),
      ("functions/GeoExpressions.scala", "NativePolygonContains", "NativePolygonContains"),
      ("functions/Crs.scala", "projJsonToProj4", "PROJJSON documents accepted"),
      ("functions/Crs.scala", "class Krovak", "Krovak"),
      ("sources/GdbWrite.scala", "def write", "GdbWrite"),
      ("sources/GeoTable.scala", "def deleteWhere", "deleteWhere"),
      ("sources/GeoTable.scala", "def updateWhere", "updateWhere"),
      ("sources/Xlsx.scala", "def write", "xlsx"),
      ("functions/Ntv2.scala", "def parse", "NTv2"),
      ("operators/Sampling.scala", "def dsirSelect", "DSIR"),
      ("operators/SpatialCluster.scala", "def dbscan", "DBSCAN"),
      ("operators/Sampling.scala", "def weightedSampleK", "Efraimidis-Spirakis"),
      ("operators/Multimodal.scala", "def audioFrameFeatures", "audioFrameFeatures"),
      ("sources/GeoTableLog.scala", "def readVersion", "readVersion"),
      ("sources/PgDump.scala", "def write", "PGDump"),
      ("functions/GeoOps.scala", "st_lineinterpolatepoint", "Linear referencing"),
      ("sources/GeoTable.scala", "def compactDeltas", "compactDeltas"),
      ("functions/GeoJson.scala", "object EsriJson", "ESRI JSON"),
      ("streaming/Streams.scala", "def asofJoinStream", "asofJoinStream"),
      ("functions/GeoOps.scala", "\"st_geohash\"", "GeoHash"),
      ("functions/GeoOps.scala", "\"st_delaunaytriangles\"", "Triangulation"),
      ("functions/GeoOps.scala", "\"st_minimumboundingcircle\"", "bounding circle"),
      ("functions/GeoOps.scala", "\"st_segmentize\"", "Densify"),
      ("functions/GeoOps.scala", "\"st_subdivide\"", "Subdivide"),
      ("operators/SpatialCluster.scala", "def clusterIntersecting", "ClusterIntersecting"),
      ("sources/GeoTableLog.scala", "def versionAsOf", "AS OF"),
      ("sources/GeoTableLog.scala", "def casWrite", "optimistic concurrency"),
      ("sources/GeoTableLog.scala", "def repairRoot", "repairRoot"),
      ("operators/Multimodal.scala", "def videoFrameFeatures", "videoFrameFeatures"),
      ("operators/ZOrder.scala", "def writeZOrdered", "Z-order"),
      ("sources/GeoTableLog.scala", "def writeInflightMarker", "inflight"),
      ("sources/GeoTableLog.scala", "def entryDir", "single-winner"),
      ("operators/SpatialJoin.scala", "def joinClustered", "joinClustered"),
      ("streaming/Streams.scala", "def requireSigFormat", "__sig_v"),
      ("sources/GeoTableChanges.scala", "def readChanges", "readChanges"),
      ("streaming/GeoTableStream.scala", "class GeoTableSource", "skipChangeCommits"),
      ("streaming/GeoTableStream.scala", "readChangeFeed", "readChangeFeed"),
      ("Graft.scala", "st_table_changes", "st_table_changes"),
      ("sources/GeoTableLog.scala", "class EntryCache", "EntryCache"),
      ("streaming/GeoTableStream.scala", "maxVersionsPerTrigger", "maxVersionsPerTrigger"),
      ("sources/GeoTable.scala", "def stagedAppend", "stagedAppend"),
      ("operators/ZOrder.scala", "def appendZOrdered", "appendZOrdered"),
      ("sources/GeoTableLog.scala", "def versionSince", "versionSince"))
    markers.foreach { case (file, marker, keyword) =>
      assert(srcHas(file, marker) == cov.toLowerCase.contains(keyword.toLowerCase),
        s"capability drift: $file has '$marker' = ${srcHas(file, marker)} but COVERAGE.md " +
          s"mentions '$keyword' = ${cov.toLowerCase.contains(keyword.toLowerCase)}")
    }
  }

  test("row count matches the declared index size") {
    // the header states the index size; keep the literal honest
    val src = scala.io.Source.fromFile(new java.io.File(repoRoot, "COVERAGE.md"))
    val header = try src.getLines().take(6).mkString(" ") finally src.close()
    val declared = """(\d+) entries""".r.findFirstMatchIn(header).map(_.group(1).toInt)
    assert(declared.contains(refIndex.size),
      s"COVERAGE.md header declares ${declared.getOrElse(-1)} entries; reference index has ${refIndex.size}")
  }
}
