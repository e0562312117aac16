package graft.sources

import graft.functions.Jts
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types._
import org.locationtech.jts.geom.{Coordinate, Geometry, LineString, Point, Polygon}

import java.nio.{ByteBuffer, ByteOrder}

/**
 * FlatGeobuf (.fgb) reader, written against the PUBLIC spec
 * (flatgeobuf.org; reference consumes it via GDAL replacement scans —
 * gdal/functions/st_read.cpp:598-613, test data
 * test/data/amsterdam_roads.fgb).
 *
 * Layout: 8-byte magic `fgb\3fgb\0` · uint32 header length · Header
 * flatbuffer · optional packed Hilbert R-tree index · length-prefixed
 * Feature flatbuffers. The flatbuffers are decoded with a minimal
 * hand-rolled table walker (same approach as [[OsmPbf]]'s protobuf
 * parser — no new dependencies).
 *
 * Scale shape: the packed index stores each feature's byte offset, so
 * the file SPLITS — the driver reads only the header plus ~P sampled
 * leaf offsets (a few seeks, no data scan), and each task streams its
 * own byte range. Without an index the features are read sequentially
 * in a single task (they are self-delimiting but boundaries are
 * unknowable mid-stream).
 */
object FlatGeobuf {

  // ---- minimal flatbuffers table walker --------------------------------
  private final class Fb(val bb: ByteBuffer) {
    def u8(p: Int): Int = bb.get(p) & 0xFF
    def i32(p: Int): Int = bb.getInt(p)
    def u16(p: Int): Int = bb.getShort(p) & 0xFFFF
    def u32(p: Int): Long = bb.getInt(p) & 0xFFFFFFFFL
    def i64(p: Int): Long = bb.getLong(p)
    def f32(p: Int): Float = bb.getFloat(p)
    def f64(p: Int): Double = bb.getDouble(p)
    def root: Int = i32(0)
    /** absolute position of field `slot` of table at `t`, or 0 if absent */
    def field(t: Int, slot: Int): Int = {
      val vt = t - i32(t)
      val vtSize = u16(vt)
      val off = 4 + slot * 2
      if (off >= vtSize) 0
      else {
        val fo = u16(vt + off)
        if (fo == 0) 0 else t + fo
      }
    }
    /** follow a uoffset field to its target (string/vector/table) */
    def indirect(p: Int): Int = p + i32(p)
    def vectorLen(target: Int): Int = i32(target)
    def vectorData(target: Int): Int = target + 4
    def string(p: Int): String = {
      val t = indirect(p)
      val len = i32(t)
      val arr = new Array[Byte](len)
      val dup = bb.duplicate(); dup.position(t + 4); dup.get(arr)
      new String(arr, java.nio.charset.StandardCharsets.UTF_8)
    }
  }

  private def fb(bytes: Array[Byte]): Fb =
    new Fb(ByteBuffer.wrap(bytes).order(ByteOrder.LITTLE_ENDIAN))

  // ---- header ----------------------------------------------------------
  /** Column types from the public schema (header.fbs ColumnType). */
  private val ColByte = 0; private val ColUByte = 1; private val ColBool = 2
  private val ColShort = 3; private val ColUShort = 4; private val ColInt = 5
  private val ColUInt = 6; private val ColLong = 7; private val ColULong = 8
  private val ColFloat = 9; private val ColDouble = 10; private val ColString = 11
  private val ColJson = 12; private val ColDateTime = 13; private val ColBinary = 14

  case class FgbColumn(name: String, colType: Int)
  case class FgbHeader(
      geometryType: Int, hasZ: Boolean, columns: IndexedSeq[FgbColumn],
      featuresCount: Long, indexNodeSize: Int, headerLen: Int,
      name: String = "", crsOrg: String = "", crsCode: Int = 0, crsWkt: String = "")

  private def parseHeader(bytes: Array[Byte]): FgbHeader = {
    val b = fb(bytes)
    val t = b.root
    def scalarU8(slot: Int, dflt: Int): Int = {
      val p = b.field(t, slot); if (p == 0) dflt else b.u8(p)
    }
    val geomType = scalarU8(2, 0)
    val hasZ = scalarU8(3, 0) != 0
    val colsField = b.field(t, 7)
    val columns: IndexedSeq[FgbColumn] =
      if (colsField == 0) IndexedSeq.empty
      else {
        val vec = b.indirect(colsField)
        val n = b.vectorLen(vec)
        (0 until n).map { i =>
          val elemPos = b.vectorData(vec) + i * 4
          val ct = b.indirect(elemPos)
          val nameField = b.field(ct, 0)
          val name = if (nameField == 0) s"col_$i" else b.string(nameField)
          val typField = b.field(ct, 1)
          FgbColumn(name, if (typField == 0) 0 else b.u8(typField))
        }
      }
    val fcField = b.field(t, 8)
    val featuresCount = if (fcField == 0) 0L else b.i64(fcField)
    val nsField = b.field(t, 9)
    val nodeSize = if (nsField == 0) 16 else b.u16(nsField)
    val nameField = b.field(t, 0)
    val layerName = if (nameField == 0) "" else b.string(nameField)
    // crs table (spec Header slot 10): org=0, code=1, name=2, desc=3, wkt=4
    val crsField = b.field(t, 10)
    val (crsOrg, crsCode, crsWkt) =
      if (crsField == 0) ("", 0, "")
      else {
        val ct = b.indirect(crsField)
        val orgF = b.field(ct, 0); val codeF = b.field(ct, 1); val wktF = b.field(ct, 4)
        (if (orgF == 0) "" else b.string(orgF),
         if (codeF == 0) 0 else b.i32(codeF),
         if (wktF == 0) "" else b.string(wktF))
      }
    FgbHeader(geomType, hasZ, columns, featuresCount, nodeSize, bytes.length,
      layerName, crsOrg, crsCode, crsWkt)
  }

  /** FlatGeobuf GeometryType enum name (spec geometry_type). */
  def geometryTypeName(t: Int): String = t match {
    case 0 => "Unknown"; case 1 => "Point"; case 2 => "LineString"
    case 3 => "Polygon"; case 4 => "MultiPoint"; case 5 => "MultiLineString"
    case 6 => "MultiPolygon"; case 7 => "GeometryCollection"
    case other => s"Unknown($other)"
  }

  /** Packed Hilbert R-tree byte size (spec packed_r_tree algorithm):
   *  one 40-byte node (4 doubles + uint64 feature offset) per feature
   *  plus the internal levels. */
  private def treeSize(numItems: Long, nodeSizeIn: Int): Long = {
    if (numItems == 0) return 0L
    val nodeSize = math.min(math.max(nodeSizeIn, 2), 65535)
    var count = numItems
    var total = numItems
    while (count != 1) {
      count = (count + nodeSize - 1) / nodeSize
      total += count
    }
    total * 40L
  }

  private def totalNodes(numItems: Long, nodeSize: Int): Long = treeSize(numItems, nodeSize) / 40L

  // ---- schema ----------------------------------------------------------
  private def sparkType(colType: Int): DataType = colType match {
    case ColByte | ColUByte | ColShort | ColUShort | ColInt => IntegerType
    case ColUInt | ColLong | ColULong => LongType
    case ColBool => BooleanType
    case ColFloat => FloatType
    case ColDouble => DoubleType
    case ColString | ColJson | ColDateTime => StringType
    case ColBinary => BinaryType
    case _ => StringType
  }

  def schemaOf(header: FgbHeader): StructType =
    StructType(header.columns.map(c => StructField(c.name, sparkType(c.colType))) :+
      StructField("geom", BinaryType))

  // ---- geometry --------------------------------------------------------
  /** GeometryType enum (geometry.fbs): 1=Point 2=LineString 3=Polygon
   *  4=MultiPoint 5=MultiLineString 6=MultiPolygon 7=GeometryCollection */
  private def parseGeometry(b: Fb, gt: Int, typeHint: Int, hasZ: Boolean): Geometry = {
    val typField = b.field(gt, 6)
    val typ = if (typField == 0) typeHint else { val v = b.u8(typField); if (v == 0) typeHint else v }

    def doubles(slot: Int): Array[Double] = {
      val f = b.field(gt, slot)
      if (f == 0) Array.empty
      else {
        val vec = b.indirect(f)
        val n = b.vectorLen(vec)
        val out = new Array[Double](n)
        var i = 0
        while (i < n) { out(i) = b.f64(b.vectorData(vec) + i * 8); i += 1 }
        out
      }
    }
    def ends(): Array[Int] = {
      val f = b.field(gt, 0)
      if (f == 0) Array.empty
      else {
        val vec = b.indirect(f)
        val n = b.vectorLen(vec)
        val out = new Array[Int](n)
        var i = 0
        while (i < n) { out(i) = b.u32(b.vectorData(vec) + i * 4).toInt; i += 1 }
        out
      }
    }
    def coords(xy: Array[Double], z: Array[Double], from: Int, until: Int): Array[Coordinate] = {
      val out = new Array[Coordinate](until - from)
      var i = from
      while (i < until) {
        out(i - from) =
          if (hasZ && z.nonEmpty) new Coordinate(xy(2 * i), xy(2 * i + 1), z(i))
          else new Coordinate(xy(2 * i), xy(2 * i + 1))
        i += 1
      }
      out
    }
    def rings(xy: Array[Double], z: Array[Double]): Array[Array[Coordinate]] = {
      val e = ends()
      val nPts = xy.length / 2
      val bounds = if (e.isEmpty) Array(nPts) else e
      var start = 0
      bounds.map { end => val cs = coords(xy, z, start, end); start = end; cs }
    }
    def parts(hint: Int): IndexedSeq[Geometry] = {
      val f = b.field(gt, 7)
      if (f == 0) IndexedSeq.empty
      else {
        val vec = b.indirect(f)
        val n = b.vectorLen(vec)
        (0 until n).map { i =>
          val elemPos = b.vectorData(vec) + i * 4
          parseGeometry(b, b.indirect(elemPos), hint, hasZ)
        }
      }
    }

    val xy = doubles(1); val z = if (hasZ) doubles(2) else Array.empty[Double]
    val gf = Jts.gf
    typ match {
      case 1 =>
        if (xy.isEmpty) gf.createPoint()
        else gf.createPoint(coords(xy, z, 0, 1)(0))
      case 2 => gf.createLineString(coords(xy, z, 0, xy.length / 2))
      case 3 =>
        val rs = rings(xy, z)
        if (rs.isEmpty) gf.createPolygon()
        else gf.createPolygon(gf.createLinearRing(rs.head),
          rs.tail.map(r => gf.createLinearRing(r)))
      case 4 => gf.createMultiPointFromCoords(coords(xy, z, 0, xy.length / 2))
      case 5 =>
        gf.createMultiLineString(rings(xy, z).map(r => gf.createLineString(r)))
      case 6 =>
        // Writers (GDAL/C++/TS) flatten a single-polygon MultiPolygon to
        // bare xy/ends with no parts vector — decode that shape as one
        // wrapped Polygon rather than an EMPTY MultiPolygon.
        if (b.field(gt, 7) == 0 && xy.nonEmpty) {
          val rs = rings(xy, z)
          val poly = gf.createPolygon(gf.createLinearRing(rs.head),
            rs.tail.map(r => gf.createLinearRing(r)))
          gf.createMultiPolygon(Array(poly))
        } else
          gf.createMultiPolygon(parts(3).map(_.asInstanceOf[Polygon]).toArray)
      case 7 => gf.createGeometryCollection(parts(0).toArray)
      case other => throw new IllegalArgumentException(s"FlatGeobuf: unsupported geometry type $other")
    }
  }

  // ---- properties ------------------------------------------------------
  private def parseProperties(
      bytes: Array[Byte], columns: IndexedSeq[FgbColumn], out: Array[Any]): Unit = {
    if (bytes == null) return
    val bb = ByteBuffer.wrap(bytes).order(ByteOrder.LITTLE_ENDIAN)
    while (bb.remaining() >= 2) {
      val idx = bb.getShort & 0xFFFF
      val colType = if (idx < columns.length) columns(idx).colType else ColString
      val value: Any = colType match {
        case ColByte => bb.get.toInt
        case ColUByte => (bb.get & 0xFF): Int
        case ColBool => bb.get != 0
        case ColShort => bb.getShort.toInt
        case ColUShort => (bb.getShort & 0xFFFF): Int
        case ColInt => bb.getInt
        case ColUInt => bb.getInt & 0xFFFFFFFFL
        case ColLong | ColULong => bb.getLong
        case ColFloat => bb.getFloat
        case ColDouble => bb.getDouble
        case ColString | ColJson | ColDateTime =>
          val len = bb.getInt
          val arr = new Array[Byte](len); bb.get(arr)
          new String(arr, java.nio.charset.StandardCharsets.UTF_8)
        case ColBinary =>
          val len = bb.getInt
          val arr = new Array[Byte](len); bb.get(arr)
          arr
        case _ =>
          val len = bb.getInt
          val arr = new Array[Byte](len); bb.get(arr)
          new String(arr, java.nio.charset.StandardCharsets.UTF_8)
      }
      if (idx < out.length) out(idx) = value
    }
  }

  // ---- reader ----------------------------------------------------------
  private val MagicLen = 8

  private def openHeader(
      fs: org.apache.hadoop.fs.FileSystem,
      path: org.apache.hadoop.fs.Path): (FgbHeader, Long) = {
    val in = fs.open(path)
    try {
      val magic = new Array[Byte](MagicLen)
      in.readFully(0, magic)
      require(magic(0) == 'f' && magic(1) == 'g' && magic(2) == 'b' && magic(3) == 3,
        s"not a FlatGeobuf v3 file: $path")
      val lenBuf = new Array[Byte](4)
      in.readFully(MagicLen, lenBuf)
      val headerLen = ByteBuffer.wrap(lenBuf).order(ByteOrder.LITTLE_ENDIAN).getInt
      val headerBytes = new Array[Byte](headerLen)
      in.readFully(MagicLen + 4, headerBytes)
      val header = parseHeader(headerBytes)
      val indexSize = if (header.indexNodeSize > 0) treeSize(header.featuresCount, header.indexNodeSize) else 0L
      val featureStart = MagicLen + 4 + headerLen + indexSize
      (header, featureStart)
    } finally in.close()
  }

  /** Per-level node index bounds [start, end), bottom-up: index 0 =
   *  leaves, last = root [0, 1) (spec packed_r_tree level layout). */
  private def levelBounds(items: Long, nodeSize: Int): IndexedSeq[(Long, Long)] = {
    var n = items
    var numNodes = n
    val levelNumNodes = scala.collection.mutable.ArrayBuffer(n)
    while (n != 1) { n = (n + nodeSize - 1) / nodeSize; numNodes += n; levelNumNodes += n }
    var acc = numNodes
    levelNumNodes.map { size => val b = (acc - size, acc); acc -= size; b }.toIndexedSeq
  }

  /**
   * Packed-Hilbert-R-tree search (spec streamSearch algorithm): BFS from
   * the root, reading only the node ranges whose bbox intersects the
   * query — a handful of driver-side seeks, never the feature data.
   * Returns merged feature byte ranges [start, end) relative to the
   * feature section. This is the reference's `spatial_filter` pushdown
   * applied INSIDE the scan (st_read.cpp:52-62,243-260): candidates by
   * stored bbox; the exact predicate stays a residual filter above.
   */
  private[sources] def searchRanges(
      fs: org.apache.hadoop.fs.FileSystem, path: org.apache.hadoop.fs.Path,
      header: FgbHeader, fileLen: Long,
      bbox: (Double, Double, Double, Double)): Array[(Long, Long)] = {
    val items = header.featuresCount
    val nodeSize = math.min(math.max(header.indexNodeSize, 2), 65535)
    val bounds = levelBounds(items, nodeSize)
    val numNodes = bounds.head._2
    val leafStartIdx = numNodes - items
    val indexStart = (MagicLen + 4 + header.headerLen).toLong
    val featureStart = indexStart + numNodes * 40L
    val featuresLen = fileLen - featureStart
    val (qx0, qy0, qx1, qy1) = bbox

    val in = fs.open(path)
    try {
      // hits: (item index, feature byte offset), found via BFS
      val hits = scala.collection.mutable.ArrayBuffer[(Long, Long)]()
      val queue = scala.collection.mutable.Queue[(Long, Int)]((0L, bounds.length - 1))
      while (queue.nonEmpty) {
        val (first, level) = queue.dequeue()
        val end = math.min(first + nodeSize, bounds(level)._2)
        val isLeaf = first >= leafStartIdx
        val nBytes = ((end - first) * 40L).toInt
        val block = new Array[Byte](nBytes)
        in.readFully(indexStart + first * 40L, block)
        val bb = ByteBuffer.wrap(block).order(ByteOrder.LITTLE_ENDIAN)
        var pos = first
        while (pos < end) {
          val base = ((pos - first) * 40L).toInt
          val minX = bb.getDouble(base); val minY = bb.getDouble(base + 8)
          val maxX = bb.getDouble(base + 16); val maxY = bb.getDouble(base + 24)
          val off = bb.getLong(base + 32)
          if (maxX >= qx0 && minX <= qx1 && maxY >= qy0 && minY <= qy1) {
            if (isLeaf) hits += ((pos - leafStartIdx, off))
            else queue.enqueue((off, level - 1))
          }
          pos += 1
        }
      }
      if (hits.isEmpty) return Array.empty
      // merge runs of consecutive item indexes into byte ranges; the run
      // end is the NEXT item's offset (read from its leaf node) or EOF
      val sorted = hits.sortBy(_._1).toArray
      // spec files store features in index (Hilbert) order; if this one
      // does not, per-run ends would be wrong — full scan is still correct
      var monotonic = true
      var k = 1
      while (k < sorted.length) { if (sorted(k)._2 < sorted(k - 1)._2) monotonic = false; k += 1 }
      if (!monotonic) return Array((0L, featuresLen))
      val leafOffsetOf: Long => Long = { item =>
        val buf = new Array[Byte](8)
        in.readFully(indexStart + (leafStartIdx + item) * 40L + 32L, buf)
        ByteBuffer.wrap(buf).order(ByteOrder.LITTLE_ENDIAN).getLong
      }
      val ranges = scala.collection.mutable.ArrayBuffer[(Long, Long)]()
      var i = 0
      while (i < sorted.length) {
        var j = i
        while (j + 1 < sorted.length && sorted(j + 1)._1 == sorted(j)._1 + 1) j += 1
        val start = sorted(i)._2
        val endOff =
          if (sorted(j)._1 + 1 < items) leafOffsetOf(sorted(j)._1 + 1) else featuresLen
        ranges += ((start, endOff))
        i = j + 1
      }
      // run ends come from NON-hit items, which the hit-offset
      // monotonicity check above cannot vouch for — re-validate the
      // final ranges (each non-empty, strictly ordered, disjoint) and
      // fall back to the full scan on any violation
      var ok = true
      var r = 0
      while (r < ranges.length) {
        if (ranges(r)._2 <= ranges(r)._1) ok = false
        if (r > 0 && ranges(r)._1 < ranges(r - 1)._2) ok = false
        r += 1
      }
      if (!ok) return Array((0L, featuresLen))
      ranges.toArray
    } finally in.close()
  }

  /** Sample P+1 leaf-node feature offsets from the packed index (a few
   *  driver-side seeks) so each task gets a feature-aligned byte range. */
  private def partitionOffsets(
      fs: org.apache.hadoop.fs.FileSystem, path: org.apache.hadoop.fs.Path,
      header: FgbHeader, parts: Int): Array[Long] = {
    val items = header.featuresCount
    val nodes = totalNodes(items, header.indexNodeSize)
    val indexStart = (MagicLen + 4 + header.headerLen).toLong
    val leafStart = indexStart + (nodes - items) * 40L
    val in = fs.open(path)
    try {
      val p = math.min(parts.toLong, items)
      val buf = new Array[Byte](8)
      (0L until p).map { i =>
        val item = i * items / p
        in.readFully(leafStart + item * 40L + 32L, buf)
        ByteBuffer.wrap(buf).order(ByteOrder.LITTLE_ENDIAN).getLong
      // The spec sorts features by Hilbert value, but an indexed file may
      // store features out of index order; sampled offsets are range
      // starts, so sorting keeps every byte range (none silently dropped).
      }.toArray.sorted
    } finally in.close()
  }

  /**
   * Read a .fgb file into (columns..., geom WKB). With a spatial index
   * present the scan is split across `numPartitions` feature-aligned
   * byte ranges (default: spark.default.parallelism).
   *
   * With `bbox` set and an index present, the packed R-tree prunes the
   * scan to candidate byte ranges (features whose STORED bbox
   * intersects the query) — callers apply the exact spatial predicate
   * as a residual filter on top, same contract as the reference's
   * `spatial_filter` st_read option.
   */
  def read(
      spark: SparkSession, path: String, numPartitions: Int = 0,
      bbox: Option[(Double, Double, Double, Double)] = None,
      maxBatchSize: Int = 0): DataFrame = {
    val hPath = new org.apache.hadoop.fs.Path(path)
    val conf = spark.sparkContext.hadoopConfiguration
    val fs = hPath.getFileSystem(conf)
    val (header, featureStart) = openHeader(fs, hPath)
    val fileLen = fs.getFileStatus(hPath).getLen
    val schema = schemaOf(header)
    val nParts = if (numPartitions > 0) numPartitions
      else if (maxBatchSize > 0 && header.featuresCount > 0)
        math.max(1, ((header.featuresCount + maxBatchSize - 1) / maxBatchSize).toInt)
      else spark.sparkContext.defaultParallelism
    val hasIndex = header.indexNodeSize > 0 && header.featuresCount > 1

    // feature-aligned [start, end) ranges relative to featureStart
    val ranges: Array[(Long, Long)] = bbox match {
      case Some(box) if hasIndex =>
        searchRanges(fs, hPath, header, fileLen, box)
      case _ if hasIndex && nParts > 1 =>
        val offs = partitionOffsets(fs, hPath, header, nParts)
        val bounds = offs :+ (fileLen - featureStart)
        bounds.sliding(2).map(a => (a(0), a(1))).filter(r => r._2 > r._1).toArray
      case _ => Array((0L, fileLen - featureStart))
    }
    if (ranges.isEmpty) return spark.createDataFrame(
      new java.util.ArrayList[org.apache.spark.sql.Row](), schema)

    val columns = header.columns
    val geomTypeHint = header.geometryType
    val hasZ = header.hasZ
    val pathStr = path
    val confBc = spark.sparkContext.broadcast(
      new org.apache.spark.util.SerializableConfiguration(conf))

    // a bbox search can return many small ranges — group them so one
    // task streams several ranges off one open stream (seek between)
    val grouped: IndexedSeq[IndexedSeq[(Long, Long)]] =
      if (ranges.length <= nParts) ranges.map(IndexedSeq(_)).toIndexedSeq
      else {
        val per = (ranges.length + nParts - 1) / nParts
        ranges.grouped(per).map(_.toIndexedSeq).toIndexedSeq
      }

    val rows = spark.sparkContext.parallelize(grouped, math.max(1, grouped.length))
      .flatMap { rs =>
        val p = new org.apache.hadoop.fs.Path(pathStr)
        val fsL = p.getFileSystem(confBc.value.value)
        val in = fsL.open(p)
        var closed = false
        def closeOnce(): Unit = if (!closed) { closed = true; in.close() }
        // early termination (limit/take/task failure) must not leak the stream
        Option(org.apache.spark.TaskContext.get())
          .foreach(_.addTaskCompletionListener[Unit](_ => closeOnce()))
        val lenBuf = new Array[Byte](4)
        var rangeIdx = 0
        var pos = 0L
        var end = -1L
        new Iterator[Row] {
          override def hasNext: Boolean = {
            while (pos >= end && rangeIdx < rs.length) {
              val r = rs(rangeIdx); rangeIdx += 1
              pos = r._1; end = r._2
              if (pos < end) in.seek(featureStart + pos)
            }
            val more = pos < end
            if (!more) closeOnce()
            more
          }
          override def next(): Row = {
            in.readFully(lenBuf, 0, 4)
            val len = ByteBuffer.wrap(lenBuf).order(ByteOrder.LITTLE_ENDIAN).getInt
            val featBytes = new Array[Byte](len)
            in.readFully(featBytes, 0, len)
            pos += 4 + len
            val b = fb(featBytes)
            val t = b.root
            val values = new Array[Any](columns.length + 1)
            val propsField = b.field(t, 1)
            if (propsField != 0) {
              val vec = b.indirect(propsField)
              val n = b.vectorLen(vec)
              val arr = new Array[Byte](n)
              val dup = b.bb.duplicate(); dup.position(b.vectorData(vec)); dup.get(arr)
              parseProperties(arr, columns, values)
            }
            val geomField = b.field(t, 0)
            if (geomField != 0) {
              val g = parseGeometry(b, b.indirect(geomField), geomTypeHint, hasZ)
              values(columns.length) = Jts.write(g)
            }
            Row.fromSeq(values.toIndexedSeq)
          }
        }
      }
    spark.createDataFrame(rows, schema)
  }

  /** Test hook: encode a geometry table the way flattening writers
   *  (GDAL/C++/TS) encode a SINGLE-part Multi* — the part's rings
   *  spilled into bare top-level xy/ends with NO `parts` vector — then
   *  decode it with the standard parser. Locks in the non-EMPTY decode
   *  of that shape (our own writer always emits `parts`). */
  private[graft] def decodeFlattenedSinglePart(wkt: String): Geometry = {
    val g = Jts.fromWkt(wkt)
    require(g.getNumGeometries == 1, "flattening only applies to single-part collections")
    val rings: Seq[LineString] = g.getGeometryN(0) match {
      case p: Polygon => p.getExteriorRing +: (0 until p.getNumInteriorRing).map(p.getInteriorRingN)
      case l: LineString => Seq(l)
      case other => throw new IllegalArgumentException(s"not a flattenable part: ${other.getGeometryType}")
    }
    val all = rings.flatMap(_.getCoordinates).toArray
    val xy = new Array[Double](all.length * 2)
    var i = 0
    while (i < all.length) { xy(2 * i) = all(i).x; xy(2 * i + 1) = all(i).y; i += 1 }
    val ends = new Array[Int](rings.length)
    var acc = 0
    rings.indices.foreach { j => acc += rings(j).getNumPoints; ends(j) = acc }
    val b = new FbBuilder()
    val xyVec = b.createDoubleVector(xy)
    val endsVec = if (ends.length > 1) b.createUIntVector(ends) else 0
    b.startTable(8)
    if (endsVec != 0) b.slotOffset(0, endsVec)
    b.slotOffset(1, xyVec)
    b.slotByte(6, jtsTypeCode(g))
    val bytes = b.finish(b.endTable())
    val f = fb(bytes)
    parseGeometry(f, f.root, jtsTypeCode(g), hasZ = false)
  }

  /** Bytes of feature data a bbox query would read (index-pruned vs
   *  full) — exposed for tests/diagnostics. */
  def prunedBytes(spark: SparkSession, path: String,
      bbox: (Double, Double, Double, Double)): (Long, Long) = {
    val hPath = new org.apache.hadoop.fs.Path(path)
    val fs = hPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val (header, featureStart) = openHeader(fs, hPath)
    val fileLen = fs.getFileStatus(hPath).getLen
    val full = fileLen - featureStart
    if (header.indexNodeSize <= 0 || header.featuresCount <= 1) return (full, full)
    val pruned = searchRanges(fs, hPath, header, fileLen, bbox).map(r => r._2 - r._1).sum
    (pruned, full)
  }

  /** Header metadata for ST_Read_Meta. */
  def meta(spark: SparkSession, path: String): (FgbHeader, StructType) = {
    val hPath = new org.apache.hadoop.fs.Path(path)
    val fs = hPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val (header, _) = openHeader(fs, hPath)
    (header, schemaOf(header))
  }

  // ---- writer ----------------------------------------------------------

  /** Minimal back-to-front flatbuffers builder — the wire format is
   *  public (flatbuffers.dev "FlatBuffers internals"); only what the
   *  .fgb writer needs: LE scalars, scalar vectors, strings, tables,
   *  vectors of table offsets. Mirrors the reference builder's
   *  grow-to-front buffer + vtable layout. */
  private final class FbBuilder(initialSize: Int = 256) {
    private var buf = new Array[Byte](initialSize)
    private var space = initialSize
    private var minalign = 1
    private var vtable: Array[Int] = _
    private var objectStart = 0

    private def offset: Int = buf.length - space

    private def ensure(bytes: Int): Unit = {
      if (space < bytes) {
        val used = buf.length - space
        var newLen = buf.length
        while (newLen - used < bytes) newLen <<= 1
        val nb = new Array[Byte](newLen)
        System.arraycopy(buf, space, nb, newLen - used, used)
        space = newLen - used
        buf = nb
      }
    }
    private def pad(n: Int): Unit = { var i = 0; while (i < n) { space -= 1; buf(space) = 0; i += 1 } }
    private def prep(size: Int, additional: Int): Unit = {
      if (size > minalign) minalign = size
      val alignSize = (-(buf.length - space + additional)) & (size - 1)
      ensure(alignSize + size + additional)
      pad(alignSize)
    }
    private def putByte(v: Byte): Unit = { space -= 1; buf(space) = v }
    private def putShort(v: Short): Unit = {
      space -= 2; buf(space) = v.toByte; buf(space + 1) = (v >> 8).toByte
    }
    private def putInt(v: Int): Unit = {
      space -= 4
      buf(space) = v.toByte; buf(space + 1) = (v >> 8).toByte
      buf(space + 2) = (v >> 16).toByte; buf(space + 3) = (v >> 24).toByte
    }
    private def putLong(v: Long): Unit = {
      space -= 8
      var i = 0
      while (i < 8) { buf(space + i) = (v >> (8 * i)).toByte; i += 1 }
    }
    def addByte(v: Int): Unit = { prep(1, 0); putByte(v.toByte) }
    def addShort(v: Int): Unit = { prep(2, 0); putShort(v.toShort) }
    def addInt(v: Int): Unit = { prep(4, 0); putInt(v) }
    def addLong(v: Long): Unit = { prep(8, 0); putLong(v) }
    def addOffset(off: Int): Unit = { prep(4, 0); putInt(offset - off + 4) }

    def createString(s: String): Int = {
      val utf8 = s.getBytes(java.nio.charset.StandardCharsets.UTF_8)
      addByte(0) // NUL terminator
      prep(4, utf8.length)
      space -= utf8.length
      System.arraycopy(utf8, 0, buf, space, utf8.length)
      putInt(utf8.length)
      offset
    }
    def createDoubleVector(v: Array[Double]): Int = {
      prep(4, v.length * 8); prep(8, v.length * 8)
      var i = v.length - 1
      while (i >= 0) { putLong(java.lang.Double.doubleToLongBits(v(i))); i -= 1 }
      putInt(v.length)
      offset
    }
    def createUIntVector(v: Array[Int]): Int = {
      prep(4, v.length * 4)
      var i = v.length - 1
      while (i >= 0) { putInt(v(i)); i -= 1 }
      putInt(v.length)
      offset
    }
    def createByteVector(v: Array[Byte]): Int = {
      prep(4, v.length)
      space -= v.length
      System.arraycopy(v, 0, buf, space, v.length)
      putInt(v.length)
      offset
    }
    def createOffsetVector(offs: Array[Int]): Int = {
      prep(4, offs.length * 4)
      var i = offs.length - 1
      while (i >= 0) { putInt(offset - offs(i) + 4); i -= 1 }
      putInt(offs.length)
      offset
    }

    def startTable(numFields: Int): Unit = {
      vtable = new Array[Int](numFields)
      objectStart = offset
    }
    def slotByte(i: Int, v: Int): Unit = { addByte(v); vtable(i) = offset }
    def slotShort(i: Int, v: Int): Unit = { addShort(v); vtable(i) = offset }
    def slotLong(i: Int, v: Long): Unit = { addLong(v); vtable(i) = offset }
    def slotOffset(i: Int, off: Int): Unit = { addOffset(off); vtable(i) = offset }
    def endTable(): Int = {
      addInt(0) // soffset placeholder
      val vtableloc = offset
      var i = vtable.length - 1
      while (i >= 0 && vtable(i) == 0) i -= 1
      val trimmed = i + 1
      while (i >= 0) {
        addShort(if (vtable(i) != 0) vtableloc - vtable(i) else 0)
        i -= 1
      }
      addShort(vtableloc - objectStart)
      addShort((trimmed + 2) * 2)
      // patch the table's soffset to point at the vtable just written
      val pos = buf.length - vtableloc
      val so = offset - vtableloc
      buf(pos) = so.toByte; buf(pos + 1) = (so >> 8).toByte
      buf(pos + 2) = (so >> 16).toByte; buf(pos + 3) = (so >> 24).toByte
      vtableloc
    }
    def finish(root: Int): Array[Byte] = {
      prep(minalign, 4)
      addOffset(root)
      java.util.Arrays.copyOfRange(buf, space, buf.length)
    }
  }

  private def jtsTypeCode(g: Geometry): Int = g.getGeometryType match {
    case "Point" => 1
    case "LineString" | "LinearRing" => 2
    case "Polygon" => 3
    case "MultiPoint" => 4
    case "MultiLineString" => 5
    case "MultiPolygon" => 6
    case _ => 7
  }

  private def buildGeometryTable(b: FbBuilder, g: Geometry, hasZ: Boolean): Int = {
    val typ = jtsTypeCode(g)

    def flat(cs: Array[Coordinate]): (Array[Double], Array[Double]) = {
      val xy = new Array[Double](cs.length * 2)
      val z = if (hasZ) new Array[Double](cs.length) else null
      var i = 0
      while (i < cs.length) {
        xy(2 * i) = cs(i).x; xy(2 * i + 1) = cs(i).y
        if (z != null) z(i) = { val zv = cs(i).getZ; if (zv.isNaN) 0.0 else zv }
        i += 1
      }
      (xy, z)
    }
    // xy/ends for single-part types; ends = cumulative coordinate counts
    def ringed(rings: Seq[LineString]): (Array[Double], Array[Double], Array[Int]) = {
      val all = rings.flatMap(_.getCoordinates).toArray
      val (xy, z) = flat(all)
      val ends = new Array[Int](rings.length)
      var acc = 0
      rings.indices.foreach { i => acc += rings(i).getNumPoints; ends(i) = acc }
      (xy, z, ends)
    }

    val (xy, z, ends, parts): (Array[Double], Array[Double], Array[Int], Seq[Geometry]) = typ match {
      case 1 | 2 | 4 =>
        val (a, b2) = flat(g.getCoordinates); (a, b2, Array.empty[Int], Nil)
      case 3 =>
        val p = g.asInstanceOf[Polygon]
        val rings = p.getExteriorRing +: (0 until p.getNumInteriorRing).map(p.getInteriorRingN)
        val (a, b2, e) = ringed(rings)
        // single-ring polygon: ends may be omitted (spec flattening)
        (a, b2, if (e.length <= 1) Array.empty[Int] else e, Nil)
      case 5 =>
        val ml = g.asInstanceOf[org.locationtech.jts.geom.MultiLineString]
        val lines = (0 until ml.getNumGeometries).map(ml.getGeometryN(_).asInstanceOf[LineString])
        val (a, b2, e) = ringed(lines)
        (a, b2, if (e.length <= 1) Array.empty[Int] else e, Nil)
      case _ =>
        (Array.empty[Double], null, Array.empty[Int],
          (0 until g.getNumGeometries).map(g.getGeometryN))
    }

    val partOffs = parts.map(p => buildGeometryTable(b, p, hasZ)).toArray
    val partsVec = if (partOffs.nonEmpty) b.createOffsetVector(partOffs) else 0
    val zVec = if (z != null && z.nonEmpty) b.createDoubleVector(z) else 0
    val xyVec = if (xy.nonEmpty) b.createDoubleVector(xy) else 0
    val endsVec = if (ends.nonEmpty) b.createUIntVector(ends) else 0

    b.startTable(8)
    if (endsVec != 0) b.slotOffset(0, endsVec)
    if (xyVec != 0) b.slotOffset(1, xyVec)
    if (zVec != 0) b.slotOffset(2, zVec)
    b.slotByte(6, typ)
    if (partsVec != 0) b.slotOffset(7, partsVec)
    b.endTable()
  }

  private def sparkToColType(dt: DataType): Int = dt match {
    case IntegerType | ShortType | ByteType => ColInt
    case LongType => ColLong
    case BooleanType => ColBool
    case FloatType => ColFloat
    case DoubleType => ColDouble
    case BinaryType => ColBinary
    case _ => ColString
  }

  /**
   * Write an INDEXED .fgb: features Hilbert-ordered (the sort runs in
   * Spark, not the driver), then magic · header (index_node_size=16,
   * features_count=n) · packed Hilbert R-tree · features. The output
   * both splits across partitions and serves bbox pushdown through our
   * own reader (and any spec-conformant one). Feature bytes stream to
   * a temp sidecar while (bbox, offset) accumulate (40 B/feature on
   * the driver); the tree is then built bottom-up per the public
   * packed_r_tree algorithm.
   */
  def writeIndexed(df: DataFrame, geomCol: String, path: String): Unit = {
    import org.apache.spark.sql.functions.{col, lit}
    // global extent (one aggregation job) normalizes the Hilbert curve
    // the index stores a bbox per feature: null AND empty geometries
    // cannot participate, so they are excluded up front
    val indexable = df.filter(col(geomCol).isNotNull &&
      !graft.GeoFunctions.st_isempty(col(geomCol)))
    val (x0, y0, x1, y1) = GeoTable.extentOf(indexable, geomCol)
    val sorted = indexable.sort(
      graft.GeoFunctions.st_hilbert(col(geomCol), lit(x0), lit(y0), lit(x1), lit(y1)))
    write(sorted, geomCol, path, buildIndex = true)
  }

  /**
   * Write a single .fgb file (magic · header · length-prefixed
   * features; without `buildIndex` no spatial index is written —
   * `index_node_size` 0, readers fall back to a sequential feature
   * scan). Features stream through the driver partition-by-partition
   * (`toLocalIterator`) — FlatGeobuf is a single-file format, same
   * shape as the reference's single-writer COPY TO
   * (gdal/functions/st_write.cpp:558-569). For cluster-parallel output
   * prefer [[GeoTable.writeGeoParquet]].
   */
  def write(df: DataFrame, geomCol: String, path: String, buildIndex: Boolean = false): Unit = {
    DriverSink.guard(df, "FlatGeobuf", "GeoTable.writeGeoParquet")
    val schema = df.schema
    val geomIdx = schema.fieldIndex(geomCol)
    val propFields = schema.fields.zipWithIndex.filter(_._2 != geomIdx)
    val colDefs = propFields.map { case (f, i) => (f.name, sparkToColType(f.dataType), i) }

    // sniff dimensionality from the first row (header has_z is global)
    val firstRows = df.head(1)
    val hasZ = firstRows.nonEmpty && {
      val wkb = firstRows(0).get(geomIdx)
      wkb != null && {
        val c = Jts.read(wkb.asInstanceOf[Array[Byte]]).getCoordinate
        c != null && !c.getZ.isNaN
      }
    }

    // features stream to a local temp sidecar first: the header needs
    // features_count, and an index must precede the features in-file
    val tmp = java.io.File.createTempFile("graft-fgb", ".feat")
    try {
    val items = scala.collection.mutable.ArrayBuffer[(Double, Double, Double, Double, Long)]()
    var count = 0L
    val tout = new java.io.BufferedOutputStream(new java.io.FileOutputStream(tmp))
    try {
      var offset = 0L
      val it = df.toLocalIterator()
      while (it.hasNext) {
        val row = it.next()
        val fbb = new FbBuilder(512)
        val propBytes = encodeProperties(row, colDefs)
        val geomRaw = row.get(geomIdx)
        val g = if (geomRaw == null) null else Jts.read(geomRaw.asInstanceOf[Array[Byte]])
        val geomOff = if (g == null) 0 else buildGeometryTable(fbb, g, hasZ)
        val propsVec = if (propBytes.nonEmpty) fbb.createByteVector(propBytes) else 0
        fbb.startTable(3)
        if (geomOff != 0) fbb.slotOffset(0, geomOff)
        if (propsVec != 0) fbb.slotOffset(1, propsVec)
        val featBytes = fbb.finish(fbb.endTable())
        writeLe32(tout, featBytes.length)
        tout.write(featBytes)
        if (buildIndex) {
          require(g != null && !g.isEmpty,
            "indexed .fgb write requires non-null, non-empty geometries " +
              "(use writeIndexed, which excludes them, or write(buildIndex=false))")
          val e = g.getEnvelopeInternal
          items += ((e.getMinX, e.getMinY, e.getMaxX, e.getMaxY, offset))
        }
        offset += 4 + featBytes.length
        count += 1
      }
    } finally tout.close()

    val hPath = new org.apache.hadoop.fs.Path(path)
    val fs = hPath.getFileSystem(df.sparkSession.sparkContext.hadoopConfiguration)
    val out = fs.create(hPath, true)
    try {
      out.write(Array[Byte]('f', 'g', 'b', 3, 'f', 'g', 'b', 0))

      val hb = new FbBuilder(512)
      val colOffs = colDefs.map { case (name, ct, _) =>
        val nameOff = hb.createString(name)
        hb.startTable(2)
        hb.slotOffset(0, nameOff)
        hb.slotByte(1, ct)
        hb.endTable()
      }
      val colsVec = if (colOffs.nonEmpty) hb.createOffsetVector(colOffs) else 0
      hb.startTable(10)
      hb.slotByte(2, 0)          // geometry_type: Unknown (each feature carries its own)
      if (hasZ) hb.slotByte(3, 1)
      if (colsVec != 0) hb.slotOffset(7, colsVec)
      if (count > 0) hb.slotLong(8, count)
      // index_node_size defaults to 16 in the schema — 0 must be explicit
      hb.slotShort(9, if (buildIndex && count > 1) DefaultNodeSize else 0)
      val headerBytes = hb.finish(hb.endTable())
      writeLe32(out, headerBytes.length)
      out.write(headerBytes)

      if (buildIndex && count > 1) out.write(buildPackedIndex(items.toIndexedSeq))

      val in = new java.io.BufferedInputStream(new java.io.FileInputStream(tmp))
      try {
        val buf = new Array[Byte](64 * 1024)
        var n = in.read(buf)
        while (n > 0) { out.write(buf, 0, n); n = in.read(buf) }
      } finally in.close()
    } finally out.close()
    } finally tmp.delete() // also on failures during the feature stream
  }

  private val DefaultNodeSize = 16

  /** Packed Hilbert R-tree bytes (spec packed_r_tree layout): 40-byte
   *  nodes root-first; leaves are the last `n` nodes in feature order
   *  (the caller pre-sorts features by Hilbert value); an internal
   *  node's offset is its first child's absolute node index, a leaf's
   *  is the feature byte offset. */
  private def buildPackedIndex(
      items: IndexedSeq[(Double, Double, Double, Double, Long)]): Array[Byte] = {
    val n = items.length.toLong
    val nodeSize = DefaultNodeSize
    val bounds = levelBounds(n, nodeSize) // (0)=leaves … last=root [0,1)
    val numNodes = bounds.head._2
    require(numNodes * 40L <= Int.MaxValue,
      s"packed index for $n features needs ${numNodes * 40L} bytes (> 2 GiB); " +
        "write without an index (buildIndex=false) or split the dataset")
    val bb = ByteBuffer.allocate((numNodes * 40L).toInt).order(ByteOrder.LITTLE_ENDIAN)
    def put(node: Long, x0: Double, y0: Double, x1: Double, y1: Double, off: Long): Unit = {
      val base = (node * 40L).toInt
      bb.putDouble(base, x0); bb.putDouble(base + 8, y0)
      bb.putDouble(base + 16, x1); bb.putDouble(base + 24, y1)
      bb.putLong(base + 32, off)
    }
    val leafStart = numNodes - n
    items.zipWithIndex.foreach { case ((x0, y0, x1, y1, off), i) =>
      put(leafStart + i, x0, y0, x1, y1, off)
    }
    var level = 1
    while (level < bounds.length) {
      val (pStart, pEnd) = bounds(level)
      val (cStart, cEnd) = bounds(level - 1)
      var p = pStart
      while (p < pEnd) {
        val firstChild = cStart + (p - pStart) * nodeSize
        val lastChild = math.min(firstChild + nodeSize, cEnd)
        var (x0, y0, x1, y1) = (Double.MaxValue, Double.MaxValue, -Double.MaxValue, -Double.MaxValue)
        var c = firstChild
        while (c < lastChild) {
          val base = (c * 40L).toInt
          x0 = math.min(x0, bb.getDouble(base)); y0 = math.min(y0, bb.getDouble(base + 8))
          x1 = math.max(x1, bb.getDouble(base + 16)); y1 = math.max(y1, bb.getDouble(base + 24))
          c += 1
        }
        put(p, x0, y0, x1, y1, firstChild)
        p += 1
      }
      level += 1
    }
    bb.array()
  }

  private def writeLe32(out: java.io.OutputStream, v: Int): Unit =
    out.write(Array[Byte](v.toByte, (v >> 8).toByte, (v >> 16).toByte, (v >> 24).toByte))

  /** Encode one row's non-null properties as (u16 col idx · value). */
  private def encodeProperties(row: Row, colDefs: Array[(String, Int, Int)]): Array[Byte] = {
    val bos = new java.io.ByteArrayOutputStream()
    def le16(v: Int): Unit = { bos.write(v & 0xFF); bos.write((v >> 8) & 0xFF) }
    def le32(v: Int): Unit = { le16(v & 0xFFFF); le16((v >>> 16) & 0xFFFF) }
    def le64(v: Long): Unit = { le32(v.toInt); le32((v >>> 32).toInt) }
    colDefs.zipWithIndex.foreach { case ((_, ct, rowIdx), colIdx) =>
      val v = row.get(rowIdx)
      if (v != null) {
        le16(colIdx)
        ct match {
          case ColInt => le32(v match {
            case n: java.lang.Number => n.intValue(); case b: Boolean => if (b) 1 else 0
          })
          case ColLong => le64(v.asInstanceOf[java.lang.Number].longValue())
          case ColBool => bos.write(if (v.asInstanceOf[Boolean]) 1 else 0)
          case ColFloat => le32(java.lang.Float.floatToIntBits(v.asInstanceOf[Float]))
          case ColDouble => le64(java.lang.Double.doubleToLongBits(v.asInstanceOf[Double]))
          case ColBinary =>
            val arr = v.asInstanceOf[Array[Byte]]
            le32(arr.length); bos.write(arr)
          case _ =>
            val bytes = v.toString.getBytes(java.nio.charset.StandardCharsets.UTF_8)
            le32(bytes.length); bos.write(bytes, 0, bytes.length)
        }
      }
    }
    bos.toByteArray
  }
}
