package graft

import graft.functions._
import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.graft.ColumnShim

/**
 * Entry point: registers the full ST_* surface into a SparkSession's
 * function registry (SQL callers) and exposes a typed Column API
 * (DataFrame callers). Mirrors the reference's extension-load
 * registration (spatial/src/spatial_extension.cpp → CoreModule::
 * Register, core/module.cpp:19-36).
 */
object Graft {

  val predicateNames: Seq[String] = Seq(
    "st_intersects", "st_contains", "st_containsproperly", "st_within",
    "st_covers", "st_coveredby", "st_crosses", "st_disjoint", "st_equals",
    "st_overlaps", "st_touches", "st_intersects_extent")

  /** Every SQL function graft registers, by name. [[install]] and
   *  [[graft.plans.GraftExtensions]] both walk this list. */
  val functions: Seq[(String, Seq[Expression] => Expression)] = {
    // reference-compatible aliases (docs/functions.md)
    val aliases = Seq(
      "st_numpoints" -> "st_npoints",
      "st_numgeometries" -> "st_ngeometries",
      "st_numinteriorrings" -> "st_ninteriorrings",
      "st_makepoint" -> "st_makepoint",
      "st_geomfromhexewkb" -> "st_geomfromhexwkb",
      "st_distance_spheroid_m" -> "st_distance_spheroid")
    // native-tier ST_Transform overloads (distinct names: a post-analysis
    // rewrite of st_transform would change output types under resolved
    // parents — see TransformNative scaladoc)
    def strArg(e: Expression): String = e.eval(null) match {
      case s: org.apache.spark.unsafe.types.UTF8String => s.toString
      case other => String.valueOf(other)
    }
    def xyArg(e: Seq[Expression]): Boolean =
      e.length <= 3 || e(3).eval(null).asInstanceOf[Boolean]
    Seq[(String, Seq[Expression] => Expression)](
      // the marker that makes `install` idempotent
      "st_graft_installed" -> (_ => org.apache.spark.sql.catalyst.expressions.Literal(true))) ++
    GeoOps.ops.keys.toSeq.map(name => name -> ((exprs: Seq[Expression]) => GeoScalar(name, exprs))) ++
    predicateNames.map(name =>
      name -> ((exprs: Seq[Expression]) => GeoPredicate(name, exprs(0), exprs(1)))) ++
    aliases.map { case (alias, target) =>
      alias -> ((exprs: Seq[Expression]) => GeoScalar(target, exprs)) } ++
    Seq[(String, Seq[Expression] => Expression)](
      "st_extent_agg" -> (e => StExtentAgg(e.head)),
      "st_envelope_agg" -> (e => StExtentAgg(e.head)),
      "st_union_agg" -> (e => StUnionAgg(e.head)),
      "st_intersection_agg" -> (e => StIntersectionAgg(e.head)),
      // pipeline expressions (SQL callers)
      "simhash" -> (e => SimHash(e.head)),
      // unicode cleanup (cross-certified vs the oracle engine's ICU impls)
      "nfc_normalize" -> (e => UnicodeNormalize(e.head, "NFC")),
      "unicode_normalize" -> (e => UnicodeNormalize(e(0),
        e(1).eval(null).asInstanceOf[org.apache.spark.unsafe.types.UTF8String].toString)),
      "strip_accents" -> (e => StripAccents(e.head)),
      "html_to_text" -> (e => HtmlToText(e.head)),
      "url_normalize" -> (e => UrlNormalize(e.head)),
      "doc_fingerprint" -> (e => Fingerprint(e.head)),
      "cosine_similarity" -> (e => CosineSimilarity(e(0), e(1))),
      "jaro_similarity" -> (e => JaroSimilarity(e(0), e(1))),
      "jaro_winkler_similarity" -> (e => JaroWinklerSimilarity(e(0), e(1))),
      "damerau_levenshtein" -> (e => DamerauLevenshtein(e(0), e(1))),
      "minhash_signature" -> (e => MinHashSignature(e.head)),
      "string_shingles" -> (e => StringShingles(e.head)),
      "topk_by_score" -> (e =>
        TopKByScore(e(0), e(1), e(2).eval(null).asInstanceOf[Number].intValue)),
      "top_ngram_fraction" -> (e => TopNgramFraction(e(0),
        if (e.length > 1) e(1).eval(null).asInstanceOf[Number].intValue else 2)),
      "st_transform_point2d" -> (e =>
        TransformNative(e(0), strArg(e(1)), strArg(e(2)), xyArg(e), isBox = false)),
      "st_transform_box2d" -> (e =>
        TransformNative(e(0), strArg(e(1)), strArg(e(2)), xyArg(e), isBox = true)))
  }

  /** Every SQL table function graft registers, by name: SELECT * FROM
   *  st_read('path') etc. (reference's replacement-scan sugar,
   *  st_read.cpp:598-613). Walked like [[functions]]. */
  val tableFunctions: Seq[(String, Seq[Expression] => LogicalPlan)] = {
    def litStr(e: Expression): String = e.eval(null) match {
      case s: org.apache.spark.unsafe.types.UTF8String => s.toString
      case other => other.toString
    }
    def litNum(e: Expression): Double = e.eval(null) match {
      case d: org.apache.spark.sql.types.Decimal => d.toDouble // SQL decimal literals (1.5)
      case n: java.lang.Number => n.doubleValue()
      case other => other.toString.toDouble
    }
    def planOf(df: org.apache.spark.sql.DataFrame) =
      df.queryExecution.analyzed
    // arities (reference st_read options, st_read.cpp:676-695):
    //   st_read(path)
    //   st_read(path, layer)
    //   st_read(path, 'POLYGON (...)')         -- spatial_filter (WKT)
    //   st_read(path, 'key=value, ...')        -- named options: layer,
    //       spatial_filter, keep_wkb, encoding, max_batch_size,
    //       xy (CSV point columns as "xcol:ycol"),
    //       allowed_drivers (;-separated short names),
    //       open_options (;-separated KEY=VALUE GDAL pairs),
    //       sibling_files (;-separated), sequential_layer_scan
    //   st_read(path, layer, 'POLYGON (...)')
    //   st_read(path, x0, y0, x1, y1)          -- spatial_filter_box
    //   st_read(path, layer, x0, y0, x1, y1)
    // a string argument is a spatial filter iff it parses as WKT (layer
    // names never start with a geometry type tag)
    def asWkt(s: String): Option[Array[Byte]] = {
      val t = s.trim.toUpperCase
      val isGeom = Seq("POINT", "LINESTRING", "POLYGON", "MULTIPOINT", "MULTILINESTRING",
        "MULTIPOLYGON", "GEOMETRYCOLLECTION").exists(t.startsWith)
      if (isGeom) Some(graft.functions.Jts.write(graft.functions.Jts.fromWkt(s))) else None
    }
    // top-level comma split (spatial_filter WKT values contain commas
    // inside parentheses)
    def splitTop(s: String): Seq[String] = {
      val out = scala.collection.mutable.ArrayBuffer[String]()
      val cur = new StringBuilder
      var depth = 0
      s.foreach {
        case '(' => depth += 1; cur += '('
        case ')' => depth -= 1; cur += ')'
        case ',' if depth == 0 => out += cur.result(); cur.clear()
        case c => cur += c
      }
      out += cur.result()
      out.toSeq.map(_.trim).filter(_.nonEmpty)
    }
    val optKeys = Set("layer", "spatial_filter", "keep_wkb", "encoding", "max_batch_size", "xy",
      "allowed_drivers", "open_options", "sibling_files", "sequential_layer_scan")
    // GDAL-style list values are ;- or |-separated (a , would split at
    // the top level); open_options pairs split on the FIRST = only
    def splitList(v: String): Seq[String] =
      v.split("[;|]").map(_.trim).filter(_.nonEmpty).toSeq
    def asNamedOpts(s: String): Option[graft.sources.GeoRead.ReadOptions] = {
      val parts = splitTop(s)
      val ok = parts.nonEmpty && parts.forall { p =>
        val i = p.indexOf('=')
        i > 0 && optKeys(p.substring(0, i).trim.toLowerCase)
      }
      if (!ok) None
      else {
        val kv = parts.map { p =>
          val i = p.indexOf('=')
          (p.substring(0, i).trim.toLowerCase, p.substring(i + 1).trim)
        }.toMap
        Some(graft.sources.GeoRead.ReadOptions(
          layer = kv.getOrElse("layer", ""),
          spatialFilter = kv.get("spatial_filter").map(w =>
            graft.functions.Jts.write(graft.functions.Jts.fromWkt(w))),
          keepWkb = kv.get("keep_wkb").exists(v => v.equalsIgnoreCase("true") || v == "1"),
          encoding = kv.getOrElse("encoding", ""),
          maxBatchSize = kv.get("max_batch_size").map(_.toInt).getOrElse(0),
          xy = kv.getOrElse("xy", ""),
          allowedDrivers = kv.get("allowed_drivers").map(splitList).getOrElse(Nil),
          openOptions = kv.get("open_options").map(splitList(_).map { pair =>
            val j = pair.indexOf('=')
            if (j <= 0) throw new IllegalArgumentException(
              s"st_read open_options: expected KEY=VALUE, got '$pair'")
            (pair.substring(0, j).trim, pair.substring(j + 1).trim)
          }.toMap).getOrElse(Map.empty),
          siblingFiles = kv.get("sibling_files").map(splitList).getOrElse(Nil),
          sequentialLayerScan = kv.get("sequential_layer_scan")
            .exists(v => v.equalsIgnoreCase("true") || v == "1")))
      }
    }
    Seq[(String, Seq[Expression] => LogicalPlan)](
      "st_read" -> (exprs => {
        import graft.sources.GeoRead
        val rest = exprs.tail
        val opts = rest.length match {
          case 0 => GeoRead.ReadOptions()
          case 1 =>
            val s = litStr(rest(0))
            asNamedOpts(s)
              .orElse(asWkt(s).map(w => GeoRead.ReadOptions(spatialFilter = Some(w))))
              .getOrElse(GeoRead.ReadOptions(layer = s))
          case 2 => GeoRead.ReadOptions(layer = litStr(rest(0)),
            spatialFilter = Some(asWkt(litStr(rest(1))).getOrElse(
              throw new IllegalArgumentException(
                s"st_read: third argument must be filter WKT, got ${litStr(rest(1))}"))))
          case 4 => GeoRead.ReadOptions(spatialFilterBox =
            Some((litNum(rest(0)), litNum(rest(1)), litNum(rest(2)), litNum(rest(3)))))
          case 5 => GeoRead.ReadOptions(layer = litStr(rest(0)), spatialFilterBox =
            Some((litNum(rest(1)), litNum(rest(2)), litNum(rest(3)), litNum(rest(4)))))
          case n => throw new IllegalArgumentException(
            s"st_read takes (path[, layer][, filter_wkt | x0, y0, x1, y1]); got ${n + 1} args")
        }
        planOf(GeoRead.read(SparkSession.active, litStr(exprs.head), opts))
      }),
      "st_drivers" -> (_ => planOf(graft.sources.GeoRead.drivers(SparkSession.active))),
      "st_read_meta" -> (exprs =>
        planOf(graft.sources.GeoRead.readMeta(SparkSession.active, litStr(exprs.head)))),
      "st_table_stats" -> (exprs =>
        planOf(graft.sources.GeoRead.tableStats(SparkSession.active, litStr(exprs.head),
          if (exprs.length > 1) litStr(exprs(1)) else "geom"))),
      "st_list_proj_crs" -> (_ => planOf(graft.sources.GeoRead.listProjCrs(SparkSession.active))),
      // snapshot read of a commit-logged clustered table:
      //   st_read_version(path, version)       — version-number time travel
      //   st_read_version(path, 'timestamp')   — AS OF form: the latest
      //     version committed at or before the given instant (ISO-8601 or
      //     'yyyy-MM-dd[ HH:mm:ss]', read as UTC — the session time zone)
      "st_read_version" -> (exprs => planOf {
        val s = SparkSession.active
        val path = litStr(exprs.head)
        // dispatch on the literal's TYPE, not parseability: a numeric
        // literal is a version number, a string literal is always the
        // AS OF timestamp form — an epoch-millis string must not be
        // .toInt-saturated into a bogus version lookup, and a string
        // that happens to look like an integer must not silently stop
        // being a timestamp
        val arg = exprs(1)
        val v = arg.dataType match {
          case _: org.apache.spark.sql.types.StringType =>
            graft.sources.GeoTableLog.versionAsOf(s, path,
              graft.sources.GeoTableLog.parseTsMillis(litStr(arg)))
          case _ => litNum(arg).toInt
        }
        graft.sources.GeoTableLog.readVersion(s, path, v)
      }),
      // commit history of a logged table: (version, op, n_add, n_remove)
      "st_table_versions" -> (exprs => planOf {
        val s = SparkSession.active
        import s.implicits._
        graft.sources.GeoTableLog.entries(s, litStr(exprs.head))
          .map { case (v, op, add, rm) => (v, op, add.size, rm.size) }
          .toDF("version", "op", "n_add", "n_remove")
      }),
      // row-level change feed of a logged table (Delta-CDF analog):
      //   st_table_changes(path, from)      — changes from..latest
      //   st_table_changes(path, from, to)  — inclusive version range
      // rows = table columns + _change_type + _commit_version.
      // Same literal-TYPE dispatch as st_read_version: a numeric literal
      // is a version number; a string literal is a timestamp — `from`
      // resolves to the first version committed AT OR AFTER it (changes
      // since), `to` to the latest committed AT OR BEFORE it (snapshot
      // rule) — so st_table_changes(p, '2026-08-16', '2026-08-17') is
      // "what changed that day".
      "st_table_changes" -> (exprs => planOf {
        val s = SparkSession.active
        val path = litStr(exprs.head)
        def versionArg(e: org.apache.spark.sql.catalyst.expressions.Expression,
            since: Boolean): Int = e.dataType match {
          case _: org.apache.spark.sql.types.StringType =>
            val ts = graft.sources.GeoTableLog.parseTsMillis(litStr(e))
            if (since) graft.sources.GeoTableLog.versionSince(s, path, ts)
            else graft.sources.GeoTableLog.versionAsOf(s, path, ts)
          case _ => litNum(e).toInt
        }
        val from = versionArg(exprs(1), since = true)
        val to = if (exprs.length > 2) versionArg(exprs(2), since = false) else -1
        graft.sources.GeoTableChanges.readChanges(s, path, from, to)
      }),
      "st_readosm" -> (exprs =>
        planOf(graft.sources.OsmPbf.read(SparkSession.active, litStr(exprs.head)))),
      "st_generatepoints" -> (exprs =>
        planOf(graft.sources.GeoRead.generatePoints(SparkSession.active,
          litNum(exprs(0)), litNum(exprs(1)), litNum(exprs(2)), litNum(exprs(3)),
          litNum(exprs(4)).toLong,
          if (exprs.length > 5) litNum(exprs(5)).toLong else 42L))))
  }

  /** graft's optimizer rules: native dispatch, the spatial join
   *  rewrite and bbox data skipping. */
  val optimizerRules: Seq[SparkSession => Rule[LogicalPlan]] = Seq(
    graft.plans.NativeDispatchRule(_), graft.plans.SpatialJoinRule(_),
    graft.plans.SpatialFilterRule(_))

  /** Register every function, table function, optimizer rule and the
   *  spatial-join strategy into the session (idempotent). The same
   *  lists are injected by `spark.sql.extensions=graft.plans.GraftExtensions`.
   *  A user's own optimizer rules and strategies stay, after graft's. */
  def install(spark: SparkSession): SparkSession = {
    val reg = spark.sessionState.functionRegistry
    if (reg.functionExists(org.apache.spark.sql.catalyst.FunctionIdentifier("st_graft_installed"))) return spark
    functions.foreach { case (name, f) => reg.createOrReplaceTempFunction(name, f, "scala_udf") }
    val tfReg = spark.sessionState.tableFunctionRegistry
    tableFunctions.foreach { case (name, f) => tfReg.createOrReplaceTempFunction(name, f, "scala_udf") }
    spark.experimental.extraOptimizations =
      optimizerRules.map(_(spark)) ++ spark.experimental.extraOptimizations
    if (!spark.experimental.extraStrategies.contains(graft.plans.SpatialJoinStrategy))
      spark.experimental.extraStrategies =
        graft.plans.SpatialJoinStrategy +: spark.experimental.extraStrategies
    spark
  }

  /** A SparkSession tuned for this engine (local mode; shuffle
   *  partitions sized for the core count, AQE on). */
  def session(master: String = "local[*]", shufflePartitions: Int = 32): SparkSession = {
    val spark = SparkSession.builder()
      .master(master)
      .appName("graft")
      .config("spark.sql.shuffle.partitions", shufflePartitions.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    install(spark)
    spark
  }
}

/** Typed Column API over the registered expression surface. Import
 *  `graft.GeoFunctions._` like `org.apache.spark.sql.functions._`. */
object GeoFunctions {
  private def c(e: Expression): Column = ColumnShim.column(e)
  private def x(col: Column): Expression = ColumnShim.expr(col)
  /** Generic escape hatch: call any registered ST_ op by name. */
  def st(name: String, cols: Column*): Column =
    if (Graft.predicateNames.contains(name)) c(GeoPredicate(name, x(cols(0)), x(cols(1))))
    else c(GeoScalar(name, cols.map(x)))

  // constructors & IO
  def st_point(xc: Column, yc: Column): Column = st("st_point", xc, yc)
  def st_makepoint(cols: Column*): Column = st("st_makepoint", cols: _*)
  def st_geomfromtext(wkt: Column): Column = st("st_geomfromtext", wkt)
  def st_geomfromwkb(wkb: Column): Column = st("st_geomfromwkb", wkb)
  def st_geomfromhexwkb(s: Column): Column = st("st_geomfromhexwkb", s)
  def st_geomfromgeojson(s: Column): Column = st("st_geomfromgeojson", s)
  def st_astext(g: Column): Column = st("st_astext", g)
  def st_aswkb(g: Column): Column = st("st_aswkb", g)
  def st_ashexwkb(g: Column): Column = st("st_ashexwkb", g)
  def st_asgeojson(g: Column): Column = st("st_asgeojson", g)
  def st_assvg(g: Column): Column = st("st_assvg", g)
  def st_makeenvelope(x1: Column, y1: Column, x2: Column, y2: Column): Column =
    st("st_makeenvelope", x1, y1, x2, y2)
  def st_makeline(cols: Column*): Column = st("st_makeline", cols: _*)
  def st_makepolygon(cols: Column*): Column = st("st_makepolygon", cols: _*)
  def st_collect(arr: Column): Column = st("st_collect", arr)
  def st_multi(g: Column): Column = st("st_multi", g)
  def st_collectionextract(cols: Column*): Column = st("st_collectionextract", cols: _*)
  def st_dump(g: Column): Column = st("st_dump", g)
  def st_points(g: Column): Column = st("st_points", g)
  def st_force2d(g: Column): Column = st("st_force2d", g)
  def st_force3dz(cols: Column*): Column = st("st_force3dz", cols: _*)
  def st_flipcoordinates(g: Column): Column = st("st_flipcoordinates", g)
  def st_reverse(g: Column): Column = st("st_reverse", g)
  def st_normalize(g: Column): Column = st("st_normalize", g)

  // accessors
  def st_x(g: Column): Column = st("st_x", g)
  def st_y(g: Column): Column = st("st_y", g)
  def st_z(g: Column): Column = st("st_z", g)
  def st_m(g: Column): Column = st("st_m", g)
  def st_xmin(g: Column): Column = st("st_xmin", g)
  def st_xmax(g: Column): Column = st("st_xmax", g)
  def st_ymin(g: Column): Column = st("st_ymin", g)
  def st_ymax(g: Column): Column = st("st_ymax", g)
  def st_zmin(g: Column): Column = st("st_zmin", g)
  def st_zmax(g: Column): Column = st("st_zmax", g)
  def st_extent(g: Column): Column = st("st_extent", g)
  def st_envelope(g: Column): Column = st("st_envelope", g)
  def st_npoints(g: Column): Column = st("st_npoints", g)
  def st_ngeometries(g: Column): Column = st("st_ngeometries", g)
  def st_ninteriorrings(g: Column): Column = st("st_ninteriorrings", g)
  def st_geometrytype(g: Column): Column = st("st_geometrytype", g)
  def st_isempty(g: Column): Column = st("st_isempty", g)
  def st_isclosed(g: Column): Column = st("st_isclosed", g)
  def st_isring(g: Column): Column = st("st_isring", g)
  def st_issimple(g: Column): Column = st("st_issimple", g)
  def st_isvalid(g: Column): Column = st("st_isvalid", g)
  def st_dimension(g: Column): Column = st("st_dimension", g)
  def st_startpoint(g: Column): Column = st("st_startpoint", g)
  def st_endpoint(g: Column): Column = st("st_endpoint", g)
  def st_pointn(g: Column, n: Column): Column = st("st_pointn", g, n)
  def st_exteriorring(g: Column): Column = st("st_exteriorring", g)
  def st_interiorringn(g: Column, n: Column): Column = st("st_interiorringn", g, n)
  def st_hasz(g: Column): Column = st("st_hasz", g)
  def st_hasm(g: Column): Column = st("st_hasm", g)
  def st_zmflag(g: Column): Column = st("st_zmflag", g)

  // measures
  def st_area(g: Column): Column = st("st_area", g)
  def st_length(g: Column): Column = st("st_length", g)
  def st_perimeter(g: Column): Column = st("st_perimeter", g)
  def st_distance(a: Column, b: Column): Column = st("st_distance", a, b)
  def st_maxdistance(a: Column, b: Column): Column = st("st_maxdistance", a, b)
  def st_distance_sphere(a: Column, b: Column): Column = st("st_distance_sphere", a, b)
  def st_haversine(x1: Column, y1: Column, x2: Column, y2: Column): Column =
    st("st_haversine", x1, y1, x2, y2)
  def st_area_spheroid(g: Column): Column = st("st_area_spheroid", g)
  def st_length_spheroid(g: Column): Column = st("st_length_spheroid", g)
  def st_perimeter_spheroid(g: Column): Column = st("st_perimeter_spheroid", g)
  def st_distance_spheroid(a: Column, b: Column): Column = st("st_distance_spheroid", a, b)
  def st_dwithin_spheroid(a: Column, b: Column, d: Column): Column = st("st_dwithin_spheroid", a, b, d)
  def st_dwithin(a: Column, b: Column, d: Column): Column = st("st_dwithin", a, b, d)

  // predicates
  def st_intersects(a: Column, b: Column): Column = st("st_intersects", a, b)
  def st_contains(a: Column, b: Column): Column = st("st_contains", a, b)
  def st_containsproperly(a: Column, b: Column): Column = st("st_containsproperly", a, b)
  def st_within(a: Column, b: Column): Column = st("st_within", a, b)
  def st_covers(a: Column, b: Column): Column = st("st_covers", a, b)
  def st_coveredby(a: Column, b: Column): Column = st("st_coveredby", a, b)
  def st_crosses(a: Column, b: Column): Column = st("st_crosses", a, b)
  def st_disjoint(a: Column, b: Column): Column = st("st_disjoint", a, b)
  def st_equals(a: Column, b: Column): Column = st("st_equals", a, b)
  def st_overlaps(a: Column, b: Column): Column = st("st_overlaps", a, b)
  def st_touches(a: Column, b: Column): Column = st("st_touches", a, b)
  def st_intersects_extent(a: Column, b: Column): Column = st("st_intersects_extent", a, b)

  // constructive
  def st_boundary(g: Column): Column = st("st_boundary", g)
  def st_buffer(cols: Column*): Column = st("st_buffer", cols: _*)
  def st_centroid(g: Column): Column = st("st_centroid", g)
  def st_convexhull(g: Column): Column = st("st_convexhull", g)
  def st_difference(a: Column, b: Column): Column = st("st_difference", a, b)
  def st_intersection(a: Column, b: Column): Column = st("st_intersection", a, b)
  def st_union(a: Column, b: Column): Column = st("st_union", a, b)
  def st_union_list(arr: Column): Column = st("st_union", arr)
  def st_linemerge(g: Column): Column = st("st_linemerge", g)
  def st_makevalid(g: Column): Column = st("st_makevalid", g)
  def st_pointonsurface(g: Column): Column = st("st_pointonsurface", g)
  def st_reduceprecision(g: Column, p: Column): Column = st("st_reduceprecision", g, p)
  def st_removerepeatedpoints(cols: Column*): Column = st("st_removerepeatedpoints", cols: _*)
  def st_shortestline(a: Column, b: Column): Column = st("st_shortestline", a, b)
  def st_simplify(g: Column, tol: Column): Column = st("st_simplify", g, tol)
  def st_simplifypreservetopology(g: Column, tol: Column): Column = st("st_simplifypreservetopology", g, tol)
  def st_translate(g: Column, dx: Column, dy: Column): Column = st("st_translate", g, dx, dy)

  // curves / tiling / crs
  def st_hilbert(cols: Column*): Column = st("st_hilbert", cols: _*)
  def st_quadkey(cols: Column*): Column = st("st_quadkey", cols: _*)
  def st_transform(cols: Column*): Column = st("st_transform", cols: _*)

  // aggregates
  def st_extent_agg(g: Column): Column = c(StExtentAgg(x(g)).toAggregateExpression())
  def st_envelope_agg(g: Column): Column = st_extent_agg(g)
  def st_union_agg(g: Column): Column = c(StUnionAgg(x(g)).toAggregateExpression())
  def st_intersection_agg(g: Column): Column = c(StIntersectionAgg(x(g)).toAggregateExpression())
}
