package graft.tf

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** Spark-facing surface: file discovery → distributed parse → the seven
  * published Terraform tables as DataFrames / temp views.
  *
  * Scale design (north star: 100 TB corpora on a 1000-executor cluster):
  *   - discovery uses Spark's `binaryFile` source, so listing AND reading
  *     are distributed and partitioned by Spark's file-splitting machinery
  *     (maxPartitionBytes); nothing file-sized ever sits on the driver;
  *   - the parse is one `mapPartitions`-style flatMap over file contents
  *     emitting the superset TfRow — one pass serves all seven tables
  *     (the reference parses each file once per table, single-threaded);
  *   - each table is filter + projection over the cached rows Dataset, so
  *     Catalyst pushes column pruning and predicates; a `path = '…'`
  *     predicate skips the parse of non-matching files but not their
  *     read (see [[rows]]) — the DSv2 source (graft.sources.
  *     TerraformTableProvider) is the path that never opens them;
  *   - everything downstream of the parse stays in whole-stage codegen.
  */
object Terraform {

  /** Connection config analog (reference connection_config.go:7-12).
    * `paths` is the reference's fourth, deprecated source list
    * (connection_config.go:9): kept so an old steampipe config ports
    * verbatim, routed exactly like `configurationFilePaths`. */
  final case class Paths(
      configurationFilePaths: Seq[String] = Seq.empty,
      planFilePaths: Seq[String] = Seq.empty,
      stateFilePaths: Seq[String] = Seq.empty,
      paths: Seq[String] = Seq.empty) {
    def isEmpty: Boolean =
      configurationFilePaths.isEmpty && planFilePaths.isEmpty &&
        stateFilePaths.isEmpty && paths.isEmpty
    /** The reference ships a config whose three lists default to CWD globs
      * (config/terraform.spc:23-25, comment :22 "Defaults to CWD"): a
      * registration with NO sources configured resolves those defaults
      * instead of returning nothing. The substitution is all-or-nothing —
      * the shipped defaults come from one config file, so any explicitly
      * configured list suppresses all of them, exactly like editing the
      * spc. */
    def orDefaults: Paths = if (isEmpty) Paths.defaults else this
  }

  object Paths {
    /** config/terraform.spc:23-25, resolved relative to CWD like any other
      * relative glob. */
    val defaults: Paths = Paths(
      configurationFilePaths = Seq("*.tf"),
      planFilePaths = Seq("tfplan.json", "*.tfplan.json"),
      stateFilePaths = Seq("*.tfstate"))
  }

  /** Discover + parse all configured files into the superset row Dataset.
    * Kind routing follows utils.go:38-169: configured kind wins, a
    * `.tfstate` suffix forces state, plan content-sniff happens per-file
    * in Builders.rowsForFile.
    *
    * Shape matters for pushdown (A2): the parse is an `explode(udf(...))`
    * generator over the scan's pass-through `path` column — NOT an opaque
    * typed flatMap — so a `path = '…'` predicate pushes below the
    * Generate into the binaryFile scan. That scan cannot prune by path
    * (BinaryFileFormat's filter function handles only `length` and
    * `modificationTime`), so every listed file is still read and the
    * predicate runs on the scanned rows: non-matching files skip only
    * the parse. The reference's qual short-circuit (utils.go:45-58), where
    * non-matching files are never opened, is the DSv2 source's
    * planning-time pruning (graft.sources.TerraformTableProvider). */
  def rows(spark: SparkSession, paths0: Paths): Dataset[TfRow] = {
    import spark.implicits._
    val paths = paths0.orDefaults
    SpanElision.install(spark)

    val parse = udf(SpanElision.parseWithSpans).withName(SpanElision.ParseName)

    def read(globsCfg: Seq[String], kind: String): Dataset[TfRow] = {
      // remote-source surface (docs/index.md:103-236): git::/github.com/
      // s3:: paths resolve to local checkouts / s3a:// globs first; bare
      // directory entries are skipped (utils.go:87-90)
      val globs = resolveGlobs(globsCfg)
      // ONE driver-side listing: glob each source ourselves and feed the
      // matched statuses straight into the scan (PreListedFileIndex).
      // `spark.read.load(globs)` would glob AND re-list inside Spark —
      // two sequential passes that are the A1 scale-killer on a 10⁷-file
      // object store. The FileSystem is resolved PER GLOB: a scheme-
      // qualified glob (s3a://…, hdfs://…) must use its own FS — the
      // session default is file:/// (reference S3 branch: utils.go:143).
      // Sources matching nothing yield an empty result instead of an
      // error (utils.go:116-119,148-151): globStatus returns null/empty
      // and the glob simply contributes no statuses.
      val statuses = globOnce(spark.sparkContext.hadoopConfiguration, globs)
      if (statuses.isEmpty) spark.emptyDataset[TfRow]
      else {
        val base = graft.sources.PreListedFileIndex.binaryFileScan(
          spark, statuses.toArray, globs.map(new org.apache.hadoop.fs.Path(_)))
        val scan = base
          .withColumn("kind",
            when(col("path").endsWith(".tfstate"), FileKind.State).otherwise(kind))
        val exploded = scan
          .select(col("path"), explode(parse(col("path"), col("kind"), col("content"))).as("r"))
        // field names from the encoder schema (the same source of truth
        // the struct was built from) — no throwaway plan analysis
        val fields = org.apache.spark.sql.Encoders.product[TfRow]
          .schema.fieldNames.filter(_ != "path")
        exploded
          .select(Seq(expr("regexp_replace(path, '^file:', '')").as("path")) ++
            fields.map(f => col(s"r.$f")): _*)
          .as[TfRow]
      }
    }

    // BY NAME: the empty-source branch's column order (case-class) differs
    // from the non-empty branch's path-first projection — a positional
    // unionAll would silently swap string columns whenever one source list
    // is empty and another is not
    read(paths.configurationFilePaths ++ paths.paths, FileKind.Config)
      .unionByName(read(paths.planFilePaths, FileKind.Plan))
      .unionByName(read(paths.stateFilePaths, FileKind.State))
  }

  /** The single listing pass behind discovery: glob each resolved source
    * against ITS OWN FileSystem, silently dropping non-matches
    * (utils.go:116-119,148-151) and directory matches (the reference
    * sanitizes glob matches to ignore directories — utils.go:95-101 —
    * so a glob whose match is a directory contributes nothing rather
    * than being descended into). Overlapping globs in one source list
    * dedup by path (first occurrence wins), matching the old
    * InMemoryFileIndex behavior. Shared by [[rows]] and the DataSource
    * V2 provider (graft.sources.TerraformTableProvider). */
  private[graft] def globOnce(conf: org.apache.hadoop.conf.Configuration,
      globs: Seq[String]): Seq[org.apache.hadoop.fs.FileStatus] =
    globs.flatMap { g =>
      // Hadoop's globStatus has NO recursive `**` (each path component
      // degrades to `*`) — patterns containing it take ONE recursive
      // listing (a single LIST round on object stores) filtered by a
      // doublestar-style matcher, reproducing go-getter's glob semantics
      if (g.contains("**")) recursiveGlob(conf, g)
      else {
        val hp = new org.apache.hadoop.fs.Path(g)
        Option(hp.getFileSystem(conf).globStatus(hp)).toSeq.flatten
      }
    }.filter(_.isFile)
      .distinctBy(_.getPath.toString)

  private def recursiveGlob(conf: org.apache.hadoop.conf.Configuration,
      glob: String): Seq[org.apache.hadoop.fs.FileStatus] = {
    val firstWild = glob.indexWhere(c => "*?[{".contains(c))
    val baseEnd = glob.lastIndexOf('/', firstWild)
    val base = if (baseEnd <= 0) "/" else glob.substring(0, baseEnd)
    val re = globRegex(glob)
    try {
      val fs = new org.apache.hadoop.fs.Path(base).getFileSystem(conf)
      val it = fs.listFiles(new org.apache.hadoop.fs.Path(base), true)
      val out = Seq.newBuilder[org.apache.hadoop.fs.FileStatus]
      while (it.hasNext) {
        val st = it.next()
        // listings come back scheme-qualified; the configured glob may be
        // scheme-less — accept a match against either spelling
        if (re.matcher(st.getPath.toString).matches() ||
            re.matcher(st.getPath.toUri.getPath).matches()) out += st
      }
      out.result()
    } catch {
      // a missing base contributes nothing, like globStatus' null
      case _: java.io.FileNotFoundException => Seq.empty
    }
  }

  /** doublestar-style glob → regex: `**``/` spans zero or more directory
    * levels, trailing `**` spans everything, `*` and `?` stay within one
    * path segment. */
  private[graft] def globRegex(glob: String): java.util.regex.Pattern = {
    val sb = new StringBuilder
    var i = 0
    while (i < glob.length) {
      val c = glob.charAt(i)
      if (c == '*' && i + 1 < glob.length && glob.charAt(i + 1) == '*') {
        if (i + 2 < glob.length && glob.charAt(i + 2) == '/') { sb.append("(?:.*/)?"); i += 2 }
        else { sb.append(".*"); i += 1 }
      }
      else if (c == '*') sb.append("[^/]*")
      else if (c == '?') sb.append("[^/]")
      else if ("\\.[]{}()+-^$|".indexOf(c) >= 0) sb.append('\\').append(c)
      else sb.append(c)
      i += 1
    }
    java.util.regex.Pattern.compile(sb.toString)
  }

  /** Resolved, directory-pruned globs for one configured source list. */
  private[graft] def resolveGlobs(globsCfg: Seq[String]): Seq[String] =
    Sources.resolve(globsCfg).filterNot { p =>
      !p.exists("*?[{".contains(_)) && new java.io.File(p).isDirectory
    }

  private[graft] def stripScheme(path: String): String =
    if (path.startsWith("file:")) path.stripPrefix("file:") else path

  /** Can `path ∈ glob` be decided by [[globRegex]] alone? `{}` alternation
    * and `[]` classes are Hadoop-glob features globRegex treats as
    * literals, so membership for globs using them needs a real listing. */
  private[graft] def canDecideMembership(glob: String): Boolean =
    !glob.exists(c => c == '{' || c == '[')

  /** Is non-membership decidable by pattern alone? The comparison is
    * apples-to-apples only when the glob is spelled in published-path
    * terms: absolute, or scheme-qualified. A relative glob's matches list
    * back as absolute paths, so a pattern mismatch proves nothing. */
  private[graft] def comparableSpelling(glob: String): Boolean =
    glob.startsWith("/") || glob.startsWith("file:") || glob.contains("://")

  /** Pattern-only membership test for an exact pushed `path =` qual:
    * true iff `path` (published, scheme-stripped spelling) matches the
    * resolved glob in its raw spelling or — for `file:` globs, whose
    * matches publish scheme-stripped — its URI-path spelling (the
    * authority-less path after the `file:` prefix, however many slashes
    * spell it). Only meaningful when [[canDecideMembership]] and
    * [[comparableSpelling]] hold. */
  private[graft] def globMatches(glob: String, path: String): Boolean =
    globRegex(glob).matcher(path).matches() || (glob.startsWith("file:") &&
      globRegex(new org.apache.hadoop.fs.Path(glob).toUri.getPath).matcher(path).matches())

  /** Spark 4 Variant helper views (SURVEY §1.2): each table re-published as
    * `<name>_v` with JSON-typed columns parsed to VARIANT, so users query
    * `variant_get(arguments, '$.ami', 'string')` instead of string ops. */
  def registerVariantViews(spark: SparkSession): Unit = {
    val jsonCols = Map(
      "terraform_resource" -> Seq("arguments", "attributes", "attributes_std", "count_src", "for_each", "depends_on", "lifecycle"),
      "terraform_data_source" -> Seq("arguments", "count_src", "for_each", "depends_on"),
      "terraform_local" -> Seq("value"),
      "terraform_module" -> Seq("arguments", "count_src", "for_each", "depends_on"),
      "terraform_output" -> Seq("value", "depends_on"),
      "terraform_provider" -> Seq("arguments"),
      "terraform_variable" -> Seq("default_value"))
    jsonCols.foreach { case (view, cols) =>
      val df = spark.table(view)
      val projected = df.columns.map { c =>
        if (cols.contains(c)) expr(s"try_parse_json($c)").as(c) else col(c)
      }
      df.select(projected.toIndexedSeq: _*).createOrReplaceTempView(s"${view}_v")
    }
  }

  // ---- the seven published tables (column order = reference declaration)

  def resource(rows: Dataset[TfRow]): DataFrame =
    rows.filter(col("table") === "resource").select(
      col("name"), col("tfType").as("type"), col("mode"), col("address"),
      col("arguments"), col("attributes"), col("attributesStd").as("attributes_std"),
      col("count"), col("countSrc").as("count_src"), col("forEach").as("for_each"),
      col("dependsOn").as("depends_on"), col("lifecycle"), col("provider"),
      col("startLine").as("start_line"), col("endLine").as("end_line"),
      col("source"), col("path"))

  def dataSource(rows: Dataset[TfRow]): DataFrame =
    rows.filter(col("table") === "data_source").select(
      col("name"), col("tfType").as("type"), col("arguments"),
      col("count"), col("countSrc").as("count_src"), col("forEach").as("for_each"),
      col("dependsOn").as("depends_on"), col("provider"),
      col("startLine").as("start_line"), col("endLine").as("end_line"),
      col("source"), col("path"))

  def local(rows: Dataset[TfRow]): DataFrame =
    rows.filter(col("table") === "local").select(
      col("name"), col("value"),
      col("startLine").as("start_line"), col("endLine").as("end_line"),
      col("source"), col("path"))

  def module(rows: Dataset[TfRow]): DataFrame =
    rows.filter(col("table") === "module").select(
      col("name"), col("moduleSource").as("module_source"), col("version"),
      col("arguments"), col("count"), col("countSrc").as("count_src"),
      col("forEach").as("for_each"), col("dependsOn").as("depends_on"),
      col("provider"),
      col("startLine").as("start_line"), col("endLine").as("end_line"),
      col("source"), col("path"))

  def output(rows: Dataset[TfRow]): DataFrame =
    rows.filter(col("table") === "output").select(
      col("name"), col("value"), col("description"), col("sensitive"),
      col("dependsOn").as("depends_on"),
      col("startLine").as("start_line"), col("endLine").as("end_line"),
      col("source"), col("path"))

  def provider(rows: Dataset[TfRow]): DataFrame =
    rows.filter(col("table") === "provider").select(
      col("name"), col("arguments"), col("alias"), col("version"),
      col("startLine").as("start_line"), col("endLine").as("end_line"),
      col("source"), col("path"))

  def variable(rows: Dataset[TfRow]): DataFrame =
    rows.filter(col("table") === "variable").select(
      col("name"), col("tfType").as("type"), col("defaultValue").as("default_value"),
      col("description"), col("sensitive"),
      col("startLine").as("start_line"), col("validation"),
      col("endLine").as("end_line"), col("source"), col("path"))

  /** Parse-failure channel: one row per unreadable file (the reference
    * aborts the whole scan on parse errors; we surface them queryably). */
  def diagnostics(rows: Dataset[TfRow]): DataFrame =
    rows.filter(col("table") === "_error")
      .select(col("path"), col("description").as("error"))

  /** Register all seven tables as temp views (+ the function shims).
    * The parsed rows Dataset is cached — the analog of the reference SDK's
    * query cache: every view and repeated query reuses one parse. */
  def register(spark: SparkSession, paths: Paths): Dataset[TfRow] = {
    val r = rows(spark, paths).cache()
    registrations.keySet.removeIf(s => s.sparkContext.isStopped) // drop dead sessions
    // a re-registration replaces the cached parse: unpersist the old one
    // or its blocks leak in the block manager for the context's lifetime
    Option(registrations.put(spark, (paths, r)))
      .filter(_._2 ne r).foreach(_._2.unpersist())
    resource(r).createOrReplaceTempView("terraform_resource")
    dataSource(r).createOrReplaceTempView("terraform_data_source")
    local(r).createOrReplaceTempView("terraform_local")
    module(r).createOrReplaceTempView("terraform_module")
    output(r).createOrReplaceTempView("terraform_output")
    provider(r).createOrReplaceTempView("terraform_provider")
    variable(r).createOrReplaceTempView("terraform_variable")
    diagnostics(r).createOrReplaceTempView("terraform_diagnostics")
    registerFunctions(spark)
    r
  }

  private val registrations =
    new java.util.concurrent.ConcurrentHashMap[SparkSession, (Paths, Dataset[TfRow])]()

  /** Idempotent [[register]]: no-op when `paths` is already this session's
    * registered configuration (keeping its cached parse); registers — or
    * RE-registers, replacing a different configuration — otherwise. The
    * once-per-session guard callers used to hand-roll around register's
    * parse cost lives here, next to the map that answers it. */
  private val ensureLock = new Object

  def ensureRegistered(spark: SparkSession, paths: Paths): Dataset[TfRow] =
    // serialized check-then-register: two concurrent callers with the same
    // paths must not both parse (the second register would also unpersist
    // the first caller's just-returned cache)
    ensureLock.synchronized {
      val prev = registrations.get(spark)
      if (prev == null || prev._1 != paths) register(spark, paths) else prev._2
    }

  /** Watch-path refresh for the batch views — the analog of the reference's
    * file-watch cache invalidation (`steampipe:"watch"` connection tags,
    * connection_config.go:8-11: the SDK drops its query cache when a watched
    * file changes and the next query re-parses). Drops the cached rows for
    * this session's registered paths and re-registers all seven views, so
    * edits/creates/deletes under the configured globs become visible.
    * (The continuous analog is `spark.readStream.format("terraform")`,
    * graft.sources.TerraformTableProvider's micro-batch stream.) */
  def refresh(spark: SparkSession): Dataset[TfRow] = {
    val prev = registrations.get(spark)
    require(prev != null, "Terraform.refresh: no prior Terraform.register for this session")
    prev._2.unpersist(blocking = true)
    register(spark, prev._1)
  }

  /** Postgres/SQLite-compat shims used by the reference's documented
    * queries (SURVEY §2B): jsonb_pretty, json_get/json_get_str (the ->/->>
    * operators), json_extract (sqlite dialect). All other capabilities are
    * native Spark SQL. */
  /** Postgres array-index semantics for `->`/`->>`: a negative integer
    * counts from the end (`'[1,2,3]' -> -1` is `3`); out of range → None. */
  private def arrIdx(items: Vector[JValue], key: String): Option[JValue] =
    key.toIntOption.flatMap { i => items.lift(if (i < 0) items.length + i else i) }

  def registerFunctions(spark: SparkSession): Unit = {
    spark.udf.register("jsonb_pretty", (s: String) =>
      if (s == null) null
      else Json.parseOpt(s).map(pretty(_, 0)).getOrElse(s))
    // -> : JSON field access returning JSON text
    spark.udf.register("json_get", (s: String, key: String) =>
      if (s == null || key == null) null
      else Json.parseOpt(s).flatMap {
        case o: JObj => o.get(key).map(_.render)
        case JArr(items) => arrIdx(items, key).map(_.render)
        case _ => None
      }.orNull)
    // jsonb_array_elements: JSON array → rows (lenient: a single object
    // becomes a 1-element array, matching kics's single-vs-repeated block
    // shape so documented queries work on both)
    spark.udf.register("json_array_elements", (s: String) =>
      if (s == null) Array.empty[String]
      else Json.parseOpt(s) match {
        case Some(JArr(items)) => items.map(_.render).toArray
        case Some(o: JObj)     => Array(o.render)
        case _                 => Array.empty[String]
      })
    // ->> : JSON field access returning text (strings unquoted)
    spark.udf.register("json_get_str", (s: String, key: String) =>
      if (s == null || key == null) null
      else Json.parseOpt(s).flatMap {
        case o: JObj => o.get(key).map { case JStr(v) => v; case v => v.render }
        case JArr(items) =>
          arrIdx(items, key).map { case JStr(v) => v; case v => v.render }
        case _ => None
      }.orNull)
    // sqlite-dialect json_extract (every `sql+sqlite` doc example, e.g.
    // docs/tables/terraform_resource.md:93,120): navigates a `$.a.b[0]`
    // path; strings come back unquoted (sqlite SQL-value semantics),
    // objects/arrays as JSON text, missing path → NULL
    spark.udf.register("json_extract", (s: String, path: String) =>
      if (s == null || path == null) null
      else Json.parseOpt(s).flatMap(jsonPath(_, path)).map {
        case JStr(v) => v
        case v       => v.render
      }.orNull)
    // sqlite json_each row stream (docs/tables/terraform_data_source.md:97):
    // PgDialect rewrites `json_each(x, p) as f` to
    // `explode(json_each_values(x, p)) as f`, each row carrying sqlite's
    // virtual-table columns (key, value, type, atom, id, fullkey, path —
    // json_each's `parent` is always NULL so it is omitted) so both the
    // documented `f.value` projections and user queries over
    // `f.key`/`f.type` work. Same single-object leniency as
    // json_array_elements (one HCL block renders as an object, repeated
    // blocks as an array — both must iterate).
    spark.udf.register("json_each_values", (s: String, path: String) =>
      if (s == null || path == null) Array.empty[JsonEachRow]
      else Json.parseOpt(s).flatMap(jsonPath(_, path)).map {
        case JArr(items) =>
          items.zipWithIndex.map { case (i, ix) => jsonEachRow(Some(ix), i, path) }.toArray
        case v => Array(jsonEachRow(None, v, path))
      }.getOrElse(Array.empty[JsonEachRow]))
    // sqlite dynamic truthiness for predicate-position json_extract (see
    // SqliteDialect): sqlite's json_extract returns 1/0 for JSON booleans
    // and WHERE coerces text via numeric-prefix parse (non-numeric → 0)
    spark.udf.register("sqlite_truthy", (s: String) =>
      if (s == null) null
      else s.trim match {
        case "true"  => java.lang.Boolean.TRUE
        case "false" => java.lang.Boolean.FALSE
        case v =>
          val m = "^[+-]?(\\d+(\\.\\d*)?|\\.\\d+)([eE][+-]?\\d+)?".r.findPrefixOf(v)
          java.lang.Boolean.valueOf(m.exists(_.toDouble != 0.0))
      })
  }

  /** One `json_each` output row: sqlite's virtual-table schema minus the
    * always-NULL `parent`. Column values are strings (our JSON columns are
    * canonical-JSON text): `value` keeps the canonical rendering the
    * documented queries pin; `atom` is the unquoted scalar text (NULL for
    * containers — booleans render as true/false, not sqlite's 1/0); `id`
    * is the element ordinal (sqlite's internal node id has no documented
    * consumer). */
  final case class JsonEachRow(key: String, value: String, `type`: String,
      atom: String, id: Long, fullkey: String, path: String)

  private def jsonEachRow(idx: Option[Int], v: JValue, path: String): JsonEachRow = {
    val tpe = v match {
      case _: JObj      => "object"
      case _: JArr      => "array"
      case _: JStr      => "text"
      case JNum(raw)    => if (raw.exists(c => c == '.' || c == 'e' || c == 'E')) "real" else "integer"
      case JBool(true)  => "true"
      case JBool(false) => "false"
      case JNull        => "null"
    }
    val atom = v match {
      case _: JObj | _: JArr => null
      case JStr(s)           => s
      case other             => other.render
    }
    JsonEachRow(
      key = idx.map(_.toString).orNull,
      value = v.render,
      `type` = tpe,
      atom = atom,
      id = idx.map(_.toLong).getOrElse(0L),
      fullkey = idx.map(i => s"$path[$i]").getOrElse(path),
      path = path)
  }

  /** sqlite JSON path subset: `$`, `.key`, `[idx]` — covers every path in
    * the reference's doc corpus. Unsupported syntax → None (NULL). */
  private[tf] def jsonPath(v: JValue, path: String): Option[JValue] = {
    if (!path.startsWith("$")) return None
    var cur: Option[JValue] = Some(v)
    var i = 1
    while (i < path.length && cur.isDefined) {
      path.charAt(i) match {
        case '.' =>
          var j = i + 1
          while (j < path.length && path.charAt(j) != '.' && path.charAt(j) != '[') j += 1
          val key = path.substring(i + 1, j)
          cur = cur.flatMap { case o: JObj => o.get(key); case _ => None }
          i = j
        case '[' =>
          val close = path.indexOf(']', i)
          if (close < 0) return None
          val idx =
            try path.substring(i + 1, close).trim.toInt
            catch { case _: NumberFormatException => return None }
          cur = cur.flatMap {
            case JArr(items) if idx >= 0 && idx < items.length => Some(items(idx))
            case _ => None
          }
          i = close + 1
        case _ => return None
      }
    }
    cur
  }

  /** jsonb_pretty 4-space indented rendering. Key order is Postgres
    * jsonb's: length first, then lexicographic — so the documented example
    * output (docs/index.md:73-99: ami, tags, instance_type) reproduces
    * byte-for-byte. */
  private def pretty(v: JValue, indent: Int): String = {
    val pad = "    " * indent
    val padIn = "    " * (indent + 1)
    v match {
      case o: JObj if o.fields.nonEmpty =>
        o.fields.sortBy { case (k, _) => (k.length, k) }.map { case (k, v2) =>
          val sb = new StringBuilder; Json.writeString(k, sb)
          s"$padIn${sb.toString}: ${pretty(v2, indent + 1)}"
        }.mkString("{\n", ",\n", s"\n$pad}")
      case JArr(items) if items.nonEmpty =>
        items.map(i => s"$padIn${pretty(i, indent + 1)}").mkString("[\n", ",\n", s"\n$pad]")
      case other => other.render
    }
  }
}
