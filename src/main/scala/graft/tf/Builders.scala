package graft.tf

import scala.util.matching.Regex

/** Pure per-file row construction: (path, kind, content) → rows for all
  * seven tables. Thread-safe (no shared mutable state) so Spark executors
  * run it concurrently — unlike the reference, which serializes all parsing
  * behind a global mutex (/root/reference/terraform/utils.go:35-36).
  *
  * Semantics ported from /root/reference/terraform/:
  *   - table_terraform_resource.go (listResources/buildResource,
  *     buildTerraformPlanResource), table_terraform_data_source.go,
  *     table_terraform_local.go, table_terraform_module.go,
  *     table_terraform_output.go, table_terraform_provider.go,
  *     table_terraform_variable.go, parse_tfplan.go, utils.go.
  *
  * Documented divergences from the reference:
  *   1. variable.sensitive IS assigned (the reference parses + validates but
  *      never assigns it — table_terraform_variable.go:226-233; docs clearly
  *      intend it to work, so we fix and note it here).
  *   2. Type-mismatch meta-arguments (e.g. a non-list `depends_on`) make the
  *      reference abort the whole table scan with an error; we skip the
  *      offending field and keep the row (lenient, query still runs).
  *   3. Duplicate blocks sharing type AND name (two `resource "a" "b"`
  *      blocks in one file) fan out one fully-populated row each; the
  *      kics merge makes the reference emit a single row whose arguments
  *      are EMPTY (convertModelDocumentToMapInterface returns an empty
  *      map for the merged array — table_terraform_resource.go:407-417),
  *      silently losing both bodies. Deliberate fix, noted.
  *   (Former divergence — single-line plan/state span recovery — is
  *   retired: unformatted files now reproduce the reference's fallback,
  *   utils.go:495-547. See SpanSource.)
  */
object Builders {

  private val ValidationRe: Regex = "validation\\s*\\{[^}]+\\}".r
  private val TypeUnwrapRe: Regex = "^\\$\\{(.+)\\}$".r

  def rowsForFile(path: String, kind: String, content: String,
      withSpans: Boolean = true): Seq[TfRow] = {
    val isPlan = kind == FileKind.Plan || isTerraformPlan(content)
    if (isPlan) planRows(path, content, withSpans)
    else if (kind == FileKind.State) stateRows(path, content, withSpans)
    else if (path.endsWith(".tf.json")) jsonConfigRows(path, content, withSpans)
    else hclRows(path, content, withSpans)
  }

  /** utils.go:360-372 — a JSON doc with both resource_changes and
    * format_version keys is a plan file regardless of configured kind. */
  def isTerraformPlan(content: String): Boolean =
    Json.parseOpt(content) match {
      case Some(o: JObj) => o.get("resource_changes").isDefined && o.get("format_version").isDefined
      case _             => false
    }

  // ---------------------------------------------------------------- helpers

  /** convertExpressionValue (utils.go:210-251): any value → JSON string;
    * strings arrive quoted, arrays element-converted, maps marshaled. */
  private def exprValue(v: JValue): String = v.render

  private def nz(s: String): Option[String] = Option(s).filter(_.nonEmpty)
  private def nzL(l: Long): Option[Long] = Some(l).filter(_ != 0L)
  /** NullIfZero on BOOL: false → NULL (default transform, plugin.go:22). */
  private def nzB(b: Boolean): Option[Boolean] = Some(b).filter(identity)

  /** NullIfEmptyMap (utils.go:583-590) after JSON serialization. */
  private def jsonMap(o: JObj): Option[String] =
    if (o.isEmpty) None else Some(o.render)

  /** fmt.Sprint on a depends_on element (strings print bare). */
  private def sprint(v: JValue): String = v match {
    case JStr(s)  => s
    case JNum(r)  => r
    case JBool(b) => b.toString
    case JNull    => "<nil>"
    case other    => other.render
  }

  private def dependsOnJson(v: JValue): Option[String] = v match {
    case JArr(items) => Some(JArr(items.map(e => JStr(sprint(e)))).render)
    case _           => None // reference: hard error; we skip (divergence 2)
  }

  /** count meta-arg: JSON source always; int value only for whole numbers
    * (gocty.FromCtyValue errors on fractions — count then stays 0 → NULL). */
  private def countOf(v: JValue): (Option[String], Option[Long]) = {
    val src = Some(exprValue(v))
    val n = v match {
      case JNum(raw) =>
        try {
          val bd = BigDecimal(raw)
          // isValidLong: gocty.FromCtyValue errors on out-of-range whole
          // numbers too — toLong alone would wrap modularly
          if (bd.isWhole && bd.isValidLong) nzL(bd.toLong) else None
        } catch { case _: NumberFormatException => None }
      case _ => None
    }
    (src, n)
  }

  private def strOf(v: JValue): Option[String] = v match {
    case JStr(s) => nz(s)
    case _       => None // reference: hard error on non-string (divergence 2)
  }

  private def boolOf(v: JValue): Option[Boolean] = v match {
    case JBool(b) => nzB(b)
    case _        => None
  }

  // ------------------------------------------------------------- HCL branch

  /** Unparseable input emits a single `_error` row (path + message)
    * surfaced via the terraform_diagnostics view — the reference instead
    * fails the entire table scan; we keep the query running and make the
    * failure queryable. */
  private def errorRow(path: String, stage: String, e: Exception): Seq[TfRow] =
    Seq(TfRow.empty.copy(table = "_error", path = path,
      description = Some(s"$stage: ${Option(e.getMessage).getOrElse(e.getClass.getSimpleName)}")))

  private def hclRows(path: String, content: String, withSpans: Boolean): Seq[TfRow] = {
    val doc =
      try Hcl.parse(content)
      catch { case e: Exception => return errorRow(path, "hcl", e) }
    docRows(path, doc, withSpans)
  }

  /** JSON-syntax configuration (`*.tf.json`): Terraform's alternate config
    * format has the same document tree shape the HCL parser produces
    * (the reference's kics parser reads both through one model), so the
    * seven table builders apply unchanged; block spans come from the JSON
    * parser's token locations. */
  private[tf] def jsonConfigRows(path: String, content: String,
      withSpans: Boolean = true): Seq[TfRow] = {
    val doc =
      try jsonTfDoc(content)
      catch { case e: Exception => return errorRow(path, "tf.json", e) }
    docRows(path, doc, withSpans)
  }

  private def jsonTfDoc(content: String): HclDoc = {
    val (v, spans) = Json.parseWithSpans(content)
    val root = v match {
      case o: JObj => o
      case _       => throw new IllegalArgumentException("tf.json root must be a JSON object")
    }
    val lines = content.split("\n", -1)
    def objs(v2: JValue): Vector[JObj] = v2 match {
      case o: JObj     => Vector(o)
      case JArr(items) => items.collect { case o: JObj => o }
      case _           => Vector.empty
    }
    def blockOf(tpe: String, labels: Vector[String], body: JObj): HclBlock = {
      val (sl, el) = Option(spans.get(body)).getOrElse((1, lines.length))
      HclBlock(tpe, labels, body, sl, el, lines.slice(sl - 1, el).mkString("\n"))
    }
    val blocks = Vector.newBuilder[HclBlock]
    root.fields.foreach {
      case (bt @ ("resource" | "data"), sections) =>
        objs(sections).foreach(_.fields.foreach { case (t, byName) =>
          objs(byName).foreach(_.fields.foreach { case (n, body) =>
            objs(body).foreach(b => blocks += blockOf(bt, Vector(t, n), b))
          })
        })
      case (bt @ ("module" | "output" | "provider" | "variable"), byName) =>
        objs(byName).foreach(_.fields.foreach { case (n, body) =>
          objs(body).foreach(b => blocks += blockOf(bt, Vector(n), b))
        })
      case ("locals", lv) =>
        objs(lv).foreach(b => blocks += blockOf("locals", Vector.empty, b))
      case _ => ()
    }
    HclDoc(root, blocks.result())
  }

  /** Config-table rows from a parsed document tree (HCL or tf.json). */
  private def docRows(path: String, doc: HclDoc, withSpans: Boolean): Seq[TfRow] = {
    val base = TfRow.empty.copy(path = path)

    def span(blockType: String, labels: Seq[String]): (Option[Long], Option[Long], Option[String]) =
      if (!withSpans) (None, None, None) // span elision: columns are pruned upstream
      else doc.firstBlock(blockType, labels) match {
        case Some(b) => (nzL(b.startLine.toLong), nzL(b.endLine.toLong), nz(b.source))
        case None    => (None, None, None)
      }

    val out = Seq.newBuilder[TfRow]

    // -- resource (table_terraform_resource.go:212-232 + buildResource)
    forEachTwoLevel(doc.doc, "resource") { (rtype, rname, body) =>
      val (sl, el, src) = span("resource", Seq(rtype, rname))
      var row = base.copy(table = "resource", tfType = nz(rtype), name = nz(rname),
        startLine = sl, endLine = el, source = src)
      row = applyResourceMeta(row, body)
      row = row.copy(attributesStd = row.arguments)
      if (row.address.isEmpty) row = row.copy(address = Some(s"$rtype.$rname"))
      out += row
    }

    // -- data source (table_terraform_data_source.go)
    forEachTwoLevel(doc.doc, "data") { (dtype, dname, body) =>
      val (sl, el, src) = span("data", Seq(dtype, dname))
      var row = base.copy(table = "data_source", tfType = nz(dtype), name = nz(dname),
        startLine = sl, endLine = el, source = src)
      val args = Vector.newBuilder[(String, JValue)]
      body.fields.foreach {
        case ("count", v)      => val (cs, c) = countOf(v); row = row.copy(countSrc = cs, count = c)
        case ("provider", v)   => row = row.copy(provider = strOf(v))
        case ("for_each", v)   => row = row.copy(forEach = Some(exprValue(v)))
        case ("depends_on", v) => row = row.copy(dependsOn = dependsOnJson(v))
        case (k, v)            => args += ((k, v))
      }
      out += row.copy(arguments = jsonMap(JObj(args.result())))
    }

    // -- locals: every local reports the FIRST locals block's span
    //    (getBlock called with empty labels — utils.go:275-295 quirk)
    doc.doc.get("locals").foreach { lv =>
      val blocks = lv match {
        case o: JObj     => Vector(o)
        case JArr(items) => items.collect { case o: JObj => o }
        case _           => Vector.empty
      }
      val (sl, el, src) = span("locals", Seq.empty)
      blocks.foreach { blk =>
        blk.fields.foreach { case (lname, lval) =>
          out += base.copy(table = "local", name = nz(lname),
            value = Some(exprValue(lval)), startLine = sl, endLine = el, source = src)
        }
      }
    }

    // -- module (table_terraform_module.go:148-159, buildModule)
    forEachOneLevel(doc.doc, "module") { (mname, body) =>
      val (sl, el, src) = span("module", Seq(mname))
      var row = base.copy(table = "module", name = nz(mname),
        startLine = sl, endLine = el, source = src)
      val args = Vector.newBuilder[(String, JValue)]
      body.fields.foreach {
        case ("source", v)     => row = row.copy(moduleSource = strOf(v))
        case ("version", v)    => row = row.copy(version = strOf(v))
        case ("count", v)      => val (cs, c) = countOf(v); row = row.copy(countSrc = cs, count = c)
        case ("provider", v)   => row = row.copy(provider = strOf(v))
        case ("for_each", v)   => row = row.copy(forEach = Some(exprValue(v)))
        case ("depends_on", v) => row = row.copy(dependsOn = dependsOnJson(v))
        case ("lifecycle", _)  => // reserved for future terraform; dropped
        case (k, v)            => args += ((k, v))
      }
      out += row.copy(arguments = jsonMap(JObj(args.result())))
    }

    // -- output (table_terraform_output.go:142-152, buildOutput)
    forEachOneLevel(doc.doc, "output") { (oname, body) =>
      val (sl, el, src) = span("output", Seq(oname))
      out += buildOutput(base, oname, body, sl, el, src)
    }

    // -- provider (table_terraform_provider.go:114-149; duplicate names →
    //    array → one row each; span is the first block with that name)
    doc.doc.get("provider").foreach {
      case providers: JObj =>
        providers.fields.foreach { case (pname, pv) =>
          val bodies = pv match {
            case o: JObj     => Vector(o)
            case JArr(items) => items.collect { case o: JObj => o }
            case _           => Vector.empty
          }
          val (sl, el, src) = span("provider", Seq(pname))
          bodies.foreach { body =>
            var row = base.copy(table = "provider", name = nz(pname),
              startLine = sl, endLine = el, source = src)
            val args = Vector.newBuilder[(String, JValue)]
            body.fields.foreach {
              case ("alias", v)   => row = row.copy(alias = strOf(v))
              case ("version", v) => row = row.copy(version = strOf(v))
              case (k, v)         => args += ((k, v))
            }
            out += row.copy(arguments = jsonMap(JObj(args.result())))
          }
        }
      case _ =>
    }

    // -- variable (table_terraform_variable.go:147-171, buildVariable)
    forEachOneLevel(doc.doc, "variable") { (vname, body) =>
      val (sl, el, src) = span("variable", Seq(vname))
      val validation = src.flatMap { s =>
        val ms = ValidationRe.findAllIn(s).toVector
        if (ms.isEmpty) None else Some(ms.mkString("\n\n"))
      }
      var row = base.copy(table = "variable", name = nz(vname),
        startLine = sl, endLine = el, source = src, validation = validation)
      body.fields.foreach {
        case ("description", v) => row = row.copy(description = strOf(v))
        case ("default", v)     => row = row.copy(defaultValue = Some(exprValue(v)))
        case ("sensitive", v)   => row = row.copy(sensitive = boolOf(v)) // divergence 1: reference never assigns
        case ("type", v) =>
          val unwrapped = v match {
            case JStr(s) => TypeUnwrapRe.findFirstMatchIn(s).map(_.group(1)).getOrElse("")
            case _       => ""
          }
          row = row.copy(tfType = nz(unwrapped))
        case _ => // residual keys ignored (no default case in buildVariable)
      }
      out += row
    }

    out.result()
  }

  /** Shared meta-argument switch of buildResource
    * (table_terraform_resource.go:315-401). */
  private def applyResourceMeta(row0: TfRow, body: JObj): TfRow = {
    var row = row0
    val args = Vector.newBuilder[(String, JValue)]
    body.fields.foreach {
      case ("count", v)      => val (cs, c) = countOf(v); row = row.copy(countSrc = cs, count = c)
      case ("provider", v)   => row = row.copy(provider = strOf(v))
      case ("name", v) => // assigned only if empty; otherwise dropped
        if (row.name.isEmpty) row = row.copy(name = strOf(v))
      case ("type", v) => // kept in arguments; Type only set when name empty
        args += (("type", v))
        if (row.name.isEmpty) row = row.copy(tfType = strOf(v))
      case ("mode", v)       => row = row.copy(mode = strOf(v))
      case ("for_each", v)   => row = row.copy(forEach = Some(exprValue(v)))
      case ("lifecycle", v) =>
        v match {
          case o: JObj => row = row.copy(lifecycle = jsonMap(o))
          case _       => // reference: hard error (divergence 2)
        }
      case ("depends_on", v) => row = row.copy(dependsOn = dependsOnJson(v))
      case ("instances", _)  => // skipped (state envelope)
      case (k, v)            => args += ((k, v))
    }
    row.copy(arguments = jsonMap(JObj(args.result())))
  }

  private def buildOutput(base: TfRow, name: String, body: JObj,
      sl: Option[Long], el: Option[Long], src: Option[String]): TfRow = {
    var row = base.copy(table = "output", name = nz(name),
      startLine = sl, endLine = el, source = src)
    body.fields.foreach {
      case ("description", v) => row = row.copy(description = strOf(v))
      case ("value", v)       => row = row.copy(value = Some(exprValue(v)))
      case ("sensitive", v)   => row = row.copy(sensitive = boolOf(v))
      case ("depends_on", v)  => row = row.copy(dependsOn = dependsOnJson(v))
      case _                  => // residual keys ignored
    }
    row
  }

  private def forEachTwoLevel(doc: JObj, key: String)(f: (String, String, JObj) => Unit): Unit =
    doc.get(key).foreach {
      case level1: JObj =>
        level1.fields.foreach {
          case (t, level2: JObj) =>
            level2.fields.foreach {
              case (n, body: JObj)    => f(t, n, body)
              case (n, JArr(bodies))  => bodies.foreach { case b: JObj => f(t, n, b); case _ => () }
              case _                  =>
            }
          case _ =>
        }
      case _ =>
    }

  private def forEachOneLevel(doc: JObj, key: String)(f: (String, JObj) => Unit): Unit =
    doc.get(key).foreach {
      case level1: JObj =>
        level1.fields.foreach {
          case (n, body: JObj)   => f(n, body)
          case (n, JArr(bodies)) => bodies.foreach { case b: JObj => f(n, b); case _ => () }
          case _                 =>
        }
      case _ =>
    }

  // ------------------------------------------------------------ plan branch

  /** parse_tfplan.go — typed walk of planned_values.root_module.resources;
    * only the resource table serves plan files (A16). */
  // -------------------------------------- unformatted-JSON span fallback

  /** The reference's span scanner (findBlockLinesFromJSON, utils.go:
    * 374-404) only ever ENTERS a block at a line whose trimmed text is
    * exactly `"<block>": {` or `"<block>": [` — so a file without such a
    * line (compact/unformatted JSON, "all the content remains in line 1")
    * fails the scan entirely and every row takes the fallback below. */
  private def hasBlockLine(content: String, blockName: String): Boolean =
    content.linesIterator.exists { l =>
      val t = l.trim
      t == s""""$blockName": {""" || t == s""""$blockName": ["""
    }

  /** utils.go:510 — Go regexp, `.` not matching newlines, greedy capture
    * backtracking to the LAST `}},"resource_changes"`. */
  private val PlanResourcesRe =
    """"planned_values":\{.*"root_module":\{"resources":(.*)\}\},"resource_changes"""".r

  /** The span-recovery inputs of one plan/state file. The reference
    * re-derives each of them per resource; every row of a file shares
    * them, so each is computed at most once per file, on first use. */
  private final class SpanSource(content: String) {
    /** Fallback span (utils.go:495-500): line 1 through the file's total
      * line count (bufio.Scanner semantics: a trailing newline does not
      * open a final empty line). */
    lazy val unformattedSpan: (Int, Int) = (1, math.max(content.linesIterator.length, 1))

    private lazy val lines = content.split("\n", -1)

    /** JSON plan/state source slice — getSourceFromFile (utils.go:552-567)
      * appends "\n" after EVERY line including the last, so formatted
      * plan/state sources carry a trailing newline (the HCL getBlock path
      * joins without one — hclRows' slicing is separate). */
    def slice(startLine: Int, endLine: Int): Option[String] =
      if (startLine <= 0 || endLine < startLine) None
      else nz(lines.slice(startLine - 1, math.min(endLine, lines.length))
        .map(_ + "\n").mkString)

    /** The printed planned_values resources, extracted by regex; empty
      * for non-plan content (the regex can't match a state file). */
    private lazy val fallbackItems: Vector[String] =
      PlanResourcesRe.findFirstMatchIn(content).flatMap(m => Json.parseOpt(m.group(1))) match {
        case Some(JArr(items)) => items.collect { case o: JObj => o.render }
        case _                 => Vector.empty
      }

    /** Fallback source (utils.go:502-547): the LAST planned_values
      * resource whose printed form contains both match keys,
      * re-marshalled canonically (Go json.Marshal key order — our
      * Json.write). Non-plan content yields no source, as in the
      * reference. */
    def fallbackPlanSource(key1: String, key2: String): Option[String] =
      fallbackItems.findLast(s => s.contains(key1) && s.contains(key2))
  }

  private def planRows(path: String, content: String, withSpans: Boolean): Seq[TfRow] = {
    // span elision reaches the JSON branch too: a pruned read skips the
    // per-object span bookkeeping AND the full-file block-line scan
    val (tree, spans) =
      try {
        if (withSpans) Json.parseWithSpans(content)
        else (Json.parse(content), new java.util.IdentityHashMap[JValue, (Int, Int)]())
      } catch { case e: Exception => return errorRow(path, "plan-json", e) }
    val formatted = withSpans && hasBlockLine(content, "resources")
    val spanSrc = new SpanSource(content)
    val resources = tree match {
      case o: JObj =>
        o.get("planned_values").collect { case pv: JObj => pv }
          .flatMap(_.get("root_module")).collect { case rm: JObj => rm }
          .flatMap(_.get("resources")).collect { case JArr(items) => items }
          .getOrElse(Vector.empty)
      case _ => Vector.empty
    }
    val base = TfRow.empty.copy(path = path)
    resources.collect { case r: JObj =>
      val name = r.get("name").collect { case JStr(s) => s }.getOrElse("")
      val rtype = r.get("type").collect { case JStr(s) => s }.getOrElse("")
      val mode = r.get("mode").collect { case JStr(s) => s }.getOrElse("")
      val address = r.get("address").collect { case JStr(s) => s }.getOrElse("")
      val args = r.get("values").collect { case o: JObj => o }
      // plan matching keys are (address, type) — parse_tfplan.go:49
      val (sl, el) =
        if (!withSpans) (0, 0)
        else if (formatted) Option(spans.get(r)).getOrElse((0, 0))
        else spanSrc.unformattedSpan
      val src =
        if (!withSpans) None
        else if (formatted) spanSrc.slice(sl, el)
        else spanSrc.fallbackPlanSource(address, rtype)
      var row = base.copy(table = "resource", name = nz(name), tfType = nz(rtype),
        mode = nz(mode), address = nz(address),
        arguments = args.map(_.render), // plan arguments NOT NullIfEmptyMap'd pre-serialization quirk: empty map renders "{}" → NullIfEmptyMap applies at column level
        startLine = nzL(sl.toLong), endLine = nzL(el.toLong), source = src)
      row = row.copy(arguments = row.arguments.filter(_ != "{}"), attributesStd = row.arguments.filter(_ != "{}"))
      // NO type.name address fallback here: buildTerraformPlanResource
      // (parse_tfplan.go:38-59) copies the plan address verbatim — the
      // fallback exists only in the config (:226-228) and state (:269-271)
      // branches; an address-less plan resource publishes NULL
      row
    }
  }

  // ----------------------------------------------------------- state branch

  /** State resources fan out one row per instances[] element
    * (table_terraform_resource.go:233-275); outputs and variables are also
    * served (table_terraform_output.go:153-165,
    * table_terraform_variable.go:158-170). */
  private def stateRows(path: String, content: String, withSpans: Boolean): Seq[TfRow] = {
    val (tree, spans) =
      try {
        if (withSpans) Json.parseWithSpans(content)
        else (Json.parse(content), new java.util.IdentityHashMap[JValue, (Int, Int)]())
      } catch { case e: Exception => return errorRow(path, "state-json", e) }
    val doc = tree match {
      case o: JObj => o
      case _       => return Seq.empty
    }
    val base = TfRow.empty.copy(path = path)
    val out = Seq.newBuilder[TfRow]
    val spanSrc = new SpanSource(content)

    doc.get("resources").collect { case JArr(items) => items }.foreach { items =>
      val formatted = withSpans && hasBlockLine(content, "resources")
      items.collect { case envelope: JObj =>
        val rtype = envelope.get("type").collect { case JStr(s) => s }.getOrElse("")
        val rname = envelope.get("name").collect { case JStr(s) => s }.getOrElse("")
        // state matching keys are (type, name) — table_terraform_resource.go:295
        val (sl, el) =
          if (!withSpans) (0, 0)
          else if (formatted) Option(spans.get(envelope)).getOrElse((0, 0))
          else spanSrc.unformattedSpan
        val src =
          if (!withSpans) None
          else if (formatted) spanSrc.slice(sl, el)
          else spanSrc.fallbackPlanSource(rtype, rname)
        val instances = envelope.get("instances").collect { case JArr(is) => is }.getOrElse(Vector.empty)
        instances.collect { case inst: JObj =>
          var row = base.copy(table = "resource", tfType = nz(rtype), name = nz(rname),
            startLine = nzL(sl.toLong), endLine = nzL(el.toLong), source = src)
          // buildResource receives the ENVELOPE map (not the instance) —
          // arguments therefore carry resource-level keys, instances skipped
          // (table_terraform_resource.go:242,395)
          row = applyResourceMeta(row, envelope)
          inst.get("attributes").foreach { a => row = row.copy(attributes = Some(a.render).filter(_ != "{}")) }
          inst.get("index_key").foreach {
            case JNum(raw) => row = row.copy(address = Some(s"$rtype.$rname[$raw]"))
            case _         => // string keys (for_each) do NOT get appended — float64-only in reference (:256-262)
          }
          row = row.copy(attributesStd = row.attributes)
          if (row.address.isEmpty) row = row.copy(address = Some(s"$rtype.$rname"))
          out += row
        }
      }
    }

    doc.get("outputs").collect { case outputs: JObj => outputs }.foreach { outputs =>
      val formatted = withSpans && hasBlockLine(content, "outputs")
      outputs.fields.foreach {
        case (oname, body: JObj) =>
          // unformatted outputs: span 1..total, no source (the reference's
          // fallback regex is plan-shaped and cannot match state content)
          val (sl, el) =
            if (!withSpans) (0, 0)
            else if (formatted) Option(spans.get(body)).getOrElse((0, 0))
            else spanSrc.unformattedSpan
          val src =
            if (!withSpans) None
            else if (formatted) spanSrc.slice(sl, el) else None
          out += buildOutput(base, oname, body, nzL(sl.toLong), nzL(el.toLong), src)
        case _ =>
      }
    }

    doc.get("variables").collect { case vars: JObj => vars }.foreach { vars =>
      vars.fields.foreach {
        case (vname, body: JObj) =>
          // the reference scanner has no closing logic for a "variables"
          // block (findBlockLinesFromJSON only closes outputs/resources):
          // startLine is set then reset, and EVERY state variable — even
          // in a pretty-printed file — takes the 1..totalLines fallback
          // with NO source (the plan-shaped regex can't match state)
          val (sl, el) = if (!withSpans) (0, 0) else spanSrc.unformattedSpan
          val src: Option[String] = None
          var row = base.copy(table = "variable", name = nz(vname),
            startLine = nzL(sl.toLong), endLine = nzL(el.toLong), source = src)
          body.fields.foreach {
            case ("description", v) => row = row.copy(description = strOf(v))
            case ("default", v)     => row = row.copy(defaultValue = Some(exprValue(v)))
            case ("sensitive", v)   => row = row.copy(sensitive = boolOf(v))
            case ("type", v) =>
              val unwrapped = v match {
                case JStr(s) => TypeUnwrapRe.findFirstMatchIn(s).map(_.group(1)).getOrElse("")
                case _       => ""
              }
              row = row.copy(tfType = nz(unwrapped))
            case _ =>
          }
          out += row
        case _ =>
      }
    }

    out.result()
  }
}
