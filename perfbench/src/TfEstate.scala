package graft.perfbench

import graft.tf.{Builders, FileKind, PgDialect, Terraform}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path}
import scala.collection.mutable

/** Seeded synthetic Terraform estate, derived from the shapes in `fixtures/`:
  * a nested tree of small `.tf` / `.tf.json` module files plus plan and state
  * files whose resource counts are heavy-tailed (the largest state holds
  * 1,200 resources), with one malformed file planted per kind. Every block
  * is re-keyed per file and per version, so rows stay distinct.
  *
  * Sizes depend only on a file's index and version, never on the seed: the
  * seed chooses keys, values, directories, which files are malformed and
  * which are edited, so every seed does the same amount of work. The model
  * gives exact expectations for every table, query and `path =` lookup.
  */
final class Estate(seed: Long, val root: Path) {
  import Estate._

  val files = mutable.LinkedHashMap.empty[String, FileSpec] // relative path -> spec
  private var nextIdx = 0

  private def rng(parts: Long*): java.util.SplittableRandom =
    new java.util.SplittableRandom(parts.foldLeft(seed * 0x9E3779B97F4A7C15L)((h, p) =>
      java.lang.Long.rotateLeft(h ^ (p * 0xC2B2AE3D27D4EB4FL), 29) * 0x165667B19E3779F9L))

  private def uid(idx: Int, version: Int): String = {
    val r = rng(idx.toLong, version.toLong, 7L)
    f"${r.nextLong() & 0xffffffffL}%08x"
  }

  private def newFile(kind: String, malformed: Boolean = false): FileSpec = {
    val idx = nextIdx
    nextIdx += 1
    val r = rng(idx.toLong, 1L)
    val env = Envs(r.nextInt(Envs.length))
    val region = Regions(r.nextInt(Regions.length))
    // configuration, plans and states live in separate trees, as a
    // deployment repository keeps them
    val dir = kind match {
      case Plan  => s"plans/$env"
      case State => s"states/$env/$region"
      case _     => s"modules/$env/$region/svc_${r.nextInt(5)}"
    }
    val name = kind match {
      case Hcl    => s"main_$idx.tf"
      case TfJson => s"override_$idx.tf.json"
      case Plan   => s"release_$idx.tfplan.json"
      case State  => s"stack_$idx.tfstate"
    }
    val ordinal = files.values.count(f => f.kind == kind && !f.malformed)
    val size = kind match {
      case Plan  => math.max(2, (300.0 / math.pow(ordinal + 1, 1.3)).toInt)
      case State => math.max(2, (1200.0 / math.pow(ordinal + 1, 1.5)).toInt)
      case _     => 1 + idx % 4
    }
    FileSpec(s"$dir/$name", kind, idx, 0, size, malformed)
  }

  /** Build the initial estate model (no bytes written): `n*` healthy files
    * per kind plus one small malformed file per kind, so the malformed
    * files never change how much healthy work there is. */
  def plan(nHcl: Int, nJson: Int, nPlan: Int, nState: Int): Unit =
    for ((kind, n) <- Seq(Hcl -> nHcl, TfJson -> nJson, Plan -> nPlan, State -> nState)) {
      (0 until n).foreach { _ => val f = newFile(kind); files(f.rel) = f }
      val bad = newFile(kind, malformed = true).copy(size = 2)
      files(bad.rel) = bad
    }

  def content(f: FileSpec): String = {
    val u = uid(f.idx, f.version)
    val r = rng(f.idx.toLong, f.version.toLong, 3L)
    val body = f.kind match {
      case Hcl    => hcl(f, u, r)
      case TfJson => tfJson(f, u, r)
      case Plan   => planJson(f, u, r)
      case State  => stateJson(f, u, r)
    }
    if (!f.malformed) body
    else if (f.kind == Hcl) body + "\nresource \"aws_instance\" \"broken\" {\n  ami = \n"
    else body.substring(0, body.length / 2)
  }

  /** Write every file; returns (files, bytes). */
  def writeAll(): (Int, Long) = {
    var bytes = 0L
    files.values.foreach { f => bytes += write(f) }
    (files.size, bytes)
  }

  private def write(f: FileSpec): Long = {
    val p = root.resolve(f.rel)
    Files.createDirectories(p.getParent)
    val b = content(f).getBytes(StandardCharsets.UTF_8)
    Files.write(p, b)
    b.length.toLong
  }

  def abs(f: FileSpec): String = root.resolve(f.rel).toString

  /** Digest of every file's bytes in path order — same seed, same digest. */
  def digest(): String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    files.keys.toSeq.sorted.foreach { k =>
      md.update(k.getBytes(StandardCharsets.UTF_8))
      md.update(content(files(k)).getBytes(StandardCharsets.UTF_8))
    }
    md.digest().map(b => f"${b & 0xff}%02x").mkString
  }

  /** Seeded edit/create/delete batch for cycle `c`: `n` edits (re-keyed
    * blocks, one resource more or fewer), `n` new module files, `n`
    * deletions. Applied to disk and to the model. */
  def editBatch(c: Int, n: Int): Unit = {
    val r = rng(c.toLong, 5L)
    val healthy = files.values.filter(f => !f.malformed && (f.kind == Hcl || f.kind == TfJson))
      .toIndexedSeq
    val picked = mutable.LinkedHashSet.empty[String]
    while (picked.size < 2 * n) picked += healthy(r.nextInt(healthy.length)).rel
    val (edits, deletes) = picked.toIndexedSeq.splitAt(n)
    edits.foreach { rel =>
      val f = files(rel).copy(version = files(rel).version + 1)
      files(rel) = f
      write(f)
    }
    deletes.foreach { rel =>
      files.remove(rel)
      Files.delete(root.resolve(rel))
    }
    (0 until n).foreach { _ =>
      val f = newFile(Hcl)
      files(f.rel) = f
      write(f)
    }
  }

  // ---- expectations

  def expect(f: FileSpec): Expect =
    if (f.malformed) Expect(diagnostics = 1)
    else f.kind match {
      case Hcl | TfJson =>
        val nInst = instances(f)
        Expect(
          resources = (0 until nInst).map(j => s"web_${uid(f.idx, f.version)}_$j") :+
            s"logs_${uid(f.idx, f.version)}",
          awsInstance = nInst, dataSources = 1, amiFilters = 1, locals = 2, ownerLocals = 1,
          modules = 1, gitlabNonDigit = if (f.idx % 2 == 0) 1 else 0,
          outputs = 1, sensitiveOutputs = if (f.idx % 3 == 0) 1 else 0,
          providers = 1, variables = 1, sensitiveVars = if (f.idx % 2 == 0) 1 else 0)
      case Plan =>
        val names = (0 until f.size).map(j => s"${planType(j)}:app_${uid(f.idx, f.version)}_$j")
        Expect(resources = names.map(_.split(':')(1)),
          awsInstance = names.count(_.startsWith("aws_instance")))
      case State =>
        val u = uid(f.idx, f.version)
        val rows = (0 until f.size).flatMap(j =>
          Seq.fill(stateInstances(j))((stateType(j), s"res_${u}_$j")))
        Expect(resources = rows.map(_._2), awsInstance = rows.count(_._1 == "aws_instance"),
          outputs = 2, sensitiveOutputs = 1)
    }

  def total: Expect = files.values.map(expect).foldLeft(Expect())(_ + _)

  def filesOf(kind: String): Seq[FileSpec] = files.values.filter(_.kind == kind).toSeq

  // ---- templates (shapes of fixtures/main.tf, config.tf.json, tfplan.json, terraform.tfstate)

  private def instances(f: FileSpec): Int = f.size + f.version % 2

  private def hcl(f: FileSpec, u: String, r: java.util.SplittableRandom): String = {
    val sb = new StringBuilder
    (0 until instances(f)).foreach { j =>
      sb ++= s"""resource "aws_instance" "web_${u}_$j" {
                |  ami           = "ami-${hex(r)}"
                |  instance_type = "t3.${Sizes(r.nextInt(Sizes.length))}"
                |  tags = { Name = "web-$u-$j" }
                |}
                |""".stripMargin
    }
    val gitlab = f.idx % 2 == 0
    val k = r.nextInt(9)
    sb ++= s"""resource "aws_s3_bucket" "logs_$u" {
              |  bucket        = "logs-$u"
              |  force_destroy = false
              |}
              |
              |data "aws_ami" "ubuntu_$u" {
              |  most_recent = true
              |  filter {
              |    name   = "name"
              |    values = ["ubuntu/images/$u*"]
              |  }
              |}
              |
              |variable "instance_type_$u" {
              |  type        = string
              |  default     = "t3.micro"
              |  description = "EC2 instance type"
              |  sensitive   = ${f.idx % 2 == 0}
              |}
              |
              |locals {
              |  owner_$u = "team-$k"
              |  env_$u   = "${Envs(k % Envs.length)}"
              |}
              |
              |module "vpc_$u" {
              |  source  = "${if (gitlab) s"git::https://gitlab.com/acme/vpc.git?ref=v1.$k.0" else "terraform-aws-modules/vpc/aws"}"
              |${if (gitlab) "" else s"  version = \"5.0.$k\"\n"}  cidr    = "10.$k.0.0/16"
              |}
              |
              |output "ip_$u" {
              |  value       = aws_instance.web_${u}_0.public_ip
              |  description = "IP"
              |  sensitive   = ${f.idx % 3 == 0}
              |}
              |
              |provider "aws" {
              |  alias  = "p_$u"
              |  region = "${Regions(k % Regions.length)}"
              |}
              |""".stripMargin
    sb.toString
  }

  private def tfJson(f: FileSpec, u: String, r: java.util.SplittableRandom): String = {
    val gitlab = f.idx % 2 == 0
    val k = r.nextInt(9)
    val inst = (0 until instances(f)).map { j =>
      s"""      "web_${u}_$j": {
         |        "ami": "ami-${hex(r)}",
         |        "instance_type": "t3.${Sizes(r.nextInt(Sizes.length))}",
         |        "tags": { "Name": "web-$u-$j" }
         |      }""".stripMargin
    }.mkString(",\n")
    val module =
      if (gitlab) s""""source": "git::https://gitlab.com/acme/vpc.git?ref=v1.$k.0""""
      else s""""source": "terraform-aws-modules/vpc/aws", "version": "5.0.$k""""
    s"""{
       |  "resource": {
       |    "aws_instance": {
       |$inst
       |    },
       |    "aws_s3_bucket": {
       |      "logs_$u": { "bucket": "logs-$u", "force_destroy": false }
       |    }
       |  },
       |  "data": {
       |    "aws_ami": {
       |      "ubuntu_$u": { "most_recent": true, "filter": [{ "name": "name", "values": ["ubuntu/images/$u*"] }] }
       |    }
       |  },
       |  "variable": {
       |    "instance_type_$u": { "type": "string", "default": "t3.micro", "description": "EC2 instance type", "sensitive": ${f.idx % 2 == 0} }
       |  },
       |  "output": {
       |    "ip_$u": { "value": "$${aws_instance.web_${u}_0.public_ip}", "description": "IP", "sensitive": ${f.idx % 3 == 0} }
       |  },
       |  "provider": {
       |    "aws": [{ "region": "${Regions(k % Regions.length)}", "alias": "p_$u" }]
       |  },
       |  "locals": { "owner_$u": "team-$k", "env_$u": "${Envs(k % Envs.length)}" },
       |  "module": {
       |    "vpc_$u": { $module, "cidr": "10.$k.0.0/16" }
       |  }
       |}
       |""".stripMargin
  }

  private def planJson(f: FileSpec, u: String, r: java.util.SplittableRandom): String = {
    val res = (0 until f.size).map { j =>
      val t = planType(j)
      val values =
        if (t == "aws_instance")
          s"""{ "ami": "ami-${hex(r)}", "instance_type": "t3.${Sizes(r.nextInt(Sizes.length))}", "tags": { "Name": "app-$u-$j" } }"""
        else s"""{ "bucket": "b-$u-$j", "force_destroy": false }"""
      s"""        {
         |          "address": "$t.app_${u}_$j",
         |          "mode": "managed",
         |          "type": "$t",
         |          "name": "app_${u}_$j",
         |          "provider_name": "registry.terraform.io/hashicorp/aws",
         |          "values": $values
         |        }""".stripMargin
    }.mkString(",\n")
    s"""{
       |  "format_version": "1.2",
       |  "terraform_version": "1.5.0",
       |  "planned_values": {
       |    "root_module": {
       |      "resources": [
       |$res
       |      ]
       |    }
       |  },
       |  "resource_changes": [],
       |  "configuration": {}
       |}
       |""".stripMargin
  }

  private def stateJson(f: FileSpec, u: String, r: java.util.SplittableRandom): String = {
    val res = (0 until f.size).map { j =>
      val t = stateType(j)
      val n = stateInstances(j)
      val insts = (0 until n).map { i =>
        val key = if (n > 1) s""""index_key": $i, """ else ""
        val attrs =
          if (t == "aws_instance")
            s"""{ "id": "i-${hex(r)}", "ami": "ami-${hex(r)}", "instance_type": "t3.micro" }"""
          else s"""{ "id": "b-$u-$j", "bucket": "b-$u-$j", "acl": "private" }"""
        s"""        { ${key}"schema_version": 1, "attributes": $attrs }"""
      }.mkString(",\n")
      s"""    {
         |      "mode": "managed",
         |      "type": "$t",
         |      "name": "res_${u}_$j",
         |      "provider": "provider[\\"registry.terraform.io/hashicorp/aws\\"]",
         |      "instances": [
         |$insts
         |      ]
         |    }""".stripMargin
    }.mkString(",\n")
    s"""{
       |  "version": 4,
       |  "terraform_version": "1.5.0",
       |  "outputs": {
       |    "ip_$u": { "value": "10.0.0.5", "type": "string", "sensitive": true },
       |    "bucket_$u": { "value": "logs-$u", "type": "string" }
       |  },
       |  "resources": [
       |$res
       |  ]
       |}
       |""".stripMargin
  }
}

object Estate {
  val Hcl = "hcl"
  val TfJson = "tf_json"
  val Plan = "plan"
  val State = "state"
  val Kinds = Seq(Hcl, TfJson, Plan, State)
  private val Envs = Array("prod", "staging", "dev")
  private val Regions = Array("us-east-1", "us-west-2", "eu-west-1")
  private val Sizes = Array("micro", "small", "medium", "large")

  final case class FileSpec(rel: String, kind: String, idx: Int, version: Int, size: Int,
      malformed: Boolean)

  /** Expected rows per table and per documented query for a set of files. */
  final case class Expect(resources: Seq[String] = Nil, awsInstance: Int = 0,
      dataSources: Int = 0, amiFilters: Int = 0, locals: Int = 0, ownerLocals: Int = 0,
      modules: Int = 0, gitlabNonDigit: Int = 0, outputs: Int = 0, sensitiveOutputs: Int = 0,
      providers: Int = 0, variables: Int = 0, sensitiveVars: Int = 0, diagnostics: Int = 0) {
    def +(o: Expect): Expect = Expect(resources ++ o.resources, awsInstance + o.awsInstance,
      dataSources + o.dataSources, amiFilters + o.amiFilters, locals + o.locals,
      ownerLocals + o.ownerLocals, modules + o.modules, gitlabNonDigit + o.gitlabNonDigit,
      outputs + o.outputs, sensitiveOutputs + o.sensitiveOutputs, providers + o.providers,
      variables + o.variables, sensitiveVars + o.sensitiveVars, diagnostics + o.diagnostics)
    def perTable: Map[String, Long] = Map(
      "terraform_resource" -> resources.size.toLong, "terraform_data_source" -> dataSources.toLong,
      "terraform_local" -> locals.toLong, "terraform_module" -> modules.toLong,
      "terraform_output" -> outputs.toLong, "terraform_provider" -> providers.toLong,
      "terraform_variable" -> variables.toLong, "terraform_diagnostics" -> diagnostics.toLong)
  }

  private def hex(r: java.util.SplittableRandom): String = f"${r.nextInt() & 0xfffffff}%07x"
  private def planType(j: Int): String = if (j % 4 == 3) "aws_s3_bucket" else "aws_instance"
  private def stateType(j: Int): String = if (j % 4 == 3) "aws_s3_bucket" else "aws_instance"
  private def stateInstances(j: Int): Int = if (j % 5 == 0) 2 else 1
}

/** tf_estate: the paper's own surface. Each cycle runs, in order: a cold
  * `Terraform.register` plus one count per view; the documented query mix
  * (reference docs shapes, rewritten by `PgDialect`, including `path =`
  * lookups); one table of the same estate through
  * `spark.read.format("terraform")` (each read discovers and parses every
  * file; the table rotates per cycle); and a seeded edit/create/delete batch
  * followed by `Terraform.refresh` and its first answer. */
final class TfEstate(spark: SparkSession, rec: Recorder, root: Path) extends Workload {
  import Estate._

  // 40 + 10 + 8 + 8 healthy files plus one malformed file per kind
  private val est = new Estate(rec.seed, root)
  private val Views = Seq("terraform_resource", "terraform_data_source", "terraform_local",
    "terraform_module", "terraform_output", "terraform_provider", "terraform_variable",
    "terraform_diagnostics")
  private val EditsPerCycle = 4

  /** One untimed cycle warms every path a cycle takes (JIT, codegen); the
    * median of three timed cycles keeps one slow cycle (host noise, the
    * first one still warming) from setting the run's figures. */
  override def minCycles: Int = 3
  override def warmCycles: Int = 1

  private def paths = Terraform.Paths(
    configurationFilePaths = Seq(s"$root/modules/**/*.tf", s"$root/modules/**/*.tf.json"),
    planFilePaths = Seq(s"$root/plans/**/*.tfplan.json"),
    stateFilePaths = Seq(s"$root/states/**/*.tfstate"))

  def setup(): Unit = {
    rec.setupStep("generate") {
      // generate three times: the median is the generation cost, and all
      // three digests must agree (same seed, same bytes)
      val digests = (0 until 3).map { _ =>
        val t0 = System.nanoTime()
        val e = new Estate(rec.seed, root)
        e.plan(40, 10, 8, 8)
        val d = e.digest()
        rec.genSecs += (System.nanoTime() - t0) / 1e9
        d
      }
      rec.checkSetup("same_seed_same_bytes", digests.distinct.size == 1, digests.mkString(","))
      est.plan(40, 10, 8, 8)
      rec.checkSetup("model_digest", est.digest() == digests.head, "model differs")
      deleteTree(root)
      val (n, bytes) = est.writeAll()
      rec.notes("estate_files") = n.toString
      rec.notes("estate_bytes") = bytes.toString
      rec.notes("estate_resources") = est.total.resources.size.toString
    }
  }

  private def dsv2(table: String): DataFrame =
    spark.read.format("terraform").option("table", table)
      .option("configurationFilePaths", paths.configurationFilePaths.mkString(","))
      .option("planFilePaths", paths.planFilePaths.mkString(","))
      .option("stateFilePaths", paths.stateFilePaths.mkString(","))
      .load()

  private def countIs(want: Long)(got: Long): Option[String] =
    if (got == want) None else Some(s"count $got, expected $want")

  /** The documented query mix with the expected row count of each, given
    * the current model. Postgres spellings go through PgDialect. */
  private def queries(e: Expect): Seq[(String, String, Long)] = Seq(
    ("resource_all", "select name, type, address, attributes_std, path from terraform_resource",
      e.resources.size.toLong),
    ("resource_type", "select name from terraform_resource where type = 'aws_instance'",
      e.awsInstance.toLong),
    ("resource_ami", "select address, name, attributes_std ->> 'ami' as ami, path " +
      "from terraform_resource where type = 'aws_instance'", e.awsInstance.toLong),
    ("data_filter_cte", """with filters as (
        |select name, type, jsonb_array_elements(arguments -> 'filter') as filter, path
        |from terraform_data_source where type = 'aws_ami'
        |)
        |select name, type, filter -> 'name' as fname, filter -> 'values' as fvalues, path
        |from filters""".stripMargin, e.amiFilters.toLong),
    ("local_ilike", "select name, value, path from terraform_local where name ilike 'owner%'",
      e.ownerLocals.toLong),
    ("output_sensitive", "select name, description, path from terraform_output where sensitive",
      e.sensitiveOutputs.toLong),
    ("module_ref", """select name, split_part(module_source,'=',-1) as ref from terraform_module
        |where module_source like '%gitlab.com%'
        |  and not split_part(module_source,'=',-1) ~ '^[0-9]'""".stripMargin,
      e.gitlabNonDigit.toLong),
    ("provider_region", "select name, alias, arguments ->> 'region' as region, path " +
      "from terraform_provider where name = 'aws'", e.providers.toLong),
    ("variable_sensitive", "select name, description, sensitive from terraform_variable " +
      "where sensitive", e.sensitiveVars.toLong),
    ("diagnostics", "select path, error from terraform_diagnostics", e.diagnostics.toLong))

  private def lookupSql(f: FileSpec): String =
    s"select name, type, address, path from terraform_resource where path = '${est.abs(f)}'"

  /** Seeded `path =` lookups: one file of each kind per cycle. */
  private def lookups(c: Int): Seq[FileSpec] = {
    val r = new java.util.SplittableRandom(rec.seed * 31 + c)
    Kinds.map { k =>
      val fs = est.filesOf(k).filterNot(_.malformed)
      fs(r.nextInt(fs.size))
    }
  }

  def cycle(c: Int): Unit = {
    val e0 = est.total
    val files = est.files.size
    // 1. cold register plus one count per view
    val t0 = System.nanoTime()
    val reg = rec.op("ingest", "register")(Terraform.register(spark, paths))(_ => None)
    val counted = reg.isDefined && Views.forall { v =>
      rec.op("ingest", s"count.$v")(spark.table(v).count())(countIs(e0.perTable(v))).isDefined
    }
    if (counted) rec.sample("tf_ingest_files_per_s", "files/s",
      files / ((System.nanoTime() - t0) / 1e9))

    // 2. documented queries + path lookups, in a seeded order
    val qs = queries(e0).map { case (n, sql, want) =>
      (n, () => rec.op("query", n)(PgDialect.sql(spark, sql).collect().length.toLong)(countIs(want)))
    } ++ lookups(c).map { f =>
      val want = est.expect(f).resources.sorted
      (s"path_eq.${f.kind}", () => rec.op("query", s"path_eq.${f.kind}")(
        spark.sql(lookupSql(f)).collect().map(_.getString(0)).sorted.toSeq) { got =>
        if (got == want) None else Some(s"${got.size} names, expected ${want.size}")
      })
    }
    shuffled(qs, c).foreach(_._2())

    // 3. the same estate through the DSv2 source, no registration: every
    //    read discovers and parses every file, so one table per cycle,
    //    rotating through all of them
    val v = Views(Math.floorMod(rec.seed + c, Views.size.toLong).toInt)
    val d0 = System.nanoTime()
    if (rec.op("dsv2", v)(dsv2(v).count())(countIs(e0.perTable(v))).isDefined)
      rec.sample("tf_dsv2_files_per_s", "files/s", files / ((System.nanoTime() - d0) / 1e9))

    // 4. edit batch, refresh, first answer
    val r0 = System.nanoTime()
    val refreshed = rec.op("refresh", "edit_refresh_count") {
      est.editBatch(c, EditsPerCycle)
      Terraform.refresh(spark)
      spark.table("terraform_resource").count()
    }(got => countIs(est.total.resources.size.toLong)(got)) // the model after the edits
    if (refreshed.isDefined) rec.sample("tf_refresh_s", "s", (System.nanoTime() - r0) / 1e9)
  }

  private def shuffled[T](xs: Seq[T], c: Int): Seq[T] =
    new scala.util.Random(rec.seed * 7919 + c).shuffle(xs)

  /** Per-layer probes, timed from outside each layer's public functions. */
  def layers(): Unit = {
    def med(xs: Seq[Double]): Double = { val s = xs.sorted; s(s.size / 2) }
    def timed(f: => Unit): Double = { val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e9 }

    // discovery: source resolution + the single listing pass
    val globs = Seq(paths.configurationFilePaths, paths.planFilePaths, paths.stateFilePaths)
    var listed = 0
    val listS = med((0 until 3).map(_ => timed {
      listed = globs.map(g => Terraform.globOnce(spark.sparkContext.hadoopConfiguration,
        graft.tf.Sources.resolve(g)).size).sum
    }))
    rec.layer("tf.list_s", listS, "s")
    rec.layer("tf.files_listed", listed, "count")

    // parse + row build, single-threaded outside Spark, spans off and on
    val contents = est.files.values.toSeq.map { f =>
      val kind = f.kind match { case Plan => FileKind.Plan; case State => FileKind.State; case _ => FileKind.Config }
      (f.kind, est.abs(f), kind, new String(Files.readAllBytes(root.resolve(f.rel)), StandardCharsets.UTF_8))
    }
    def buildPass(spans: Boolean): (Map[String, Double], Long) = {
      var rows = 0L
      val perKind = contents.groupBy(_._1).map { case (k, fs) =>
        k -> timed { fs.foreach { case (_, p, kind, c) =>
          rows += Builders.rowsForFile(p, kind, c, withSpans = spans).size } }
      }
      (perKind, rows)
    }
    val passes = (0 until 3).map(_ => (buildPass(false), buildPass(true)))
    val nOf = contents.groupBy(_._1).map { case (k, v) => k -> v.size }
    Kinds.foreach { k =>
      rec.layer(s"tf.build_us_per_file.$k",
        med(passes.map(_._1._1.getOrElse(k, 0.0))) * 1e6 / math.max(1, nOf.getOrElse(k, 0)), "us")
    }
    val offS = med(passes.map(_._1._1.values.sum))
    val onS = med(passes.map(_._2._1.values.sum))
    rec.layer("tf.span_us_per_file", (onS - offS) * 1e6 / contents.size, "us")
    rec.layer("tf.rows_per_file", passes.head._1._2.toDouble / contents.size, "count")

    // Spark ingest
    val rowsCount = med((0 until 3).map(_ => timed(Terraform.rows(spark, paths).count())))
    rec.layer("tf.rows_count_s", rowsCount, "s")
    rec.layer("tf.overhead_ratio", rowsCount * rec.cores / offS, "ratio")
    val regS = med((0 until 3).map(_ => timed(Terraform.register(spark, paths))))
    rec.layer("tf.register_s", regS, "s")
    Views.foreach(v => spark.table(v).count())
    val cached = spark.sparkContext.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum
    rec.layer("tf.cached_mb", cached / 1048576.0, "MB")

    // DSv2: planning (discovery + bin packing) vs scan
    val df = dsv2("terraform_resource")
    val planS = timed(df.queryExecution.executedPlan)
    var parts = 0
    val partS = timed { parts = df.queryExecution.toRdd.partitions.length }
    rec.layer("tf.dsv2_plan_s", planS + partS, "s")
    rec.layer("tf.dsv2_partitions", parts, "count")
    rec.layer("tf.dsv2_scan_s", med((0 until 3).map(_ => timed(dsv2("terraform_resource").count()))), "s")

    // view queries: dialect rewrite cost, tasks per query, pushdown
    val texts = queries(est.total).map(_._2)
    val rw = timed((0 until 200).foreach(_ => texts.foreach(PgDialect.rewrite)))
    rec.layer("tf.pg_rewrite_us", rw * 1e6 / (200 * texts.size), "us")
    val qs = rec.opStats.filter(_._1._1 == "query").values
    rec.layer("tf.query_tasks", qs.map(_.tasks).sum.toDouble / math.max(1, qs.map(_.calls).sum), "count")
    // a binaryFile scan lists every file but skips the content of files the
    // pushed `path =` filter rejects, so the bytes read say how many files'
    // worth of content the lookup read (1 when only the named file is read)
    val target = est.filesOf(State).filterNot(_.malformed).head
    val m = rec.metrics
    spark.sparkContext.addSparkListener(m)
    val b0 = m.snap(spark)
    Terraform.resource(Terraform.rows(spark, paths)).filter(col("path") === est.abs(target))
      .collect()
    val b1 = m.snap(spark)
    spark.sparkContext.removeSparkListener(m)
    rec.layer("tf.pushdown_files_read",
      (b1.input - b0.input).toDouble / Files.size(root.resolve(target.rel)), "count")
  }

  private def deleteTree(p: Path): Unit =
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.sorted(java.util.Comparator.reverseOrder()).forEach(x => Files.delete(x))
      finally s.close()
    }
}
