package graft.tf

import graft.SparkSpecBase
import org.apache.spark.sql.functions._
import java.nio.file.{Files, Paths => JPaths, StandardCopyOption}

class TerraformStreamSpec extends SparkSpecBase {

  /** Copy a fixture into a watched directory: staged in a directory no
    * glob watches, mtime rewound to `modMs`, then atomically renamed in,
    * so a live stream never observes a half-written file or its fresh
    * intermediate mtime. */
  private def drop(fixture: String, dir: java.io.File, modMs: Long): Unit = {
    val name = JPaths.get(fixture).getFileName.toString
    val staged = Files.createTempDirectory("tfstage").resolve(name)
    Files.copy(JPaths.get(fixture), staged)
    assert(staged.toFile.setLastModified(modMs))
    Files.move(staged, JPaths.get(dir.getAbsolutePath, name), StandardCopyOption.ATOMIC_MOVE)
  }

  /** Start a memory-sink file-watch on one published table. */
  private def watch(table: String, globs: Seq[String], queryName: String) =
    spark.readStream.format("terraform")
      .option("table", table)
      .option("configurationFilePaths", globs.mkString(","))
      .load()
      .select("name", "path")
      .writeStream.format("memory").queryName(queryName)
      .option("checkpointLocation", Files.createTempDirectory(queryName + "-ckpt").toString)
      .outputMode("append").start()

  private def names(queryName: String): Seq[String] =
    spark.table(queryName).collect().map(_.getString(0)).sorted.toSeq

  test("file-watch stream (A21): new .tf files are parsed incrementally") {
    val watchDir = Files.createTempDirectory("tfwatch").toFile
    watchDir.deleteOnExit()
    val glob = Seq(s"${watchDir.getAbsolutePath}/*.tf")
    val res = watch("terraform_resource", glob, "tf_watch_res")
    val mods = watch("terraform_module", glob, "tf_watch_mod")
    try {
      res.processAllAvailable(); mods.processAllAvailable()
      assert(names("tf_watch_res").isEmpty && names("tf_watch_mod").isEmpty)

      drop("fixtures/main.tf", watchDir, 1000000L)
      res.processAllAvailable(); mods.processAllAvailable()
      assert(names("tf_watch_res") == Seq("app_server", "trail", "worker"))
      assert(names("tf_watch_mod") == Seq("vpc"))

      drop("fixtures/second.tf", watchDir, 2000000L)
      res.processAllAvailable(); mods.processAllAvailable()
      assert(names("tf_watch_res") == Seq("app_server", "trail", "worker"))
      assert(names("tf_watch_mod") == Seq("net", "s3_bucket", "vpc"))
    } finally { res.stop(); mods.stop() }
  }

  test("file-watch stream unions ALL configured globs, not just the first") {
    val dirA = Files.createTempDirectory("tfwatchA").toFile
    val dirB = Files.createTempDirectory("tfwatchB").toFile
    dirA.deleteOnExit(); dirB.deleteOnExit()
    val q = watch("terraform_module",
      Seq(s"${dirA.getAbsolutePath}/*.tf", s"${dirB.getAbsolutePath}/*.tf"), "tf_watch_multi")
    try {
      // distinct mtimes: a micro-batch between the two drops must not
      // raise the watermark to the second file's mtime
      drop("fixtures/main.tf", dirA, 1000000L)
      drop("fixtures/second.tf", dirB, 2000000L)
      q.processAllAvailable()
      // main.tf (dirA) carries vpc; second.tf (dirB) carries s3_bucket and
      // net — rows from both prove the second glob is watched too
      assert(names("tf_watch_multi") == Seq("net", "s3_bucket", "vpc"))
      val paths = spark.table("tf_watch_multi").collect().map(_.getString(1)).toSet
      assert(paths == Set(s"${dirA.getAbsolutePath}/main.tf", s"${dirB.getAbsolutePath}/second.tf"))
    } finally q.stop()
  }

  test("file-watch stream: a file matched by two overlapping globs arrives once") {
    val dir = Files.createTempDirectory("tfwatchOverlap").toFile
    dir.deleteOnExit()
    val q = watch("terraform_resource",
      Seq(s"${dir.getAbsolutePath}/*.tf", s"${dir.getAbsolutePath}/main.*"), "tf_watch_overlap")
    try {
      drop("fixtures/main.tf", dir, 1000000L)
      q.processAllAvailable()
      assert(names("tf_watch_overlap") == Seq("app_server", "trail", "worker"))
    } finally q.stop()
  }

  test("discovery tolerates missing sources and skips bare directories (A1)") {
    val r = Terraform.rows(spark, Terraform.Paths(
      configurationFilePaths = Seq("/nonexistent/*.tf", "/tmp"), // missing glob + bare dir
      planFilePaths = Seq("/also/missing.json")))
    assert(r.count() == 0)
  }

  test("variant helper views: variant_get over parsed JSON columns") {
    val dir = new java.io.File("fixtures").getAbsolutePath
    Terraform.register(spark, Terraform.Paths(
      configurationFilePaths = Seq(s"$dir/*.tf"),
      planFilePaths = Seq(s"$dir/tfplan.json"),
      stateFilePaths = Seq(s"$dir/terraform.tfstate")))
    Terraform.registerVariantViews(spark)
    val amis = spark.sql(
      """select variant_get(attributes_std, '$.ami', 'string') as ami
        |from terraform_resource_v where type = 'aws_instance'""".stripMargin)
      .collect().map(_.getString(0)).filter(_ != null)
    assert(amis.nonEmpty && amis.forall(_ == "ami-830c94e3"))
    val tag = spark.sql(
      """select variant_get(arguments, '$.tags.Name', 'string') as t
        |from terraform_resource_v where name = 'app_server' and path like '%main.tf'""".stripMargin)
      .collect().head.getString(0)
    assert(tag == "ExampleAppServerInstance")
  }

  test("batch watch-path refresh: edits become visible after Terraform.refresh") {
    // reference: `steampipe:"watch"` tags (connection_config.go:8-11) — the
    // SDK invalidates its cache on file change; refresh is the batch analog
    val dir = Files.createTempDirectory("tfrefresh").toFile
    dir.deleteOnExit()
    Files.copy(JPaths.get("fixtures/main.tf"),
      JPaths.get(dir.getAbsolutePath, "main.tf"), StandardCopyOption.REPLACE_EXISTING)
    Terraform.register(spark, Terraform.Paths(
      configurationFilePaths = Seq(s"${dir.getAbsolutePath}/*.tf")))
    assert(spark.table("terraform_resource").count() == 3)

    // an edit: new resource appended to the watched file
    val f = JPaths.get(dir.getAbsolutePath, "main.tf")
    Files.writeString(f, Files.readString(f) +
      "\nresource \"aws_sqs_queue\" \"edited_in\" {\n  name = \"q\"\n}\n")
    // stale until refreshed (the cached parse is the SDK-cache analog) …
    assert(spark.table("terraform_resource").count() == 3)
    Terraform.refresh(spark)
    // … then the edit is visible through the SAME view names
    assert(spark.table("terraform_resource").count() == 4)
    assert(spark.table("terraform_resource")
      .filter(col("name") === "edited_in").count() == 1)
  }
}
