package graft.perfbench

import graft.queries.{Dedup, Multimodal, Similarity, TextAnalysis}
import graft.queries.Multimodal.Asset
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import scala.collection.mutable

/** idx_rw: the persisted-index lifecycle over a generated corpus (a 4x
  * re-keyed, perturbed derivation of documents and embeddings). Set-up
  * builds the minhash, bm25, ivf2, gram and phash families. Each cycle then
  * runs a probe batch (ivf2 search, hybrid search, minhash and phash dup
  * probes), appends a fixed-size increment to every family, files a seeded
  * takedown and reclaims it, runs a second probe batch, and compacts.
  *
  * Checks: taken-down ids never come back after reclaim, an appended
  * document is found by the next probe of its exact duplicate, a copy of a
  * live vector ranks the original first, a twin of a live image finds its
  * original, and compaction keeps live row counts. */
final class IdxRw(spark: SparkSession, rec: Recorder, dir: String) extends Workload {
  import spark.implicits._

  private val Mh = "mh"
  private val Bm = "bm"
  private val Iv = "iv"
  private val Gm = "gm"
  private val Ph = "ph"
  private val Families = Seq("minhash" -> Mh, "bm25" -> Bm, "ivf2" -> Iv, "gram" -> Gm,
    "phash" -> Ph)
  private val IncrementDocs = 40
  private val TakedownsPerCycle = 4
  private val ProbeQueries = 10
  private val FreshIdBase = 9000000000L
  private val TwinOffset = 500000000L

  private lazy val docs = spark.read.parquet(s"$dir/documents.parquet").select("doc_id", "text")
  private lazy val emb = spark.read.parquet(s"$dir/embeddings.parquet")
    .select("vec_id", "embedding")
  private var docIds: IndexedSeq[Long] = _
  private var vecIds: IndexedSeq[Long] = _
  private val takenDocs = mutable.LinkedHashSet.empty[Long]
  private val takenVecs = mutable.LinkedHashSet.empty[Long]
  private val takenPngs = mutable.LinkedHashSet.empty[Long]
  /** (id, text) of the newest appended documents, probed by the next batch. */
  private var lastAppended: Seq[(Long, String)] = Nil

  private def rng(parts: Long*) = new java.util.SplittableRandom(
    parts.foldLeft(rec.seed * 0x9E3779B97F4A7C15L)((h, p) => (h ^ p) * 0xC2B2AE3D27D4EB4FL))

  private def liveDocs = docIds.filterNot(takenDocs)
  private def livePngs = docIds.filter(i => i % 3 == 0 && !takenPngs(i))

  def setup(): Unit = {
    rec.setupStep("load") {
      docIds = docs.select("doc_id").as[Long].collect().toIndexedSeq.sorted
      vecIds = emb.select("vec_id").as[Long].collect().toIndexedSeq.sorted
      val bytes = Seq("documents", "embeddings").map { t =>
        val f = new java.io.File(s"$dir/$t.parquet")
        f.length()
      }.sum
      rec.notes("input_parquet_bytes") = bytes.toString
    }
    rec.setupStep("build") {
      def build(fam: String)(f: => Unit): Unit =
        rec.op("build", fam)(f)(_ => None)
      build("minhash")(Dedup.writeMinhashIndexBucketed(spark, dir, Mh))
      build("bm25")(TextAnalysis.writeBm25Index(spark, dir, Bm))
      build("ivf2")(Similarity.writeIvf2Index(spark, dir, Iv))
      build("gram")(Dedup.writeGramIndexCounted(spark, dir, Gm))
      build("phash")(Multimodal.writePhashIndex(spark, dir, Ph))
    }
    rec.setupStep("warmup") {
      // one untimed probe batch: JIT and codegen for the timed probes
      probes(-1, record = false)
    }
  }

  private def copiesOf(ids: Seq[Long], idOffset: Long): DataFrame =
    docs.filter(col("doc_id").isin(ids: _*))
      .select((col("doc_id") + lit(idOffset)).as("doc_id"), col("text"))

  private def twins(ids: Seq[Long]): org.apache.spark.sql.Dataset[Asset] =
    ids.map(id => Asset(id + TwinOffset, "image/png", Multimodal.pngBytesPerturbed(id), 64, 64))
      .toDS()

  /** One probe batch. With `record = false` nothing is timed or checked. */
  private def probes(c: Int, record: Boolean): Unit = {
    val r = rng(c.toLong, 11L)
    val qVecs = Seq.fill(ProbeQueries)(vecIds(r.nextInt(vecIds.size))).distinct
    val qDocs = Seq.fill(ProbeQueries)(docIds(r.nextInt(docIds.size))).distinct
    val qPngs = Seq.fill(ProbeQueries)(docIds(r.nextInt(docIds.size)))
      .map(i => i - i % 3).filter(docIds.toSet).distinct
    def run[T](name: String)(f: => T)(check: T => Option[String]): Unit =
      if (record) rec.op("probe", name)(f)(check) else { f; () }

    // ivf2: an exact copy (under a new id; the search skips qid == vec_id)
    // of a live vector ranks the original first
    run("ivf2") {
      val q = emb.filter(col("vec_id").isin(qVecs: _*))
        .select((col("vec_id") + lit(TwinOffset)).as("vec_id"), col("embedding"))
      Similarity.ivf2SearchOf(q, Iv, 2, 4).select("qid", "rank", "vec_id").collect()
    } { rows =>
      val bad = rows.filter(x => takenVecs(x.getLong(2)))
      val top = rows.filter(_.getAs[Number](1).intValue == 1)
        .map(x => (x.getLong(0) - TwinOffset) -> x.getLong(2)).toMap
      val missed = qVecs.filterNot(takenVecs).filterNot(q => top.get(q).contains(q))
      if (bad.nonEmpty) Some(s"taken-down vectors returned: ${bad.map(_.getLong(2)).toSeq}")
      else if (missed.nonEmpty) Some(s"originals not ranked first for: $missed")
      else None
    }

    // hybrid: bm25 (term-bucketed) + ivf2, fused
    // (vector ids are also document ids, so every query has both parts)
    run("hybrid") {
      val q = docs.filter(col("doc_id").isin(qVecs: _*))
        .select(col("doc_id").as("qid"), expr("slice(split(text, ' '), 1, 3)").as("terms"))
        .join(emb.select(col("vec_id").as("qid"), col("embedding")), Seq("qid"))
      TextAnalysis.hybridSearchOf(q, Bm, Iv).select("qid", "doc_id", "r_bm25").collect()
    } { rows =>
      val lexical = rows.filter(x => !x.isNullAt(2)).map(_.getLong(1))
      val bad = lexical.filter(takenDocs)
      if (rows.map(_.getLong(0)).distinct.length != qVecs.size) Some("a query got no results")
      else if (bad.nonEmpty) Some(s"taken-down documents returned: ${bad.toSeq}")
      else None
    }

    // minhash: exact copies of live, taken-down and just-appended documents
    run("minhash") {
      val live = qDocs.filterNot(takenDocs)
      val batch = copiesOf(live ++ takenDocs.toSeq.takeRight(TakedownsPerCycle), TwinOffset)
        .unionByName(lastAppended.map { case (id, t) => (id + TwinOffset, t) }
          .toDF("doc_id", "text"))
      Dedup.incrementalDupsAgainstBucketedIndexOf(batch, Mh)
        .select("doc_id", "dup_of").collect().map(x => x.getLong(0) -> x.getLong(1)).toMap
    } { found =>
      val back = found.values.filter(takenDocs)
      val lost = lastAppended.map(_._1).filterNot(id => found.get(id + TwinOffset).contains(id))
      if (back.nonEmpty) Some(s"taken-down documents returned: ${back.toSeq}")
      else if (lost.nonEmpty) Some(s"appended documents not found by their duplicate: $lost")
      else None
    }

    // phash: perturbed twins of live and taken-down images
    run("phash") {
      Multimodal.incrementalPhashDupsAgainstBucketedIndex(twins(qPngs), Ph)
        .select("new_id", "dup_id").collect().map(x => (x.getLong(0), x.getLong(1)))
    } { pairs =>
      val back = pairs.map(_._2).filter(takenPngs)
      val got = pairs.toSet
      val lost = qPngs.filterNot(takenPngs).filterNot(i => got((i + TwinOffset, i)))
      if (back.nonEmpty) Some(s"taken-down images returned: ${back.toSeq}")
      else if (lost.nonEmpty) Some(s"twins did not find their originals: $lost")
      else None
    }
  }

  private def freshText(r: java.util.SplittableRandom, id: Long): String = {
    val words = Seq("spark", "table", "merge", "vector", "window", "scan", "index", "batch")
    (0 until 40).map(i => s"${words(r.nextInt(words.size))}_${id}_$i").mkString(" ")
  }

  private def countOf(t: String): Long = spark.table(t).count()

  def cycle(c: Int): Unit = {
    probes(c * 2, record = true)

    // fixed-size increment into every family
    val r = rng(c.toLong, 13L)
    val ids = (0 until IncrementDocs).map(j => FreshIdBase + c * 1000L + j)
    val inc = ids.map(id => (id, freshText(r, id)))
    val incDocs = inc.toDF("doc_id", "text")
    val incVecs = ids.map { id =>
      val v = Array.fill(64)(r.nextGaussian().toFloat)
      val n = math.sqrt(v.map(x => x * x).sum).toFloat
      (id, v.map(_ / n).toSeq)
    }.toDF("vec_id", "embedding")
    val incAssets = ids.filter(_ % 3 == 0)
      .map(id => Asset(id, "image/png", Multimodal.pngBytes(id), 64, 64)).toDS()
    def append(fam: String, table: String)(f: => Unit): Unit = {
      val before = countOf(table)
      rec.op("append", fam) { f; countOf(table) } { after =>
        if (after > before) None else Some(s"$table rows $before -> $after")
      }
    }
    append("minhash", s"${Mh}_sig")(Dedup.appendMinhashIndexBucketed(incDocs, Mh))
    append("bm25", s"${Bm}_dl")(TextAnalysis.appendBm25Postings(spark, Bm, incDocs))
    append("ivf2", s"${Iv}_postings")(Similarity.appendIvf2Postings(spark, Iv, incVecs))
    append("gram", s"${Gm}_gramdf")(Dedup.appendGramIndexCounted(incDocs, Gm))
    append("phash", s"${Ph}_sig")(Multimodal.appendPhashIndex(spark, Ph, incAssets))
    docIds = docIds ++ ids
    lastAppended = inc.take(3)

    // seeded takedown, then the physical reclaim of every family
    val rt = rng(c.toLong, 17L)
    val live = liveDocs.filter(_ < FreshIdBase)
    val tdDocs = Seq.fill(TakedownsPerCycle)(live(rt.nextInt(live.size))).distinct
    val liveV = vecIds.filterNot(takenVecs)
    val tdVecs = Seq.fill(TakedownsPerCycle)(liveV(rt.nextInt(liveV.size))).distinct
    val pngs = livePngs.filter(_ < FreshIdBase)
    val tdPngs = Seq.fill(TakedownsPerCycle)(pngs(rt.nextInt(pngs.size))).distinct
    def reclaim(fam: String, prefix: String, ids: Seq[Long])(f: => Unit): Unit =
      rec.op("reclaim", fam) {
        graft.Takedown.add(spark, prefix, ids.toDF("id"))
        f
        graft.Takedown.pending(spark, prefix)
      } { pending => if (pending) Some("ledger still pending after reclaim") else None }
    reclaim("minhash", Mh, tdDocs)(Dedup.reclaimMinhashIndex(spark, Mh))
    reclaim("bm25", Bm, tdDocs)(TextAnalysis.reclaimBm25Index(spark, Bm))
    reclaim("ivf2", Iv, tdVecs)(Similarity.reclaimIvf2Postings(spark, Iv))
    reclaim("gram", Gm, tdDocs)(Dedup.reclaimGramIndexCounted(docs, Gm))
    reclaim("phash", Ph, tdPngs)(Multimodal.reclaimPhashIndex(spark, Ph))
    takenDocs ++= tdDocs
    takenPngs ++= tdPngs
    takenVecs ++= tdVecs

    probes(c * 2 + 1, record = true)

    // compaction keeps live rows
    def compact(fam: String, table: String, live: => Long)(f: => Unit): Unit = {
      val before = live
      rec.op("compact", fam) { f; live } { after =>
        if (after == before) None else Some(s"$table live rows $before -> $after")
      }
    }
    compact("minhash", s"${Mh}_keys", countOf(s"${Mh}_keys"))(
      graft.Engine.compactBucketedTable(spark, s"${Mh}_keys"))
    compact("bm25", s"${Bm}_tf", countOf(s"${Bm}_tf"))(
      graft.Engine.compactBucketedTable(spark, s"${Bm}_tf"))
    compact("ivf2", s"${Iv}_postings", countOf(s"${Iv}_postings"))(
      graft.Engine.compactBucketedTable(spark, s"${Iv}_postings"))
    compact("gram", s"${Gm}_gramdf",
      spark.table(s"${Gm}_gramdf").groupBy("h").agg(sum("df").as("df"))
        .filter(col("df") > 0).count())(Dedup.compactGramIndexCounted(spark, Gm))
    compact("phash", s"${Ph}_keys", countOf(s"${Ph}_keys"))(
      graft.Engine.compactBucketedTable(spark, s"${Ph}_keys"))

    val maint = rec.ops.filter(o => o.cycle == c && o.ok &&
      Set("append", "reclaim", "compact")(o.kind)).map(_.secs).sum
    rec.sample("idx_maint_s", "s", maint)
    Families.foreach { case (fam, prefix) =>
      rec.sample(s"idx.$fam.files", "count", dataFiles(prefix).toDouble)
    }
  }

  /** Data files of every table of a family, on disk. */
  private def dataFiles(prefix: String): Long = tableFiles(prefix).map(_._1).sum

  /** (data files, bytes) per table of the family. */
  private def tableFiles(prefix: String): Seq[(Long, Long)] = {
    val wh = new java.io.File(spark.conf.get("spark.sql.warehouse.dir").stripPrefix("file:"))
    Option(wh.listFiles()).toSeq.flatten
      .filter(d => d.isDirectory && d.getName.startsWith(prefix + "_")).map { d =>
        val fs = Option(d.listFiles()).toSeq.flatten.filter(f => f.isFile && !f.getName.startsWith(".") &&
          !f.getName.startsWith("_"))
        (fs.size.toLong, fs.map(_.length()).sum)
      }
  }

  def layers(): Unit = {
    def per(kind: String, fam: String): Option[Double] = {
      val xs = rec.ops.filter(o => o.traced && o.ok && o.kind == kind && o.name == fam)
        .map(_.secs)
      if (xs.isEmpty) None else Some(xs.sum / xs.size)
    }
    val builds = rec.ops.filter(o => o.kind == "build" && o.ok)
    Families.foreach { case (fam, prefix) =>
      builds.find(_.name == fam).foreach(o => rec.layer(s"idx.$fam.build_s", o.secs, "s"))
      per("append", fam).foreach(v => rec.layer(s"idx.$fam.append_s", v, "s"))
      per("reclaim", fam).foreach(v => rec.layer(s"idx.$fam.reclaim_s", v, "s"))
      per("compact", fam).foreach(v => rec.layer(s"idx.$fam.compact_s", v, "s"))
      rec.layer(s"idx.$fam.files", dataFiles(prefix).toDouble, "count")
      val written = rec.opStats.collect { case ((k, n), s) if n == fam && k != "probe" =>
        s.writtenMb }.sum
      rec.layer(s"idx.$fam.mb_written", written, "MB")
    }
    Seq("ivf2", "hybrid", "minhash", "phash").foreach { p =>
      per("probe", p).foreach(v => rec.layer(s"idx.$p.probe_ms", v * 1e3, "ms"))
    }
  }

  /** On-disk bytes of every index table, for idx_bytes_per_input_byte. */
  def indexBytes: Long = Families.map(_._2).flatMap(tableFiles).map(_._2).sum

  override def minCycles: Int = 1

  /** Reported once the timed loop is over. */
  override def finish(): Unit =
    rec.notes("index_bytes") = indexBytes.toString
}
