package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

/** The DELETE verb, end-to-end: for every index family the LOGICAL
  * phase (probe/search anti-joins the tombstone ledger) must equal a
  * rebuild-without-the-docs, and the PHYSICAL phase (the reclaim verbs
  * riding the compaction/refit rewrites) must leave the tombstoned
  * rows absent from the files, the ledger cleared, and the verdicts
  * unchanged. Plus the write-intent guard that fences every swap
  * window these verbs share. */
class TakedownSpec extends SparkSpecBase {

  private def warehouse: String =
    new java.net.URI(spark.conf.get("spark.sql.warehouse.dir")).getPath

  private def dropTables(names: String*): Unit =
    for (t <- names) {
      spark.sql(s"DROP TABLE IF EXISTS $t")
      org.apache.hadoop.fs.FileUtil.fullyDelete(new java.io.File(warehouse, t))
    }

  private def dropFamily(prefix: String, suffixes: String*): Unit =
    dropTables((suffixes.map(prefix + _) :+ s"${prefix}_tomb"): _*)

  test("excluding with no ledger is a pass-through: the SAME relation, zero plan change") {
    val df = spark.range(5).toDF("doc_id")
    assert(Takedown.excluding(df, "td_no_such_prefix", "doc_id") eq df,
      "no-ledger excluding must return the identical DataFrame object")
  }

  test("add aligns a later id type to the ledger's and survives idCol == 'id'") {
    import spark.implicits._
    dropFamily("tdt")
    Takedown.add(spark, "tdt", Seq(1L, 2L).toDF("some_id"))
    // second add with INT ids must cast to the ledger's LONG, not fail
    Takedown.add(spark, "tdt", Seq(3, 4).toDF("other"))
    val ledger = spark.table("tdt_tomb")
    assert(ledger.schema("id").dataType == org.apache.spark.sql.types.LongType)
    assert(ledger.collect().map(_.getLong(0)).toSet == Set(1L, 2L, 3L, 4L))
    // a relation whose OWN id column is named `id` must not trip an
    // ambiguous-reference error in the anti-join
    val tbl = Seq((1L, "a"), (5L, "b")).toDF("id", "v")
    val got = Takedown.excluding(tbl, "tdt", "id").collect().map(_.getLong(0)).toSet
    assert(got == Set(5L))
    dropFamily("tdt")
  }

  test("first add reclaims a ledger directory orphaned by a killed session") {
    import spark.implicits._
    dropFamily("tdo")
    // a session killed mid-write leaves the ledger's files but no catalog
    // entry — a bare saveAsTable would fail with LOCATION_ALREADY_EXISTS
    val orphan = new java.io.File(warehouse, Takedown.tombTable("tdo"))
    assert(orphan.mkdirs())
    java.nio.file.Files.writeString(orphan.toPath.resolve("part-00000.parquet"), "torn")
    Takedown.add(spark, "tdo", Seq(7L).toDF("id"))
    assert(spark.table("tdo_tomb").collect().map(_.getLong(0)).toSeq == Seq(7L))
    dropFamily("tdo")
  }

  test("minhash: tombstoned probe == rebuild-without-the-doc; reclaim purges files, adjusts counts, clears") {
    import spark.implicits._
    dropFamily("tdm", "_sig", "_keys", "_counts")
    dropFamily("tdmr", "_sig", "_keys", "_counts")
    graft.queries.Dedup.writeMinhashIndexBucketed(spark, sf, "tdm", buckets = 8,
      docFilter = col("doc_id") < 400)
    def probe(prefix: String) = graft.queries.Dedup
      .incrementalDupsAgainstBucketedIndex(spark, sf, prefix, col("doc_id") >= 400)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3))).toSeq
    val baseline = probe("tdm")
    assert(baseline.nonEmpty, "no cross-boundary dups — gate is vacuous")
    val victim = baseline.head._3 // a history doc some probe doc duplicates
    graft.queries.Dedup.writeMinhashIndexBucketed(spark, sf, "tdmr", buckets = 8,
      docFilter = col("doc_id") < 400 && col("doc_id") =!= victim)
    val want = probe("tdmr")
    Takedown.add(spark, "tdm", Seq(victim).toDF("id"))
    val got = probe("tdm")
    assert(got != baseline, "tombstone changed nothing — the pin is vacuous")
    assert(got == want, s"logical takedown diverged from rebuild-without-$victim:\n$got\nvs\n$want")
    // physical: the reclaim rides the compaction rewrite
    graft.queries.Dedup.reclaimMinhashIndex(spark, "tdm")
    assert(!Takedown.pending(spark, "tdm"), "ledger must clear after the reclaim")
    assert(spark.table("tdm_keys").filter(col("doc_id") === victim).count() == 0L,
      "tombstoned keys must be physically absent")
    assert(spark.table("tdm_sig").filter(col("doc_id") === victim).count() == 0L,
      "tombstoned signatures must be physically absent")
    assert(probe("tdm") == want, "post-reclaim verdicts must still equal the rebuild")
    // counts adjustment is EXACT on an under-cap corpus: the reclaimed
    // index's per-bucket totals equal the rebuild's
    // bh is BINARY (round 20): compare by value, not Array reference
    def counts(prefix: String) = spark.table(s"${prefix}_counts")
      .collect().map(_.toSeq.map {
        case b: Array[Byte] => b.toSeq
        case x => x
      }).toSet
    assert(counts("tdm") == counts("tdmr"),
      "reclaimed counts must equal the rebuild-without-the-doc counts")
    dropFamily("tdm", "_sig", "_keys", "_counts")
    dropFamily("tdmr", "_sig", "_keys", "_counts")
  }

  test("minhash: over-cap dead keys shed at reclaim; probe verdicts invariant; mass drops") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-td-overcap").toString
    val hotText = (1 to 40).map(i => s"hot$i").mkString(" ")
    val okText = (1 to 40).map(i => s"ok$i").mkString(" ")
    val docs: Seq[(Long, String)] =
      (0L until 9L).map((_, hotText)) ++ Seq(10L, 11L, 12L).map((_, okText)) ++
        (100L until 107L).map((_, hotText)) ++ Seq(110L, 111L, 112L).map((_, okText)) ++
        (200L until 203L).map((_, hotText)) ++ Seq(210L, 211L, 212L).map((_, okText))
    docs.toDF("doc_id", "text").write.parquet(s"$dir/documents.parquet")
    val cap = 10L
    dropFamily("tdo", "_sig", "_keys", "_counts")
    // 9 hot members indexed under the cap (keys written); the appended 7
    // push the union to 16 > 10 — the append writes no hot keys, but the
    // 9 originals remain on disk as verdict-dead weight
    graft.queries.Dedup.writeMinhashIndexBucketed(spark, dir, "tdo", buckets = 4,
      docFilter = col("doc_id") < 100, cap = cap)
    graft.queries.Dedup.appendMinhashIndexBucketed(
      spark.read.parquet(s"$dir/documents.parquet")
        .filter(col("doc_id") >= 100 && col("doc_id") < 200).select("doc_id", "text"),
      "tdo", cap = cap)
    def probe() = graft.queries.Dedup
      .incrementalDupsAgainstBucketedIndex(spark, dir, "tdo", col("doc_id") >= 200, cap)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3))).toSeq
    val pre = probe()
    assert(pre.map(_._1) == Seq(210L, 211L, 212L),
      s"hot bucket must drop (joint 16+3 > 10) and the control group survive: $pre")
    val keysBefore = spark.table("tdo_keys").count()
    val deadBefore = spark.table("tdo_keys")
      .join(spark.table("tdo_counts").filter(col("n") > cap), Seq("band", "bh"), "left_semi")
      .count()
    assert(deadBefore > 0, "no dead keys planted — the reclaim pin is vacuous")
    graft.queries.Dedup.reclaimMinhashIndex(spark, "tdo", cap)
    assert(probe() == pre, "over-cap reclaim must not change probe verdicts")
    val keysAfter = spark.table("tdo_keys").count()
    assert(keysAfter == keysBefore - deadBefore,
      s"reclaim must shed exactly the dead keys: $keysBefore -> $keysAfter (dead $deadBefore)")
    assert(spark.table("tdo_keys")
      .join(spark.table("tdo_counts").filter(col("n") > cap), Seq("band", "bh"), "left_semi")
      .count() == 0L, "no over-cap bucket may retain keys after the reclaim")
    dropFamily("tdo", "_sig", "_keys", "_counts")
  }

  test("bm25: tombstoned search == rebuild (df, avgdl and N all shrink); reclaim purges and restores the fast path") {
    import spark.implicits._
    dropFamily("tdb", "_tf", "_dl", "_stats")
    dropFamily("tdbr", "_tf", "_dl", "_stats")
    graft.queries.TextAnalysis.writeBm25Index(spark, sf, "tdb")
    val queries = spark.read.parquet(s"$sf/documents.parquet").filter(col("doc_id") < 5)
      .select(col("doc_id").as("qid"), expr("slice(split(text, ' '), 1, 3)").as("terms"))
    // output columns: (qid, rank, doc_id, score)
    def search(prefix: String) = graft.queries.TextAnalysis.bm25SearchOf(queries, prefix)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
      .sortBy(t => (t._1, t._2)).toSeq
    val baseline = search("tdb")
    // victim: a ranked history doc that is not one of the query docs
    val victim = baseline.map(_._3).find(_ >= 5L).get
    val dir = java.nio.file.Files.createTempDirectory("graft-td-bm25").toString
    spark.read.parquet(s"$sf/documents.parquet").filter(col("doc_id") =!= victim)
      .write.parquet(s"$dir/documents.parquet")
    graft.queries.TextAnalysis.writeBm25Index(spark, dir, "tdbr")
    val want = search("tdbr")
    Takedown.add(spark, "tdb", Seq(victim).toDF("id"))
    val got = search("tdb")
    assert(got != baseline, "tombstone changed nothing — the pin is vacuous")
    assert(got.map(t => (t._1, t._2, t._3)) == want.map(t => (t._1, t._2, t._3)),
      s"takedown ranking diverged from the rebuild:\n${got.toSeq}\nvs\n${want.toSeq}")
    got.zip(want).foreach { case (g, w) =>
      assert(math.abs(g._4 - w._4) < 1e-9, s"score drift: $g vs $w") }
    graft.queries.TextAnalysis.reclaimBm25Index(spark, "tdb")
    assert(!Takedown.pending(spark, "tdb"))
    assert(spark.table("tdb_tf").filter(col("doc_id") === victim).count() == 0L)
    assert(spark.table("tdb_dl").filter(col("doc_id") === victim).count() == 0L)
    // the persisted stats now equal the rebuild's (nn and sdl shrank)
    val sGot = spark.table("tdb_stats").head()
    val sWant = spark.table("tdbr_stats").head()
    assert(sGot.toSeq == sWant.toSeq, s"stats: $sGot vs $sWant")
    val post = search("tdb")
    assert(post.map(t => (t._1, t._2, t._3)) == want.map(t => (t._1, t._2, t._3)))
    dropFamily("tdb", "_tf", "_dl", "_stats")
    dropFamily("tdbr", "_tf", "_dl", "_stats")
  }

  test("phash: tombstoned probe drops exactly the victim's pairs in BOTH regimes; reclaim purges") {
    import graft.queries.Multimodal
    dropFamily("tdp", "_sig", "_keys")
    Multimodal.writePhashIndex(spark, sf, "tdp", maxId = 120)
    val twins = Multimodal.perturbedPngTwins(spark, sf, maxId = 120)
    def probe(bucketed: Boolean) = (if (bucketed)
        Multimodal.incrementalPhashDupsAgainstBucketedIndex(twins, "tdp")
      else Multimodal.incrementalPhashDupsAgainstIndex(twins, "tdp"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val baseline = probe(bucketed = false)
    assert(baseline.nonEmpty)
    val victim = baseline.head._2
    // removing ONE asset from the index removes exactly its pairs —
    // banding is per-asset independent, so the filtered expectation IS
    // the rebuild-without-the-asset
    val want = baseline.filterNot(_._2 == victim)
    import spark.implicits._
    Takedown.add(spark, "tdp", Seq(victim).toDF("id"))
    assert(probe(bucketed = false) == want, "broadcast regime must honor the ledger")
    assert(probe(bucketed = true) == want, "bucketed regime must honor the ledger")
    Multimodal.reclaimPhashIndex(spark, "tdp")
    assert(!Takedown.pending(spark, "tdp"))
    assert(spark.table("tdp_keys").filter(col("asset_id") === victim).count() == 0L)
    assert(spark.table("tdp_sig").filter(col("asset_id") === victim).count() == 0L)
    assert(probe(bucketed = false) == want)
    dropFamily("tdp", "_sig", "_keys")
  }

  test("ivf2: tombstoned search == same-fit index with the vector physically absent; refit folds the ledger") {
    import spark.implicits._
    dropFamily("tdv", "_coarse", "_fine", "_postings")
    dropFamily("tdvf", "_coarse", "_fine", "_postings")
    graft.queries.Similarity.writeIvf2Index(spark, sf, "tdv")
    val queries = spark.read.parquet(s"$sf/embeddings.parquet")
      .filter(col("vec_id") < 10).select("vec_id", "embedding")
    def search(prefix: String) = graft.queries.Similarity
      .ivf2SearchOf(queries, prefix, nprobeC = 2, nprobeF = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3))).toSet
    // output columns: (qid, rank, vec_id, cos) — the victim is the
    // RANKED vector, i.e. the third field
    val baseline = search("tdv")
    val victim = baseline.head._3
    // the rebuild-without-the-doc at the SAME fit: coarse and fine are
    // the fit (no document ids), postings rewritten without the victim
    def bucketsOf(t: String): Int = spark.sessionState.catalog
      .getTableMetadata(org.apache.spark.sql.catalyst.TableIdentifier(t))
      .bucketSpec.get.numBuckets
    spark.table("tdv_coarse").write.format("parquet").saveAsTable("tdvf_coarse")
    spark.table("tdv_fine").write.format("parquet")
      .bucketBy(bucketsOf("tdv_fine"), "ccid").saveAsTable("tdvf_fine")
    spark.table("tdv_postings").filter(col("vec_id") =!= victim)
      .write.format("parquet")
      .bucketBy(bucketsOf("tdv_postings"), "fcid").sortBy("fcid")
      .saveAsTable("tdvf_postings")
    val want = search("tdvf")
    Takedown.add(spark, "tdv", Seq(victim).toDF("id"))
    val got = search("tdv")
    assert(got != baseline, "tombstone changed nothing — the pin is vacuous")
    assert(got == want, s"takedown search diverged from the same-fit filtered index")
    // a refit rewrites the family anyway — pending tombstones fold in
    graft.queries.Similarity.refitIvf2IndexFromPostings(spark, "tdv")
    assert(!Takedown.pending(spark, "tdv"), "refit must clear the ledger")
    assert(spark.table("tdv_postings").filter(col("vec_id") === victim).count() == 0L,
      "refit postings must physically lack the tombstoned vector")
    assert(!search("tdv").exists(_._3 == victim), "the victim must never rank again")
    dropFamily("tdv", "_coarse", "_fine", "_postings")
    dropFamily("tdvf", "_coarse", "_fine", "_postings")
  }

  test("ivf-pq: tombstoned search == same-fit filtered index; reclaim purges postings and clears") {
    import spark.implicits._
    dropFamily("tdq", "_cents", "_codebook", "_postings")
    dropFamily("tdqf", "_cents", "_codebook", "_postings")
    graft.queries.ProductQuant.writePqIndex(spark, sf, "tdq")
    val queries = spark.read.parquet(s"$sf/embeddings.parquet")
      .filter(col("vec_id") < 10).select("vec_id", "embedding")
    def search(prefix: String) = graft.queries.ProductQuant
      .ivfPqSearchOf(queries, prefix, nprobe = 4, shortlist = 20)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3))).toSet
    // output columns: (qid, rank, vec_id, cos)
    val baseline = search("tdq")
    val victim = baseline.head._3
    val pqBuckets = spark.sessionState.catalog
      .getTableMetadata(org.apache.spark.sql.catalyst.TableIdentifier("tdq_postings"))
      .bucketSpec.get.numBuckets
    spark.table("tdq_cents").write.format("parquet").saveAsTable("tdqf_cents")
    spark.table("tdq_codebook").write.format("parquet").saveAsTable("tdqf_codebook")
    spark.table("tdq_postings").filter(col("vec_id") =!= victim)
      .write.format("parquet").bucketBy(pqBuckets, "cid").sortBy("cid")
      .saveAsTable("tdqf_postings")
    val want = search("tdqf")
    Takedown.add(spark, "tdq", Seq(victim).toDF("id"))
    val got = search("tdq")
    assert(got != baseline, "tombstone changed nothing — the pin is vacuous")
    assert(got == want, "takedown search diverged from the same-fit filtered index")
    graft.queries.ProductQuant.reclaimPqPostings(spark, "tdq")
    assert(!Takedown.pending(spark, "tdq"))
    assert(spark.table("tdq_postings").filter(col("vec_id") === victim).count() == 0L)
    assert(search("tdq") == want, "post-reclaim search must equal the filtered index")
    dropFamily("tdq", "_cents", "_codebook", "_postings")
    dropFamily("tdqf", "_cents", "_codebook", "_postings")
  }

  test("gram: reclaimGramIndex rebuilds-excluding — the victim's grams stop cutting increments") {
    import spark.implicits._
    dropFamily("tdg", "_grams")
    dropFamily("tdgr", "_grams")
    val runA = (1 to 8).map(i => s"a$i").mkString(" ")
    val runB = (1 to 8).map(i => s"b$i").mkString(" ")
    val dir = java.nio.file.Files.createTempDirectory("graft-td-gram").toString
    val corpus = Seq((1L, runA), (2L, runB)).toDF("doc_id", "text")
    corpus.write.parquet(s"$dir/documents.parquet")
    graft.queries.Dedup.writeGramIndex(spark, dir, "tdg", buckets = 4)
    val inc = Seq((100L, s"$runA x1 x2 x3 x4 x5 x6 x7 x8 $runB")).toDF("doc_id", "text")
    def removed(prefix: String): Long = graft.queries.Dedup
      .rewriteAgainstGramIndex(inc, prefix)
      .filter(col("doc_id") === 100L).head().getLong(1)
    assert(removed("tdg") == 16L, "baseline must cut both history runs (2 x 8 words)")
    Takedown.add(spark, "tdg", Seq(1L).toDF("id"))
    // gram rows carry no provenance, so the takedown takes effect at the
    // rebuild-excluding reclaim — the one family where that is the
    // honest contract
    graft.queries.Dedup.reclaimGramIndex(corpus, "tdg")
    assert(!Takedown.pending(spark, "tdg"))
    graft.queries.Dedup.writeGramIndex(spark, dir, "tdgr", buckets = 4,
      docFilter = col("doc_id") =!= 1L)
    assert(removed("tdg") == removed("tdgr"),
      "reclaimed index must rewrite exactly like a rebuild without the victim")
    assert(removed("tdg") == 8L, "only the surviving doc's run may cut")
    dropFamily("tdg", "_grams")
    dropFamily("tdgr", "_grams")
  }

  test("write-intent guard: a second maintainer on one prefix fails loud, not silently") {
    import spark.implicits._
    // nesting = two maintainers racing one family
    Engine.withWriteIntent(spark, "td_wig") {
      val e = intercept[IllegalStateException] {
        Engine.withWriteIntent(spark, "td_wig") { fail("body must not run") }
      }
      assert(e.getMessage.contains("write-intent conflict"))
    }
    // released on exit: the prefix is reusable
    assert(Engine.withWriteIntent(spark, "td_wig") { 42 } == 42)
    // default (append) posture — released on FAILURE too: a transient
    // failure in a single-table append must not brick the prefix
    intercept[RuntimeException] {
      Engine.withWriteIntent(spark, "td_wig") { throw new RuntimeException("boom") }
    }
    assert(Engine.withWriteIntent(spark, "td_wig") { 1 } == 1)
    // multi-table reclaim/refit posture — an in-JVM exception leaves the
    // family mid-swap like a process death would, so holdOnFailure
    // POISONS the marker and the next maintainer fails loud until an
    // operator verifies the family and clears
    intercept[RuntimeException] {
      Engine.withWriteIntent(spark, "td_wig", "reclaim-test", holdOnFailure = true) {
        throw new RuntimeException("mid-swap boom")
      }
    }
    val e3 = intercept[IllegalStateException] {
      Engine.withWriteIntent(spark, "td_wig") { fail("body must not run") }
    }
    assert(e3.getMessage.contains("write-intent conflict"))
    val poisoned = new java.io.File(warehouse, "td_wig__intent")
    val note = new String(java.nio.file.Files.readAllBytes(poisoned.toPath),
      java.nio.charset.StandardCharsets.UTF_8)
    assert(note.contains("reclaim-test FAILED") && note.contains("mid-swap boom"),
      s"poisoned marker must name the failed op + cause for triage: $note")
    Engine.clearWriteIntent(spark, "td_wig")
    assert(Engine.withWriteIntent(spark, "td_wig") { 2 } == 2)
    // the REAL verbs are fenced: a stale marker (dead maintainer) makes
    // an append fail loud until an operator clears it
    dropFamily("td_wigm", "_sig", "_keys", "_counts")
    val dir = java.nio.file.Files.createTempDirectory("graft-td-wig").toString
    (0L until 20L).map(i => (i, s"w$i " * 40)).toDF("doc_id", "text")
      .write.parquet(s"$dir/documents.parquet")
    graft.queries.Dedup.writeMinhashIndexBucketed(spark, dir, "td_wigm", buckets = 4,
      docFilter = col("doc_id") < 10)
    val marker = new java.io.File(warehouse, "td_wigm__intent")
    assert(marker.createNewFile(), "failed to plant the stale marker")
    val inc = spark.read.parquet(s"$dir/documents.parquet")
      .filter(col("doc_id") >= 10).select("doc_id", "text")
    val e2 = intercept[IllegalStateException] {
      graft.queries.Dedup.appendMinhashIndexBucketed(inc, "td_wigm")
    }
    assert(e2.getMessage.contains("td_wigm"))
    Engine.clearWriteIntent(spark, "td_wigm")
    graft.queries.Dedup.appendMinhashIndexBucketed(inc, "td_wigm") // now succeeds
    assert(spark.table("td_wigm_sig").count() == 20L)
    dropFamily("td_wigm", "_sig", "_keys", "_counts")
  }

  test("write-intent guard under a true two-thread race: exactly one maintainer wins per round") {
    // the letter of the contract: two INTERLEAVED maintainers on one
    // prefix produce an exception, not corruption. create-exclusive is
    // the arbiter, so across every round exactly one thread holds the
    // marker; the loser's failure is the loud IllegalStateException.
    val rounds = 25
    val inFlight = new java.util.concurrent.atomic.AtomicInteger(0)
    val maxInFlight = new java.util.concurrent.atomic.AtomicInteger(0)
    val wins = new java.util.concurrent.atomic.AtomicInteger(0)
    val losses = new java.util.concurrent.atomic.AtomicInteger(0)
    val barrier = new java.util.concurrent.CyclicBarrier(2)
    def maintainer(): Runnable = () =>
      (1 to rounds).foreach { _ =>
        barrier.await()
        try Engine.withWriteIntent(spark, "td_race") {
          val now = inFlight.incrementAndGet()
          maxInFlight.getAndAccumulate(now, math.max)
          Thread.sleep(1)
          inFlight.decrementAndGet()
          wins.incrementAndGet()
          ()
        } catch { case _: IllegalStateException => losses.incrementAndGet(); () }
      }
    val t1 = new Thread(maintainer()); val t2 = new Thread(maintainer())
    t1.start(); t2.start(); t1.join(); t2.join()
    assert(maxInFlight.get() == 1,
      s"two maintainers held the intent concurrently (${maxInFlight.get()})")
    assert(losses.get() >= 1,
      s"the race never manifested a loud rejection across $rounds rounds " +
        s"(wins ${wins.get()}, losses ${losses.get()}) — raise rounds")
    assert(wins.get() + losses.get() == 2 * rounds)
    // the marker never leaks: the prefix is immediately reusable
    assert(Engine.withWriteIntent(spark, "td_race") { 7 } == 7)
  }

  test("maintained bm25 ingest folds a mid-stream takedown: post-drain search == union rebuild without the doc") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    dropFamily("tdsb", "_tf", "_dl", "_stats")
    dropFamily("tdsbr", "_tf", "_dl", "_stats")
    val dir = java.nio.file.Files.createTempDirectory("graft-td-bm25s").toString
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    docs.filter(col("doc_id") < 200).write.parquet(s"$dir/documents.parquet")
    graft.queries.TextAnalysis.writeBm25Index(spark, dir, "tdsb")
    val victim = 7L
    Takedown.add(spark, "tdsb", Seq(victim).toDF("id"))
    val rest = docs.filter(col("doc_id") >= 200)
      .select("doc_id", "text").as[(Long, String)].collect().sortBy(_._1)
    val batches = rest.grouped(math.max(1, rest.length / 3)).toSeq
    val in = MemoryStream[(Long, String)]
    val compactions = scala.collection.mutable.ArrayBuffer.empty[Boolean]
    val q = graft.streaming.Streams.bm25IngestMaintained(
        in.toDF().toDF("doc_id", "text"), "tdsb", maxGroups = 1.5) {
      (_, _, compacted) =>
        compactions.synchronized { compactions += compacted }
        ()
    }.start()
    try {
      for (b <- batches) { in.addData(b.toIndexedSeq: _*); q.processAllAvailable() }
    } finally q.stop()
    assert(compactions.count(identity) >= 1,
      s"the audit must have fired a mid-stream rewrite: $compactions")
    assert(!Takedown.pending(spark, "tdsb"),
      "the rewrite must have folded the tombstone and cleared the ledger")
    assert(spark.table("tdsb_tf").filter(col("doc_id") === victim).count() == 0L)
    assert(spark.table("tdsb_dl").filter(col("doc_id") === victim).count() == 0L)
    // the drained index scores EXACTLY like a one-shot rebuild over the
    // union corpus minus the victim — stats and df included
    val dir2 = java.nio.file.Files.createTempDirectory("graft-td-bm25r").toString
    docs.filter(col("doc_id") =!= victim).write.parquet(s"$dir2/documents.parquet")
    graft.queries.TextAnalysis.writeBm25Index(spark, dir2, "tdsbr")
    val queries = docs.filter(col("doc_id") < 5)
      .select(col("doc_id").as("qid"), expr("slice(split(text, ' '), 1, 3)").as("terms"))
    def search(prefix: String) = graft.queries.TextAnalysis.bm25SearchOf(queries, prefix)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
      .sortBy(t => (t._1, t._2))
    assert(search("tdsb") == search("tdsbr"),
      "maintained index after the mid-stream takedown must rank like the rebuild")
    dropFamily("tdsb", "_tf", "_dl", "_stats")
    dropFamily("tdsbr", "_tf", "_dl", "_stats")
  }

  test("maintained minhash ingest folds a mid-stream takedown: purge rides the audit-gated rewrite") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    dropFamily("tdsm", "_sig", "_keys", "_counts")
    graft.queries.Dedup.writeMinhashIndexBucketed(spark, sf, "tdsm", buckets = 8,
      docFilter = col("doc_id") < 200)
    // victim: an indexed history doc; filed BEFORE the stream starts, so
    // every probe honors it logically and the first audit-gated rewrite
    // purges it physically
    val victim = 7L
    Takedown.add(spark, "tdsm", Seq(victim).toDF("id"))
    val rest = spark.read.parquet(s"$sf/documents.parquet")
      .filter(col("doc_id") >= 200)
      .select("doc_id", "text").as[(Long, String)].collect().sortBy(_._1)
    val batches = rest.grouped(math.max(1, rest.length / 3)).toSeq
    val in = MemoryStream[(Long, String)]
    val compactions = scala.collection.mutable.ArrayBuffer.empty[Boolean]
    val q = graft.streaming.Streams.minhashIngestMaintained(
        in.toDF().toDF("doc_id", "text"), "tdsm", maxGroups = 1.5) {
      (_, _, compacted) =>
        compactions.synchronized { compactions += compacted }
        ()
    }.start()
    try {
      for (b <- batches) { in.addData(b.toIndexedSeq: _*); q.processAllAvailable() }
    } finally q.stop()
    assert(compactions.count(identity) >= 1,
      s"the audit must have fired a mid-stream rewrite: $compactions")
    assert(!Takedown.pending(spark, "tdsm"),
      "the rewrite must have folded the tombstone and cleared the ledger")
    assert(spark.table("tdsm_keys").filter(col("doc_id") === victim).count() == 0L,
      "tombstoned keys must be physically gone from the maintained index")
    assert(spark.table("tdsm_sig").filter(col("doc_id") === victim).count() == 0L)
    // a verbatim copy of the victim's text must no longer be matched to it
    val vtext = spark.read.parquet(s"$sf/documents.parquet")
      .filter(col("doc_id") === victim).head().getAs[String]("text")
    val reprobe = graft.queries.Dedup.incrementalDupsAgainstBucketedIndexOf(
        Seq((9000000L, vtext)).toDF("doc_id", "text"), "tdsm")
      .collect().map(r => (r.getLong(0), r.getLong(2)))
    assert(!reprobe.exists(_._2 == victim),
      s"a copy of the victim's text must not resolve to the victim: ${reprobe.toSeq}")
    dropFamily("tdsm", "_sig", "_keys", "_counts")
  }
}
