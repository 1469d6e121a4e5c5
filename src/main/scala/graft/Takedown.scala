package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions.{broadcast, col}

/** The DELETE verb of the persisted-index lifecycle — the tombstone
  * ledger every serving index family shares (minhash, gram, BM25,
  * pHash, IVF², IVF-PQ).
  *
  * A training-data pipeline must honor takedowns and opt-outs without
  * paying an O(index) rebuild per request, so removal is split into the
  * two phases a log-structured store uses:
  *
  *  - LOGICAL, immediate: removed ids append to a tiny ledger table
  *    (`{prefix}_tomb`); every probe/search/refit anti-joins its
  *    id-carrying index relations against the ledger. The ledger is
  *    takedown-sized, so the anti-join BROADCASTS — the index side's
  *    exchange-free topology is untouched, and the per-probe cost is
  *    O(ledger), not O(index).
  *  - PHYSICAL, amortized: the family's compaction rewrite (which the
  *    maintained-ingest streams already fire under the bucketFileAudit
  *    gate) drops tombstoned rows while rewriting files it was going to
  *    rewrite anyway, then clears the ledger. Takedowns therefore never
  *    trigger their own corpus rewrite; they ride the one that file
  *    hygiene was already paying for.
  *
  * Same single-writer contract as every swap in this engine
  * (Engine.compactBucketedTable): tombstones appended WHILE a reclaim
  * rewrite is in flight would be cleared without being applied — a
  * maintained-ingest stream satisfies the contract because foreachBatch
  * serializes the batch that appends, reclaims and clears; standalone
  * maintainers are additionally fenced by Engine.withWriteIntent.
  *
  * ENFORCED AT (the wiring, per family — TakedownSpec pins each):
  *  - minhash: probe Dedup.incrementalDupsAgainstBucketedIndexOf;
  *    reclaim Dedup.reclaimMinhashIndex (keys+sig drop, counts adjust)
  *  - BM25: search TextAnalysis.bm25SearchOf (postings, lengths, AND
  *    live stats recompute); reclaim TextAnalysis.reclaimBm25Index
  *  - pHash: probe Multimodal.incrementalPhashDupsAgainst*;
  *    reclaim Multimodal.reclaimPhashIndex
  *  - IVF²: search Similarity.ivf2SearchOf + drift audit; reclaim
  *    Similarity.reclaimIvf2Postings; refitIvf2IndexFromPostings
  *    folds pending tombstones and clears
  *  - IVF-PQ: search ProductQuant.ivfPqSearchOf + drift audit; reclaim
  *    ProductQuant.reclaimPqPostings; refitPqIndexFromPostings folds
  *  - gram: NO in-place reclaim by design (membership index, no
  *    provenance) — Dedup.reclaimGramIndex packages the honest
  *    rebuild-excluding path
  * The compaction-maintained ingests (Streams.*IngestMaintained) call
  * the family reclaim under their file-hygiene audit gate, so a
  * streamed crawl folds takedowns with zero extra rewrites. Scope:
  * managed bucketed serving indexes only — the path-based one-shot
  * indexes (writeMinhashIndex to a directory) are rebuild-cheap and
  * carry no ledger. */
object Takedown {

  def tombTable(prefix: String): String = s"${prefix}_tomb"

  private def exists(s: SparkSession, prefix: String): Boolean =
    s.sessionState.catalog.tableExists(
      org.apache.spark.sql.catalyst.TableIdentifier(tombTable(prefix)))

  /** Append removal ids to the ledger. `ids` is any single-column
    * relation (doc ids, asset ids, vector ids — the family's id type);
    * the column is normalized to `id` so every family reads one shape.
    * Idempotent at probe time (anti-join semantics make duplicate
    * ledger rows harmless); the physical reclaim collapses them away. */
  def add(s: SparkSession, prefix: String, ids: DataFrame): Unit = {
    require(ids.columns.length == 1,
      s"tombstone ids must be a single-column relation, got ${ids.columns.toSeq}")
    // align the id type with the existing ledger: a second add() with a
    // differently-typed column (int vs long, long vs string) must not
    // fail the append or silently coerce into a lossy union — cast
    // explicitly to the first add's type and fail LOUD on an
    // incompatible cast. The first add fixes the ledger's type; it
    // must match the family's id column (the probe anti-joins on it).
    val in = ids.toDF("id")
    val first = !exists(s, prefix)
    val aligned =
      if (first) in
      else {
        val t = s.table(tombTable(prefix)).schema("id").dataType
        if (in.schema("id").dataType == t) in
        else in.select(col("id").cast(t).as("id"))
      }
    // "fail LOUD" must not depend on spark.sql.ansi.enabled: with ANSI
    // off, an unparseable cast yields NULL rows the probe anti-join can
    // never match — the takedown would be accepted and then silently
    // never applied (compliance-relevant). A NULL id is meaningless in
    // any mode (it matches no index row), so reject the batch before it
    // reaches the ledger. Ledger-sized scan — cheap at any index scale.
    // The batch is persisted across the check and the write: without
    // it the two actions evaluate the input plan twice, and a
    // non-deterministic input (a sampled relation, a racing view)
    // could pass the null check with one set of rows and land another
    // in the ledger.
    val pinned = aligned.persist()
    try {
      require(pinned.filter(col("id").isNull).isEmpty,
        s"tombstone batch for '$prefix' contains NULL ids (unparseable cast " +
          "to the ledger's id type, or null inputs) — refusing a takedown " +
          "that the probe anti-join could never apply")
      // no ledger in the catalog, but a killed session may have left its
      // directory behind: the first append would then fail with
      // LOCATION_ALREADY_EXISTS
      if (first) Engine.reclaimManagedTable(s, tombTable(prefix))
      pinned.write.mode("append").format("parquet")
        .saveAsTable(tombTable(prefix))
    } finally pinned.unpersist(blocking = false)
  }

  /** The ledger relation — empty (but well-typed against `like`'s id
    * column) when no takedown has ever been filed, so callers compose
    * without an existence check. */
  def ids(s: SparkSession, prefix: String, like: DataFrame, idCol: String): DataFrame =
    if (exists(s, prefix)) s.table(tombTable(prefix))
    else like.select(col(idCol).as("id")).limit(0)

  /** Anti-join `tbl` against the ledger on `idCol` — the probe-time
    * logical delete. When no ledger exists the relation passes through
    * UNTOUCHED (zero plan change — the plan-quality pins on the
    * tombstone-free paths stay byte-identical); when it does, the
    * ledger broadcasts, so the index side keeps its bucketing and
    * never exchanges. */
  def excluding(tbl: DataFrame, prefix: String, idCol: String): DataFrame = {
    val s = tbl.sparkSession
    if (!exists(s, prefix)) tbl
    else {
      // bind the ledger side explicitly: an unqualified col("id") is
      // ambiguous whenever tbl itself carries a column named `id`
      // (the common idCol == "id" case) and throws at probe time
      val ledger = s.table(tombTable(prefix))
      tbl.join(broadcast(ledger), tbl(idCol) === ledger("id"), "left_anti")
    }
  }

  /** Drop the ledger after a physical reclaim has rewritten every
    * table of the family — the ids are gone from the files, so the
    * probe-time anti-join has nothing left to do. */
  def clear(s: SparkSession, prefix: String): Unit =
    if (exists(s, prefix)) Engine.reclaimManagedTable(s, tombTable(prefix))

  /** True when a reclaim has pending work — used by the maintained
    * ingests to report whether the audit-gated rewrite also reclaimed
    * tombstones. One metadata call + (when the table exists) a
    * ledger-sized emptiness probe. */
  def pending(s: SparkSession, prefix: String): Boolean =
    exists(s, prefix) && !s.table(tombTable(prefix)).isEmpty
}
