package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, LongType}
import org.apache.spark.unsafe.types.UTF8String

/** Whole-document BPE tokenization as ONE native expression: text →
  * array of token ids under a frozen merge list + id table — the
  * [[WordpieceTokenize]] treatment applied to the BPE family, replacing
  * the distinct-word join-gather serving plan (measured on the
  * tokenize_serve ScaleBench row: the gather class spills 16-18 GB at
  * 256×; the expression form is a ZERO-SHUFFLE narrow map).
  *
  * Semantics are bit-identical to the relational replace-chain the
  * DuckDB oracle replays: each word seeds as single characters and
  * every merge (a, b), in training order, fuses non-overlapping
  * adjacent (a, b) occurrences LEFT TO RIGHT — exactly what
  * `replace(v, '<a><b>', '<ab>')` does on the delimiter encoding
  * (after a fusion the scan resumes AFTER the fused symbol; the
  * corpus alphabet excludes the '<'/'>' delimiters themselves —
  * TextAnalysis.bpeVocab asserts it, so the encoding is unambiguous).
  * Unseen symbols map to the conventional -1 unk id; unlike WordPiece
  * an OOV word still decomposes symbol by symbol.
  *
  * The evaluation algorithm is the RANK-HEAP formulation, not a chain
  * replay: a priority queue of (merge rank, word position) candidates
  * over a linked symbol list applies the lowest-rank applicable pair
  * leftmost-first — O(len log len) per word regardless of merge-list
  * depth, vs the replay's O(merges × len) (at a 32k-merge production
  * vocab the replay walks every word 32k times; the heap only touches
  * pairs that actually merge). The two are provably output-identical:
  * a merge can never create a NEW occurrence of an equal-or-lower
  * rank pair — new adjacencies always involve the fused symbol, and
  * any trained pair consuming a symbol ranks strictly after the merge
  * that created it — so heap order replays training order exactly,
  * and within one rank fusions proceed left to right with dead-node
  * checks reproducing the replace-chain's resume-after-fusion rule.
  * [[BpeTokenize.replayWord]] keeps the direct replay as the
  * reference implementation; TokenizeExprSpec pins heap == replay
  * property-wise.
  *
  * Indexing is by CODEPOINT, not UTF-16 unit: the trainer's symbols
  * come from Spark SQL split (codepoint semantics), so the symbol
  * seeding walks a codepoint array — supplementary-plane characters
  * (emoji) seed as whole symbols, never unpaired surrogate halves. */
case class BpeTokenize(child: Expression, merges: Seq[(String, String)],
    ids: Map[String, Long]) extends UnaryExpression with CodegenFallback {

  // Duplicate merge pairs are rejected in [[BpeTokenize.of]] — the only
  // public construction path — not here: a case-class-body require would
  // re-hash the full (up to 32k-entry) merge list on EVERY Catalyst
  // copy/withNewChildInternal during plan rewriting, paying the
  // validation dozens of times per plan build for a list validated once.

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "bpe_tokenize"
  override protected def withNewChildInternal(newChild: Expression): BpeTokenize =
    copy(child = newChild)

  @transient private lazy val idMap: java.util.HashMap[String, java.lang.Long] = {
    val m = new java.util.HashMap[String, java.lang.Long]()
    ids.foreach { case (t, id) => m.put(t, id) }
    m
  }

  @transient private lazy val rankMap = BpeTokenize.rankMapOf(merges)

  override protected def nullSafeEval(input: Any): Any = {
    val cps = input.asInstanceOf[UTF8String].toString.codePoints().toArray
    val n = cps.length
    val out = new scala.collection.mutable.ArrayBuffer[Long](n / 3 + 4)
    var ws = 0
    var i = 0
    while (i <= n) {
      if (i == n || cps(i) == ' ') {
        BpeTokenize.heapWord(cps, ws, i, rankMap).foreach { t =>
          val id = idMap.get(t)
          out += (if (id == null) -1L else id.longValue())
        }
        ws = i + 1
      }
      i += 1
    }
    ArrayData.toArrayData(out.toArray)
  }
}

object BpeTokenize {
  def of(text: Column, merges: Seq[(String, String)], ids: Map[String, Long]): Column = {
    // A duplicate trained pair would be silently dropped by rankMapOf
    // (first rank wins) while the replace-chain replay — the oracle
    // semantics — applies it at its OWN position: on a pathological
    // vocab where a later merge re-forms an earlier pair's occurrence
    // (('a','ab') and ('aa','b') both yielding "aab"), the two engines
    // could diverge. No trainer in this engine emits duplicates (a
    // fused pair's count drops to zero), so fail LOUD at construction —
    // the '<'/'>' delimiter-alphabet posture — instead of serving a
    // silently re-ranked model. Validated HERE (once, the public
    // construction path) rather than in the case-class body, which
    // Catalyst re-runs on every tree copy.
    require(merges.distinct.size == merges.size,
      s"BPE merge list contains duplicate pairs: " +
        merges.diff(merges.distinct).distinct.take(3).mkString(", "))
    org.apache.spark.sql.GraftColumn.of(
      BpeTokenize(org.apache.spark.sql.GraftColumn.exprOf(text), merges, ids))
  }

  /** rank lookup: lhs symbol → (rhs symbol → 0-based training rank).
    * Duplicate pairs are rejected at expression construction (the
    * case-class require), so putIfAbsent never actually drops a rank —
    * it stays as defense in depth for direct callers of this helper. */
  private[graft] def rankMapOf(merges: Seq[(String, String)])
      : java.util.HashMap[String, java.util.HashMap[String, Integer]] = {
    val m = new java.util.HashMap[String, java.util.HashMap[String, Integer]]()
    merges.zipWithIndex.foreach { case ((a, b), r) =>
      m.computeIfAbsent(a, _ => new java.util.HashMap[String, Integer]())
        .putIfAbsent(b, Integer.valueOf(r))
    }
    m
  }

  private final class Node(var sym: String, val pos: Int) {
    var prev: Node = _
    var next: Node = _
    var alive: Boolean = true
  }

  private final class Cand(val rank: Int, val pos: Int, val left: Node)

  private val candOrder: java.util.Comparator[Cand] = new java.util.Comparator[Cand] {
    override def compare(x: Cand, y: Cand): Int = {
      val r = Integer.compare(x.rank, y.rank)
      if (r != 0) r else Integer.compare(x.pos, y.pos)
    }
  }

  /** Rank-heap tokenization of the word cps[s, e): final symbol strings
    * in order. O(len log len) — each fusion removes one node and pushes
    * at most two candidates. */
  private[graft] def heapWord(cps: Array[Int], s: Int, e: Int,
      ranks: java.util.HashMap[String, java.util.HashMap[String, Integer]])
      : scala.collection.mutable.ArrayBuffer[String] = {
    val outSyms = new scala.collection.mutable.ArrayBuffer[String](e - s)
    if (s >= e) return outSyms
    def rankOf(a: String, b: String): Integer = {
      val inner = ranks.get(a)
      if (inner == null) null else inner.get(b)
    }
    // seed the linked symbol list with single codepoints
    val head = new Node(new String(cps, s, 1), 0)
    var last = head
    var i = s + 1
    while (i < e) {
      val nd = new Node(new String(cps, i, 1), i - s)
      nd.prev = last
      last.next = nd
      last = nd
      i += 1
    }
    val pq = new java.util.PriorityQueue[Cand](candOrder)
    var cur = head
    while (cur.next != null) {
      val r = rankOf(cur.sym, cur.next.sym)
      if (r != null) pq.add(new Cand(r.intValue(), cur.pos, cur))
      cur = cur.next
    }
    while (!pq.isEmpty) {
      val c = pq.poll()
      val l = c.left
      // lazy deletion: the entry is stale when its left node died or
      // its pair changed (rank identifies the pair uniquely)
      if (l.alive && l.next != null) {
        val r = rankOf(l.sym, l.next.sym)
        if (r != null && r.intValue() == c.rank) {
          val dead = l.next
          l.sym = l.sym + dead.sym
          dead.alive = false
          l.next = dead.next
          if (l.next != null) l.next.prev = l
          if (l.prev != null) {
            val pr = rankOf(l.prev.sym, l.sym)
            if (pr != null) pq.add(new Cand(pr.intValue(), l.prev.pos, l.prev))
          }
          if (l.next != null) {
            val nr = rankOf(l.sym, l.next.sym)
            if (nr != null) pq.add(new Cand(nr.intValue(), l.pos, l))
          }
        }
      }
    }
    cur = head
    while (cur != null) {
      outSyms += cur.sym
      cur = cur.next
    }
    outSyms
  }

  /** The direct merge-chain replay — O(merges × len) per word; the
    * reference implementation the rank-heap is pinned against
    * (TokenizeExprSpec property pin). */
  private[graft] def replayWord(cps: Array[Int], s: Int, e: Int,
      merges: Seq[(String, String)]): scala.collection.mutable.ArrayBuffer[String] = {
    var syms = new scala.collection.mutable.ArrayBuffer[String](math.max(e - s, 0))
    if (s >= e) return syms
    var i = s
    while (i < e) { syms += new String(cps, i, 1); i += 1 }
    merges.foreach { case (a, b) =>
      if (syms.length >= 2) {
        val next = new scala.collection.mutable.ArrayBuffer[String](syms.length)
        var j = 0
        while (j < syms.length) {
          if (j + 1 < syms.length && syms(j) == a && syms(j + 1) == b) {
            next += a + b; j += 2
          } else { next += syms(j); j += 1 }
        }
        syms = next
      }
    }
    syms
  }
}
