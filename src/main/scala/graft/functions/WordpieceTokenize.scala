package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, LongType}
import org.apache.spark.unsafe.types.UTF8String

/** Whole-document WordPiece tokenization as ONE native expression:
  * text → array of piece ids under a FROZEN vocabulary, greedy
  * longest-match-first per word, whole-word [UNK] (-1) on an
  * unmatchable position — byte-identical semantics to the relational
  * greedy walk the DuckDB oracle runs.
  *
  * Why a custom Expression (SURVEY §7.5 promotion rule): serving is a
  * DICTIONARY problem — a production tokenizer is a flat map over docs
  * with an O(1) in-memory vocab — but Spark's relational encodings all
  * lose that: the distinct-word join shape shuffles every word
  * occurrence twice (measured on the tokenize_serve ScaleBench row:
  * 16-18 GB of spill at 256×, an OOM in the token-exploded form), and
  * a broadcast MAP column is a linear SCAN per lookup
  * (`ArrayBasedMapData` has no hash index — measured 9× slower than
  * the join at 64×). This expression carries the vocabulary as plain
  * JVM hash maps in the expression itself (driver-built, serialized
  * with the plan, vocabulary-sized — the same distribution contract as
  * a broadcast), so serving is a ZERO-SHUFFLE narrow map with O(1)
  * lookups. CodegenFallback: the per-doc loop IS the work; there is no
  * surrounding expression chain to fuse.
  *
  * The vocabulary pre-bifurcates into word-initial and continuation
  * (`##`-stripped) maps so the inner loop probes raw substrings —
  * no per-candidate marker concatenation. The `##` prefix is the
  * continuation MARKER, not corpus text: the corpus alphabet must
  * exclude '#' (Wordpiece.vocabMap asserts it on the driver-side
  * model, zero extra scans), so a stored token starting with `##` is
  * unambiguously continuation-only — the same convention the DuckDB
  * oracle's greedy walk applies.
  *
  * Indexing is by CODEPOINT, not UTF-16 unit: the trainer's symbols
  * come from Spark SQL substring/split (codepoint semantics) and the
  * oracle's candidate bound counts codepoints, so the greedy walk
  * iterates a codepoint array and maxPieceLen bounds codepoints —
  * supplementary-plane characters (emoji) stay whole symbols, never
  * unpaired surrogate halves that could not match the vocabulary. */
case class WordpieceTokenize(child: Expression, vocab: Map[String, Long],
    maxPieceLen: Int) extends UnaryExpression with CodegenFallback {

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "wordpiece_tokenize"
  override protected def withNewChildInternal(newChild: Expression): WordpieceTokenize =
    copy(child = newChild)

  @transient private lazy val bifurcated = WordpieceTokenize.bifurcate(vocab)
  private def initial = bifurcated._1
  private def continuation = bifurcated._2

  override protected def nullSafeEval(input: Any): Any = {
    val cps = input.asInstanceOf[UTF8String].toString.codePoints().toArray
    val n = cps.length
    val out = new scala.collection.mutable.ArrayBuffer[Long](n / 3 + 4)
    var ws = 0
    var i = 0
    while (i <= n) {
      if (i == n || cps(i) == ' ') {
        tokenizeWord(cps, ws, i, out)
        ws = i + 1
      }
      i += 1
    }
    ArrayData.toArrayData(out.toArray)
  }

  private def tokenizeWord(cps: Array[Int], s: Int, e: Int,
      out: scala.collection.mutable.ArrayBuffer[Long]): Unit =
    WordpieceTokenize.greedyWord(cps, s, e, initial, continuation, maxPieceLen, out)
}

object WordpieceTokenize {
  def of(text: Column, vocab: Map[String, Long], maxPieceLen: Int): Column =
    org.apache.spark.sql.GraftColumn.of(
      WordpieceTokenize(org.apache.spark.sql.GraftColumn.exprOf(text), vocab, maxPieceLen))

  /** The vocabulary pre-bifurcated into word-initial and continuation
    * (`##`-stripped) probe tables for the expression's lazy state. */
  private def bifurcate(vocab: Map[String, Long])
      : (java.util.HashMap[String, java.lang.Long],
         java.util.HashMap[String, java.lang.Long]) = {
    val ini = new java.util.HashMap[String, java.lang.Long]()
    val cont = new java.util.HashMap[String, java.lang.Long]()
    vocab.foreach { case (t, id) =>
      if (t.startsWith("##")) cont.put(t.substring(2), id) else ini.put(t, id)
    }
    (ini, cont)
  }

  /** Greedy longest-match over cps[s, e); appends ids, or a single -1
    * for the whole word when some cursor position has no match. */
  private def greedyWord(cps: Array[Int], s: Int, e: Int,
      initial: java.util.HashMap[String, java.lang.Long],
      continuation: java.util.HashMap[String, java.lang.Long],
      maxPieceLen: Int,
      out: scala.collection.mutable.ArrayBuffer[Long]): Unit = {
    if (s >= e) return
    val mark = out.length
    var pos = s
    while (pos < e) {
      val table = if (pos == s) initial else continuation
      var l = math.min(maxPieceLen, e - pos)
      var id: java.lang.Long = null
      while (l >= 1 && id == null) {
        id = table.get(new String(cps, pos, l))
        if (id == null) l -= 1
      }
      if (id == null) {
        out.takeInPlace(mark)
        out += -1L
        return
      }
      out += id.longValue()
      pos += l
    }
  }
}
