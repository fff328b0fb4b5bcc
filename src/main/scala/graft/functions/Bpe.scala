package graft.functions

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Byte-pair-encoding tokenizer primitives (Sennrich et al. 2016,
  * arXiv:1508.07909 — public method): merge training over a word-frequency
  * table and per-word merge application. The reference's only string
  * tokenizer is field splitting (func_get_nth_field, body:768-814); real
  * subword tokenization is the north-star extension a training-data
  * pipeline needs for token budgets that match a deployed tokenizer.
  *
  * Scale split, mirroring IVF quantizer training: the WORD-FREQUENCY table
  * is computed distributed (one token-keyed aggregate — scales out), merge
  * training then iterates driver-side over that vocabulary-bounded table
  * (tokenizer construction over index metadata, exactly how production BPE
  * trainers consume a pre-aggregated word count file), and ENCODING runs
  * where each document row lives via [[BpeEncode]] with the merge table
  * broadcast as a literal — no shuffle, no driver round-trip.
  *
  * Everything here is deterministic: merge ties break on the
  * lexicographically smallest pair, application is leftmost-first, and no
  * hash-map iteration order ever reaches a decision — the differential
  * twin ([[graft.verify.Expected]]) shares exactly [[trainMerges]] and
  * [[encodeWord]] (the DocHashes/trainQuantizerOnSample contract: the twin
  * must train the same tokenizer or the differential tests nothing) while
  * re-deriving the distributed word counts and per-doc aggregation
  * independently.
  */
object Bpe {

  /** An ordered merge list with its rank lookup — serializable so a
    * closure can ship it to executors whole. */
  final class MergeTable(val merges: IndexedSeq[(String, String)]) extends Serializable {
    val rank: Map[(String, String), Int] = merges.zipWithIndex.toMap
  }

  /** Apply one merge to a symbol sequence, leftmost-first: every
    * non-overlapping (l, r) adjacency becomes the fused symbol. */
  private def applyMerge(syms: Array[String], l: String, r: String): Array[String] = {
    val out = new ArrayBuffer[String](syms.length)
    var i = 0
    while (i < syms.length) {
      if (i < syms.length - 1 && syms(i) == l && syms(i + 1) == r) {
        out += l + r; i += 2
      } else { out += syms(i); i += 1 }
    }
    out.toArray
  }

  /** Train up to `numMerges` merges over a (word, count) table — the
    * classic BPE loop: count adjacent symbol pairs weighted by word
    * frequency, fuse the most frequent pair, repeat. Stops early when no
    * pair occurs at least twice (a singleton merge would memorize one
    * word). Ties on count break toward the lexicographically smallest
    * (left, right) pair, so the trained table is a pure function of the
    * word counts — never of map iteration order. */
  def trainMerges(wordCounts: Seq[(String, Long)], numMerges: Int): IndexedSeq[(String, String)] = {
    var words: Array[(Array[String], Long)] = wordCounts
      .filter(_._1.nonEmpty)
      .map { case (w, c) => (w.map(_.toString).toArray, c) }
      .toArray
    val out = new ArrayBuffer[(String, String)](numMerges)
    var stop = false
    while (out.length < numMerges && !stop) {
      val counts = mutable.Map.empty[(String, String), Long]
      for ((syms, c) <- words) {
        var i = 0
        while (i < syms.length - 1) {
          counts.updateWith((syms(i), syms(i + 1)))(o => Some(o.getOrElse(0L) + c))
          i += 1
        }
      }
      if (counts.isEmpty) stop = true
      else {
        val ((l, r), c) = counts.minBy { case ((pl, pr), pc) => (-pc, pl, pr) }
        if (c < 2L) stop = true
        else {
          out += ((l, r))
          words = words.map { case (syms, wc) => (applyMerge(syms, l, r), wc) }
        }
      }
    }
    out.toIndexedSeq
  }

  /** Encode one word under a merge table (the GPT-2-style application
    * order): repeatedly fuse the LOWEST-RANKED pair present anywhere in
    * the symbol sequence (all its occurrences, leftmost-first) until no
    * adjacent pair is in the table. Merges only ever concatenate adjacent
    * symbols of the SAME word, so the tokens of a word concatenate back
    * to the word — the decode-identity TextOpsSpec property-tests. */
  def encodeWord(word: String, table: MergeTable): Array[String] = {
    if (word.isEmpty) return Array.empty
    var syms: Array[String] = word.map(_.toString).toArray
    var done = false
    while (!done && syms.length > 1) {
      var best = Int.MaxValue
      var i = 0
      while (i < syms.length - 1) {
        val r = table.rank.getOrElse((syms(i), syms(i + 1)), Int.MaxValue)
        if (r < best) best = r
        i += 1
      }
      if (best == Int.MaxValue) done = true
      else {
        val (l, r) = table.merges(best)
        syms = applyMerge(syms, l, r)
      }
    }
    syms
  }

  /** Flat token stream of a word sequence — the Seq twin the differential
    * generator (and TextOpsSpec's reference UDF) share with [[BpeEncode]]. */
  def encodeWords(words: Seq[String], table: MergeTable): Seq[String] =
    words.flatMap(w => encodeWord(if (w == null) "" else w, table))
}

/** Native per-document BPE encoding: `graft_bpe(words, merges)` → the flat
  * subword token array. `merges` must be a FOLDABLE array<array<string>>
  * literal (the trained merge table, pair-per-element) — it is decoded
  * into a rank map once per expression instance, so per row the work is
  * the merge loop alone. Per-row evaluation where the document lives: no
  * token explode, no shuffle, no driver loop (the [[SimHashDoc]] shape).
  * Null words encode as empty (split() never yields nulls, but SQL
  * callers can pass arrays with them — never NPE). */
case class BpeEncode(left: Expression, right: Expression)
    extends BinaryExpression with CodegenFallback {
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def prettyName: String = "graft_bpe"

  override def checkInputDataTypes(): TypeCheckResult = (left.dataType, right.dataType) match {
    case (ArrayType(StringType, _), ArrayType(ArrayType(StringType, _), _)) =>
      if (right.foldable) TypeCheckResult.TypeCheckSuccess
      else TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires a foldable merge table (a literal array of pairs)")
    case (l, r) => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires (array<string>, array<array<string>>), got (${l.sql}, ${r.sql})")
  }

  @transient private lazy val table: Bpe.MergeTable = {
    val m = right.eval(null).asInstanceOf[ArrayData]
    val pairs = (0 until m.numElements()).map { i =>
      val p = m.getArray(i)
      (p.getUTF8String(0).toString, p.getUTF8String(1).toString)
    }
    new Bpe.MergeTable(pairs.toIndexedSeq)
  }

  override protected def nullSafeEval(words: Any, mergesIgnored: Any): Any = {
    val arr = words.asInstanceOf[ArrayData]
    val out = new ArrayBuffer[UTF8String]()
    var i = 0
    while (i < arr.numElements()) {
      val w = if (arr.isNullAt(i)) "" else arr.getUTF8String(i).toString
      val toks = Bpe.encodeWord(w, table)
      var j = 0
      while (j < toks.length) { out += UTF8String.fromString(toks(j)); j += 1 }
      i += 1
    }
    new GenericArrayData(out.toArray[Any])
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): BpeEncode =
    copy(left = newLeft, right = newRight)
}
