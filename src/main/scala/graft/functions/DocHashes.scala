package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression, XXH64}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Per-document fingerprint math shared by the native expressions below and
  * the differential generator. Static-forwarder methods so whole-stage
  * codegen can call them directly (`graft.functions.DocHashes.simhash(...)`)
  * — the generated code stays a single static call per row, no interpreted
  * expression-tree walk and, crucially, NO explode + re-group shuffle: the
  * fingerprint is computed where the document row already lives.
  */
object DocHashes {
  private final val Seed = 42L
  private val Space = UTF8String.fromString(" ")

  /** xxhash64 of each `shingle`-word space-joined gram. shingle=1 hashes
    * single words. Grams touching a null element hash as if the null were
    * the empty string (split() never yields nulls, but SQL callers can
    * pass arrays with them — never NPE). */
  def shingleHashes(words: ArrayData, shingle: Int): Array[Long] = {
    val n = words.numElements()
    val m = math.max(n - shingle + 1, 0)
    val out = new Array[Long](m)
    def word(i: Int): UTF8String = {
      val w = if (words.isNullAt(i)) null else words.getUTF8String(i)
      if (w == null) UTF8String.EMPTY_UTF8 else w
    }
    var i = 0
    while (i < m) {
      var g = word(i)
      var j = 1
      while (j < shingle) {
        g = UTF8String.concat(g, Space, word(i + j))
        j += 1
      }
      out(i) = XXH64.hashUnsafeBytes(g.getBaseObject, g.getBaseOffset, g.numBytes, Seed)
      i += 1
    }
    out
  }

  /** 64-bit SimHash over word hashes: bit b = sign of Σ ±1 over bit b of
    * each gram hash (same math as functions.SimHash, computed per row). */
  def simhash(words: ArrayData, shingle: Int): Long = {
    val hs = shingleHashes(words, shingle)
    val counts = new Array[Int](64)
    var i = 0
    while (i < hs.length) {
      val h = hs(i)
      var b = 0
      while (b < 64) {
        counts(b) += (if (((h >>> b) & 1L) == 1L) 1 else -1)
        b += 1
      }
      i += 1
    }
    var fp = 0L
    var b = 0
    while (b < 64) { if (counts(b) > 0) fp |= (1L << b); b += 1 }
    fp
  }

  /** k-minima MinHash signature: sig(j) = min over grams of
    * xxh64(gramHash, seed=j). Empty input → all Long.MaxValue (callers
    * filter short docs). */
  def minhash(words: ArrayData, shingle: Int, k: Int): Array[Long] = {
    val hs = shingleHashes(words, shingle)
    val sig = Array.fill(k)(Long.MaxValue)
    var i = 0
    while (i < hs.length) {
      val h = hs(i)
      var j = 0
      while (j < k) {
        val v = XXH64.hashLong(h, j.toLong)
        if (v < sig(j)) sig(j) = v
        j += 1
      }
      i += 1
    }
    sig
  }

  /** Distinct `shingle`-word space-joined grams in FIRST-OCCURRENCE order —
    * the native form of the
    * `array_distinct(transform(sequence(...), i -> concat_ws/array_join(...)))`
    * expression tree that fronts every n-gram dedup face. Exactness
    * contract: byte-identical strings in the identical order — the gram
    * join keys and the oracle's `g` CTE replay must not move. Null
    * elements are skipped exactly as concat_ws / array_join skip them
    * (split() never yields nulls, but the tree forms tolerate them, so
    * this must too); an all-null window yields the empty string like
    * concat_ws does. Inputs shorter than `shingle` yield an empty array
    * (callers filter those, as the tree forms' sequence() would
    * otherwise descend). */
  def gramSet(words: ArrayData, shingle: Int): GenericArrayData = {
    val n = words.numElements()
    val m = math.max(n - shingle + 1, 0)
    // LinkedHashSet: dedup with first-occurrence order, array_distinct's rule
    val seen = new java.util.LinkedHashSet[UTF8String]()
    var i = 0
    while (i < m) {
      var g: UTF8String = null
      var parts = 0
      var j = 0
      while (j < shingle) {
        val w = if (words.isNullAt(i + j)) null else words.getUTF8String(i + j)
        if (w != null) {
          g = if (g == null) w else UTF8String.concat(g, Space, w)
          parts += 1
        }
        j += 1
      }
      // parts <= 1 means g may still be a VIEW into the (reusable) input
      // row buffer — copy before retaining; concat always allocates fresh
      if (g == null) g = UTF8String.EMPTY_UTF8
      else if (parts <= 1) g = g.clone()
      seen.add(g)
      i += 1
    }
    new GenericArrayData(seen.toArray.asInstanceOf[Array[AnyRef]].asInstanceOf[Array[Any]])
  }

  /** Adjacent-pair bigram array: out(i) = words(i) + " " + words(i+1),
    * NULL when either side is null — exactly the
    * `transform(sequence(...), i -> concat(words[i-1], ' ', words[i]))`
    * tree (concat's null-propagation, not concat_ws's null-skip) that
    * fronts every bigram-LM / DSIR gram explode. Inputs with fewer than
    * 2 elements yield an empty array (callers filter those before the
    * tree form's sequence() would descend). */
  def bigrams(words: ArrayData): GenericArrayData = {
    val n = words.numElements()
    val m = math.max(n - 1, 0)
    val out = new Array[Any](m)
    var i = 0
    while (i < m) {
      out(i) =
        if (words.isNullAt(i) || words.isNullAt(i + 1)) null
        else UTF8String.concat(words.getUTF8String(i), Space, words.getUTF8String(i + 1))
      i += 1
    }
    new GenericArrayData(out)
  }

  /** Count of the most frequent element (by byte equality, null its own
    * key) — the row-local form of the per-doc top-word count that the
    * Gopher repetition rules need. Replaces an explode → (doc, word)
    * groupBy → (doc) re-groupBy → join chain: the quantity is a pure
    * function of the row's own words array, so at scale this removes a
    * token-cardinality shuffle, a doc-cardinality shuffle AND the
    * stats join outright. Empty input → 0. */
  def topCount(words: ArrayData): Long = {
    val n = words.numElements()
    val m = new java.util.HashMap[UTF8String, Integer](math.max(16, n * 2))
    var best = 0
    var nulls = 0
    var i = 0
    while (i < n) {
      if (words.isNullAt(i)) {
        nulls += 1
        if (nulls > best) best = nulls
      } else {
        val w = words.getUTF8String(i)
        val c = m.merge(w, 1, (a, b) => a + b)
        if (c > best) best = c
      }
      i += 1
    }
    best.toLong
  }

  def topCountSeq(words: Seq[String]): Long = {
    val arr = new GenericArrayData(words.map(w =>
      if (w == null) null else UTF8String.fromString(w)).toArray[Any])
    topCount(arr)
  }

  // Seq[String] twins for the differential generator and the specs
  // (bit-identical: same bytes hashed with the same seeds).
  def simhashSeq(words: Seq[String], shingle: Int): Long = {
    val arr = new GenericArrayData(words.map(w => UTF8String.fromString(w)).toArray[Any])
    simhash(arr, shingle)
  }
  def minhashSeq(words: Seq[String], shingle: Int, k: Int): Array[Long] = {
    val arr = new GenericArrayData(words.map(w => UTF8String.fromString(w)).toArray[Any])
    minhash(arr, shingle, k)
  }
}

private[functions] trait WordsInput { self: UnaryExpression =>
  override def checkInputDataTypes(): TypeCheckResult = self.child.dataType match {
    case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"${self.prettyName} requires array<string>, got ${other.sql}")
  }
}

/** Native per-document SimHash: `graft_simhash(words)` → 64-bit fingerprint.
  * Replaces explode → 64-bit-counter aggregate with a projection — at scale
  * that removes a token-cardinality shuffle entirely. */
case class SimHashDoc(child: Expression, shingle: Int = 1)
    extends UnaryExpression with WordsInput {
  override def dataType: DataType = LongType
  override protected def nullSafeEval(words: Any): Any =
    DocHashes.simhash(words.asInstanceOf[ArrayData], shingle)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.DocHashes.simhash($c, $shingle)")
  override protected def withNewChildInternal(newChild: Expression): SimHashDoc =
    copy(child = newChild)
  override def prettyName: String = "graft_simhash"
}

/** Native distinct gram set: `graft_gramset(words, n)` → array<string> of
  * distinct n-word space-joined grams, first-occurrence order. See
  * [[DocHashes.gramSet]] for the exactness contract vs the
  * array_distinct(transform(...)) tree forms it replaces. */
case class GramSet(child: Expression, shingle: Int)
    extends UnaryExpression with WordsInput {
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override protected def nullSafeEval(words: Any): Any =
    DocHashes.gramSet(words.asInstanceOf[ArrayData], shingle)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.DocHashes.gramSet($c, $shingle)")
  override protected def withNewChildInternal(newChild: Expression): GramSet =
    copy(child = newChild)
  override def prettyName: String = "graft_gramset"
}

/** Native adjacent-bigram array: `graft_bigrams(words)` → array<string>.
  * See [[DocHashes.bigrams]] for the concat-null contract. */
case class BigramArray(child: Expression)
    extends UnaryExpression with WordsInput {
  override def dataType: DataType = ArrayType(StringType, containsNull = true)
  override protected def nullSafeEval(words: Any): Any =
    DocHashes.bigrams(words.asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.DocHashes.bigrams($c)")
  override protected def withNewChildInternal(newChild: Expression): BigramArray =
    copy(child = newChild)
  override def prettyName: String = "graft_bigrams"
}

/** Native per-document top-element count: `graft_topcount(words)` →
  * bigint. See [[DocHashes.topCount]]. */
case class TopWordCount(child: Expression)
    extends UnaryExpression with WordsInput {
  override def dataType: DataType = LongType
  override protected def nullSafeEval(words: Any): Any =
    DocHashes.topCount(words.asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.DocHashes.topCount($c)")
  override protected def withNewChildInternal(newChild: Expression): TopWordCount =
    copy(child = newChild)
  override def prettyName: String = "graft_topcount"
}

/** Native per-document MinHash signature: `graft_minhash(words)` →
  * array<bigint> of k minima over `shingle`-word grams. */
case class MinHashSigDoc(child: Expression, shingle: Int = 3, k: Int = 16)
    extends UnaryExpression with WordsInput {
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override protected def nullSafeEval(words: Any): Any =
    new GenericArrayData(DocHashes.minhash(words.asInstanceOf[ArrayData], shingle, k))
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c =>
      s"new org.apache.spark.sql.catalyst.util.GenericArrayData(graft.functions.DocHashes.minhash($c, $shingle, $k))")
  override protected def withNewChildInternal(newChild: Expression): MinHashSigDoc =
    copy(child = newChild)
  override def prettyName: String = "graft_minhash"
}
