package graft

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}

import graft.functions.{BigramArray, BloomAgg, BloomMightContain, BpeEncode, DeflateLen, DotProduct, GramSet, IvfScores, MgFrequentItems, MinHashSigDoc, NormTextExpr, PqAdc, PqEncode, PqLut, SimHashDoc, TopKByScore, TopWordCount}

/** Session extension registering the engine's native Catalyst expressions
  * under their `graft_*` SQL names (installed with
  * `.config("spark.sql.extensions", "graft.GraftExtensions")`), for SQL
  * text and `call_function` callers such as the kernel microbench. The
  * operators do not need it: they build each kernel directly through
  * [[org.apache.spark.sql.graftshim.Native]], so every query runs the
  * same kernels in any session.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  private def arity(name: String, n: Int, children: Seq[Expression]): Seq[Expression] = {
    if (children.size != n)
      throw new IllegalArgumentException(
        s"$name requires exactly $n argument(s), got ${children.size}")
    children
  }

  override def apply(ext: SparkSessionExtensions): Unit = {
    ext.injectFunction((
      FunctionIdentifier("graft_dot"),
      new ExpressionInfo(classOf[DotProduct].getName, "graft_dot"),
      (children: Seq[Expression]) => {
        val c = arity("graft_dot", 2, children); DotProduct(c(0), c(1))
      }))
    ext.injectFunction((
      FunctionIdentifier("graft_simhash"),
      new ExpressionInfo(classOf[SimHashDoc].getName, "graft_simhash"),
      (children: Seq[Expression]) => SimHashDoc(arity("graft_simhash", 1, children).head)))
    ext.injectFunction((
      FunctionIdentifier("graft_minhash"),
      new ExpressionInfo(classOf[MinHashSigDoc].getName, "graft_minhash"),
      (children: Seq[Expression]) => MinHashSigDoc(arity("graft_minhash", 1, children).head)))
    ext.injectFunction((
      FunctionIdentifier("graft_norm_text"),
      new ExpressionInfo(classOf[NormTextExpr].getName, "graft_norm_text"),
      (children: Seq[Expression]) => NormTextExpr(arity("graft_norm_text", 1, children).head)))
    ext.injectFunction((
      FunctionIdentifier("graft_bigrams"),
      new ExpressionInfo(classOf[BigramArray].getName, "graft_bigrams"),
      (children: Seq[Expression]) => BigramArray(arity("graft_bigrams", 1, children).head)))
    ext.injectFunction((
      FunctionIdentifier("graft_topcount"),
      new ExpressionInfo(classOf[TopWordCount].getName, "graft_topcount"),
      (children: Seq[Expression]) => TopWordCount(arity("graft_topcount", 1, children).head)))
    ext.injectFunction((
      FunctionIdentifier("graft_gramset"),
      new ExpressionInfo(classOf[GramSet].getName, "graft_gramset"),
      (children: Seq[Expression]) => {
        val c = arity("graft_gramset", 2, children)
        require(c(1).foldable && c(1).dataType == org.apache.spark.sql.types.IntegerType,
          "graft_gramset: shingle width must be an int literal")
        GramSet(c(0), c(1).eval().asInstanceOf[Int])
      }))
    ext.injectFunction((
      FunctionIdentifier("graft_bpe"),
      new ExpressionInfo(classOf[BpeEncode].getName, "graft_bpe"),
      (children: Seq[Expression]) => {
        val c = arity("graft_bpe", 2, children); BpeEncode(c(0), c(1))
      }))
    ext.injectFunction((
      FunctionIdentifier("graft_deflate_len"),
      new ExpressionInfo(classOf[DeflateLen].getName, "graft_deflate_len"),
      (children: Seq[Expression]) => DeflateLen(arity("graft_deflate_len", 1, children).head)))
    ext.injectFunction((
      FunctionIdentifier("graft_mg"),
      new ExpressionInfo(classOf[MgFrequentItems].getName, "graft_mg"),
      (children: Seq[Expression]) => {
        val c = arity("graft_mg", 2, children)
        MgFrequentItems(c(0), c(1)).toAggregateExpression()
      }))
    ext.injectFunction((
      FunctionIdentifier("graft_bloom"),
      new ExpressionInfo(classOf[BloomAgg].getName, "graft_bloom"),
      (children: Seq[Expression]) => {
        val c = arity("graft_bloom", 3, children)
        BloomAgg(c(0), c(1), c(2)).toAggregateExpression()
      }))
    ext.injectFunction((
      FunctionIdentifier("graft_bloom_contains"),
      new ExpressionInfo(classOf[BloomMightContain].getName, "graft_bloom_contains"),
      (children: Seq[Expression]) => {
        val c = arity("graft_bloom_contains", 2, children)
        BloomMightContain(c(0), c(1))
      }))
    ext.injectFunction((
      FunctionIdentifier("graft_ivf_scores"),
      new ExpressionInfo(classOf[IvfScores].getName, "graft_ivf_scores"),
      (children: Seq[Expression]) => {
        val c = arity("graft_ivf_scores", 3, children); IvfScores(c(0), c(1), c(2))
      }))
    ext.injectFunction((
      FunctionIdentifier("graft_pq_encode"),
      new ExpressionInfo(classOf[PqEncode].getName, "graft_pq_encode"),
      (children: Seq[Expression]) => {
        val c = arity("graft_pq_encode", 2, children); PqEncode(c(0), c(1))
      }))
    ext.injectFunction((
      FunctionIdentifier("graft_pq_lut"),
      new ExpressionInfo(classOf[PqLut].getName, "graft_pq_lut"),
      (children: Seq[Expression]) => {
        val c = arity("graft_pq_lut", 2, children); PqLut(c(0), c(1))
      }))
    ext.injectFunction((
      FunctionIdentifier("graft_pq_adc"),
      new ExpressionInfo(classOf[PqAdc].getName, "graft_pq_adc"),
      (children: Seq[Expression]) => {
        val c = arity("graft_pq_adc", 2, children); PqAdc(c(0), c(1))
      }))
    ext.injectFunction((
      FunctionIdentifier("graft_topk"),
      new ExpressionInfo(classOf[TopKByScore].getName, "graft_topk"),
      (children: Seq[Expression]) => {
        val c = arity("graft_topk", 3, children)
        TopKByScore(c(0), c(1), c(2)).toAggregateExpression()
      }))
  }
}
