package graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

import graft.operators.Dedup.DecontamGram
import graft.operators.Similarity.{PqSubDim, PqSubspaces, dotCol, pqCn2}

/** The builtin-expression forms of the native kernels — the references
  * the kernel specs (SimilaritySpec, DedupSpec, TextOpsSpec) compare
  * each `graft.functions` expression against, bit for bit. Test scope
  * only: the operators always run the kernels. */
object TreeForms {

  // ---- Similarity -------------------------------------------------------

  /** The interpreted HOF form of the dot product. The coalesce keeps it
    * result-identical to DotProduct on degenerate inputs too: a null
    * element or the null padding zip_with adds for unequal lengths
    * contributes 0 instead of collapsing the whole sum to NULL. */
  def interpretedDot(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => coalesce(x.cast("double") * y.cast("double"), lit(0.0))),
      lit(0.0), (acc, v) => acc + v)

  /** Builtin-composition twin of the native IVF scores kernel. */
  def ivfScoresTree(centroids: Array[(Int, Array[Double], Double)])(
      emb: Column, nrm: Column): Column = array(centroids.map { case (i, c, cn) =>
    val cArr = array(c.map(lit): _*)
    struct((dotCol(emb, cArr) / (nrm * lit(cn))).as("score"), lit(i).as("list_id"))
  }: _*)

  /** Builtin argmax twin of the native PQ encode kernel (ties take the
    * larger code: the tuple max). */
  def pqCodeColsTree(cb: Array[Array[Array[Double]]])(emb: Column): Column = {
    val cn2 = pqCn2(cb)
    array((0 until PqSubspaces).map { m =>
      val sub = slice(emb, m * PqSubDim + 1, PqSubDim)
      array_max(array(cb(m).indices.map { k =>
        struct((dotCol(sub, array(cb(m)(k).map(lit): _*)) - lit(cn2(m)(k) / 2)).as("score"),
          lit(k).as("code"))
      }: _*)).getField("code")
    }: _*)
  }

  /** Builtin-composition twin of the native LUT kernel. */
  def pqLutTree(cb: Array[Array[Array[Double]]])(qEmb: Column): Column =
    array((0 until PqSubspaces).map { m =>
      val sub = slice(qEmb, m * PqSubDim + 1, PqSubDim)
      array(cb(m).indices.map(k => dotCol(sub, array(cb(m)(k).map(lit): _*))): _*)
    }: _*)

  /** ADC approximate dot: Σ_m lut(m)(code_m), summed in subspace order as
    * the native ADC kernel does. */
  def pqAdcTree(lut: Column, codes: Column): Column =
    (0 until PqSubspaces).map(m =>
      element_at(element_at(lut, m + 1), codes.getItem(m) + 1)).reduce[Column](_ + _)

  // ---- Dedup ------------------------------------------------------------

  /** Distinct word-3-gram set of a `words` column (requires >= 3 words). */
  def gramSetTree: Column = expr(
    """array_distinct(transform(sequence(1, size(words) - 2),
      |  i -> concat_ws(' ', element_at(words, i), element_at(words, i + 1), element_at(words, i + 2))))
      |""".stripMargin)

  /** Distinct word-[[DecontamGram]]-gram set of a `w` column. */
  def decontamGramSetTree: Column = expr(
    s"""array_distinct(transform(sequence(1, size(w) - ${DecontamGram - 1}),
       |  i -> array_join(slice(w, i, $DecontamGram), ' ')))""".stripMargin)

  // ---- TextOps ----------------------------------------------------------

  /** lowercase, strip non [a-z ], collapse runs of spaces, trim. */
  def normTextTree(c: Column): Column =
    trim(regexp_replace(regexp_replace(lower(c), "[^a-z ]", ""), " +", " "))

  /** Adjacent-bigram array of a `words` column. */
  def bigramsOfWordsTree: Column =
    expr("transform(sequence(1, size(words) - 1), i -> concat(words[i-1], ' ', words[i]))")
}
