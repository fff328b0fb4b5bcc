package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, TernaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._

/** `graft_ivf_scores(emb, nrm, quantizer)` → `array<struct<score:double,
  * list_id:int>>` — the per-centroid cosine score array every IVF face
  * (list assignment, probe-list selection, k-means assignment) argmaxes
  * or sorts over.
  *
  * Same motivation as [[PqEncode]]: the tree form inlines one 64-literal
  * centroid array + dot subtree per list (IvfLists × Dim ≈ 1k literal
  * nodes) into every consuming query's plan; here the trained quantizer
  * rides as ONE packed literal (then a codegen reference object) and
  * each row runs a tight loop. The argmax/sort stays builtin
  * (`array_max` / `array_sort` lexicographic struct order), so tie and
  * NaN semantics are untouched.
  *
  * Determinism contract: score_i = dot(emb, c_i) / (nrm × cn_i) with the
  * dot accumulated strictly left-to-right in double (float elements
  * widen), exactly the tree form's graft_dot — bit-identical, pinned in
  * SimilaritySpec.
  *
  * The quantizer argument must be a foldable
  * `array<struct<_1:int,_2:array<double>,_3:double>>` of
  * (list id, centroid, centroid norm) — evaluated once on the driver.
  *
  * NULL-embedding rows are outside the contract (kernel: NULL result;
  * builtin tree form: an array of null-scored structs) — the embeddings
  * loader guarantees non-null vectors, and a null norm cannot arise from
  * a non-null vector. Null ELEMENTS contribute 0, like graft_dot.
  *
  * Division follows builtin `Divide`, not raw IEEE: a zero divisor (a
  * zero-norm vector × a centroid norm) throws DIVIDE_BY_ZERO under ANSI
  * and produces a NULL score otherwise — so the kernel and the builtin
  * tree form fail (or null) identically on degenerate vectors
  * (SimilaritySpec pins both).
  */
object IvfScoresKernel {
  /** Driver-side: unpack the foldable quantizer literal. */
  def unpack(e: Expression): (Array[Int], Array[Array[Double]], Array[Double]) = {
    require(e.foldable, "IVF quantizer must be a literal/foldable expression")
    val top = e.eval().asInstanceOf[ArrayData]
    val k = top.numElements()
    val ids = new Array[Int](k)
    val cents = new Array[Array[Double]](k)
    val cns = new Array[Double](k)
    var i = 0
    while (i < k) {
      val row = top.getStruct(i, 3)
      ids(i) = row.getInt(0)
      cents(i) = row.getArray(1).toDoubleArray()
      cns(i) = row.getDouble(2)
      i += 1
    }
    (ids, cents, cns)
  }

  def scores(emb: ArrayData, isFloat: Boolean, nrm: Double,
      ids: Array[Int], cents: Array[Array[Double]], cns: Array[Double],
      failOnError: Boolean): GenericArrayData = {
    val n = emb.numElements()
    val out = new Array[Any](cents.length)
    var i = 0
    while (i < cents.length) {
      val c = cents(i)
      var acc = 0.0
      var j = 0
      val d = math.min(c.length, n)
      while (j < d) {
        if (!emb.isNullAt(j))
          acc += (if (isFloat) emb.getFloat(j).toDouble else emb.getDouble(j)) * c(j)
        j += 1
      }
      // builtin Divide semantics, NOT raw IEEE: a zero divisor (a
      // zero-norm vector) throws under ANSI and yields a NULL score
      // otherwise — the tree form's behavior, asserted by the
      // SimilaritySpec zero-norm tests. A NaN divisor is not zero and
      // flows through as IEEE NaN, same as builtin.
      val divisor = nrm * cns(i)
      val score: Any =
        if (divisor == 0.0) {
          if (failOnError) throw divideByZero()
          else null
        } else acc / divisor
      out(i) = new GenericInternalRow(Array[Any](score, ids(i)))
      i += 1
    }
    new GenericArrayData(out)
  }

  /** The genuine ANSI divide-by-zero error — a SparkArithmeticException
    * carrying the DIVIDE_BY_ZERO error class and 22012 SQLSTATE, so
    * harnesses matching on SparkThrowable (or any future Spark changing
    * the message wording) see the kernel and the builtin tree form behave
    * identically. QueryExecutionErrors is private[spark]; evaluating a
    * literal ANSI `Divide` is the public surface that throws it. */
  private[functions] def divideByZero(): ArithmeticException =
    try {
      org.apache.spark.sql.catalyst.expressions.Divide(
        org.apache.spark.sql.catalyst.expressions.Literal(1.0d),
        org.apache.spark.sql.catalyst.expressions.Literal(0.0d),
        org.apache.spark.sql.catalyst.expressions.EvalMode.ANSI).eval(null)
      new ArithmeticException("ANSI 1.0/0.0 did not throw") // unreachable
    } catch { case e: ArithmeticException => e }
}

case class IvfScores(first: Expression, second: Expression, third: Expression)
    extends TernaryExpression {

  override def dataType: DataType = ArrayType(StructType(Seq(
    StructField("score", DoubleType, nullable = true),
    StructField("list_id", IntegerType, nullable = false))), containsNull = false)

  // captured at plan time on the driver (the pattern Spark's own
  // arithmetic expressions use for ANSI behavior), serialized with the
  // expression
  private val failOnError: Boolean =
    org.apache.spark.sql.internal.SQLConf.get.ansiEnabled

  @transient private lazy val (ids, cents, cns) = IvfScoresKernel.unpack(third)
  @transient private lazy val isFloat: Boolean =
    first.dataType.asInstanceOf[ArrayType].elementType == FloatType

  override def checkInputDataTypes(): TypeCheckResult = {
    val embOk = first.dataType match {
      case ArrayType(FloatType | DoubleType, _) => true
      case _ => false
    }
    val quantOk = third.dataType match {
      case ArrayType(StructType(Array(
        StructField(_, IntegerType, _, _),
        StructField(_, ArrayType(DoubleType, _), _, _),
        StructField(_, DoubleType, _, _))), _) => third.foldable
      case _ => false
    }
    if (embOk && second.dataType == DoubleType && quantOk) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires (array<float|double>, double, foldable " +
        s"array<struct<int,array<double>,double>>), got " +
        s"${first.dataType.sql}, ${second.dataType.sql}, ${third.dataType.sql}")
  }

  override def nullSafeEval(emb: Any, nrm: Any, @annotation.unused q: Any): Any =
    IvfScoresKernel.scores(emb.asInstanceOf[ArrayData], isFloat,
      nrm.asInstanceOf[Double], ids, cents, cns, failOnError)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val idsRef = ctx.addReferenceObj("ivfIds", ids, "int[]")
    val centsRef = ctx.addReferenceObj("ivfCents", cents, "double[][]")
    val cnsRef = ctx.addReferenceObj("ivfCns", cns, "double[]")
    nullSafeCodeGen(ctx, ev, (emb, nrm, _) =>
      s"${ev.value} = graft.functions.IvfScoresKernel.scores(" +
        s"$emb, $isFloat, $nrm, $idsRef, $centsRef, $cnsRef, $failOnError);")
  }

  override protected def withNewChildrenInternal(
      newFirst: Expression, newSecond: Expression, newThird: Expression): IvfScores =
    copy(first = newFirst, second = newSecond, third = newThird)

  override def prettyName: String = "graft_ivf_scores"
}
