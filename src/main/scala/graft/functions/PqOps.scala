package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._

/** Product-quantization kernels as native Catalyst expressions.
  *
  * Why: the composed PQ queries (q_ann_pq / q_ivf_pq) originally built
  * their per-subspace argmax and ADC lookup tables as expression TREES —
  * PqSubspaces × PqCodes = 512 dot-product subtrees of literal centroid
  * arrays, twice (encode + LUT). The values were right but the plan was
  * enormous: expression construction + whole-stage codegen of ~1k
  * subtrees cost seconds per query BEFORE the first row moved — a
  * compile-time constant that dominated the bench and would bloat every
  * executor's codegen cache at scale. Here the codebook rides in as ONE
  * nested-array literal (then into codegen as a reference object), and
  * each row runs a tight three-level loop.
  *
  * Determinism contract (the differential-twin discipline,
  * [[graft.verify.Expected.pqRows]]): float elements widen to double and
  * accumulate strictly left-to-right; scores are `dot(sub, c) − ‖c‖²/2`
  * with `‖c‖²` accumulated the [[graft.operators.Similarity.ddot]] way;
  * argmax ties take the LARGER code (the lexicographic struct-max the
  * tree form used). Bit-identical to both the tree form and the twin.
  *
  * The codebook argument must be a foldable `array<array<array<double>>>`
  * (subspace → code → component) — it is evaluated once on the driver and
  * shipped as a plan constant, not re-evaluated per row.
  *
  * NULL-embedding rows are outside the contract: as BinaryExpressions the
  * kernels return NULL for them, while the builtin tree form returns
  * an array built over null scores. The embeddings loader guarantees
  * non-null vectors (null ELEMENTS inside a vector are handled — they
  * contribute 0, like graft_dot); callers feeding other sources must
  * filter nulls first.
  */
object PqOps {
  /** Driver-side: materialize the foldable codebook literal. */
  def codebook(e: Expression): Array[Array[Array[Double]]] = {
    require(e.foldable, "PQ codebook must be a literal/foldable expression")
    val top = e.eval().asInstanceOf[ArrayData]
    (0 until top.numElements()).map { m =>
      val sub = top.getArray(m)
      (0 until sub.numElements()).map { k =>
        sub.getArray(k).toDoubleArray()
      }.toArray
    }.toArray
  }

  /** ‖c‖²/2 per (subspace, code), accumulated sequentially like
    * Similarity.ddot — the score's code-independent half-norm term. */
  def halfNorms(cb: Array[Array[Array[Double]]]): Array[Array[Double]] =
    cb.map(_.map { c =>
      var s = 0.0; var i = 0
      while (i < c.length) { s += c(i) * c(i); i += 1 }
      s / 2
    })

  private def elem(emb: ArrayData, isFloat: Boolean, i: Int): Double =
    if (isFloat) emb.getFloat(i).toDouble else emb.getDouble(i)

  /** Spark SQL's double ordering, which the tree form's `array_max`
    * applies: plain IEEE </> first (so -0.0 == 0.0 — java.lang.Double
    * .compare would order them), NaN greater than every value, NaN ==
    * NaN. Using anything else here would let a NaN-scored subspace
    * (an Inf/NaN embedding component) encode differently from the
    * builtin tree form. */
  private def cmpSql(x: Double, y: Double): Int =
    if (x < y) -1
    else if (x > y) 1
    else if (x.isNaN) { if (y.isNaN) 0 else 1 }
    else if (y.isNaN) -1
    else 0

  /** Per-subspace nearest-code assignment: argmax of
    * `dot(sub_m, c) − ‖c‖²/2` (== argmin squared distance), ties to the
    * larger code. Components beyond the embedding's length contribute 0
    * (the slice-then-min-length behavior of the tree form). */
  def encode(emb: ArrayData, isFloat: Boolean,
      cb: Array[Array[Array[Double]]], half: Array[Array[Double]]): GenericArrayData = {
    val n = emb.numElements()
    val m = cb.length
    val codes = new Array[Int](m)
    var s = 0
    var base = 0
    while (s < m) {
      val cents = cb(s)
      val d = if (cents.length > 0) cents(0).length else 0
      var best = Double.NegativeInfinity
      var bestK = 0
      var k = 0
      while (k < cents.length) {
        val c = cents(k)
        var acc = 0.0
        var j = 0
        while (j < d && base + j < n) {
          if (!emb.isNullAt(base + j)) acc += elem(emb, isFloat, base + j) * c(j)
          j += 1
        }
        val score = acc - half(s)(k)
        if (cmpSql(score, best) >= 0) { best = score; bestK = k }
        k += 1
      }
      codes(s) = bestK
      base += d
      s += 1
    }
    new GenericArrayData(codes)
  }

  /** ADC approximate dot: Σ_m lut(m)(codes(m)), accumulated in subspace
    * order — bit-identical to the `element_at` expression tree it
    * replaces (IEEE addition in the same sequence). This is the
    * inner-loop of the PQ serve scans: it runs once per
    * (corpus row × probing query) pair, where the tree form paid 16
    * two-level `element_at` evaluations (bounds/null checks + array
    * derefs) per pair. Well-formed inputs only (lut/codes produced by
    * [[lut]]/[[encode]] over one codebook) — the NULL-embedding posture
    * documented on the object applies here too. */
  def adc(lutArr: ArrayData, codes: ArrayData): Double = {
    var s = 0.0
    var m = 0
    val n = codes.numElements()
    while (m < n) {
      s += lutArr.getArray(m).getDouble(codes.getInt(m))
      m += 1
    }
    s
  }

  /** Query-side ADC lookup table: lut(m)(k) = dot(sub_m, c_{m,k}),
    * sequential accumulation per entry. */
  def lut(emb: ArrayData, isFloat: Boolean,
      cb: Array[Array[Array[Double]]]): GenericArrayData = {
    val n = emb.numElements()
    val m = cb.length
    val out = new Array[Any](m)
    var s = 0
    var base = 0
    while (s < m) {
      val cents = cb(s)
      val d = if (cents.length > 0) cents(0).length else 0
      val row = new Array[Double](cents.length)
      var k = 0
      while (k < cents.length) {
        val c = cents(k)
        var acc = 0.0
        var j = 0
        while (j < d && base + j < n) {
          if (!emb.isNullAt(base + j)) acc += elem(emb, isFloat, base + j) * c(j)
          j += 1
        }
        row(k) = acc
        k += 1
      }
      out(s) = new GenericArrayData(row)
      base += d
      s += 1
    }
    new GenericArrayData(out)
  }
}

/** Shared shape of the two PQ kernels: (embedding, codebook-literal). */
sealed trait PqKernel extends BinaryExpression {
  @transient protected lazy val cb: Array[Array[Array[Double]]] = PqOps.codebook(right)
  @transient protected lazy val isFloat: Boolean =
    left.dataType.asInstanceOf[ArrayType].elementType == FloatType

  override def checkInputDataTypes(): TypeCheckResult = {
    val leftOk = left.dataType match {
      case ArrayType(FloatType | DoubleType, _) => true
      case _ => false
    }
    val rightOk = right.dataType match {
      case ArrayType(ArrayType(ArrayType(DoubleType, _), _), _) => right.foldable
      case _ => false
    }
    if (leftOk && rightOk) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires (array<float|double>, foldable array<array<array<double>>>), " +
        s"got ${left.dataType.sql} and ${right.dataType.sql}")
  }
}

/** `graft_pq_encode(emb, codebook)` → array<int> — one PQ code per
  * subspace. See [[PqOps.encode]] for the exact arithmetic contract. */
case class PqEncode(left: Expression, right: Expression) extends PqKernel {
  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
  @transient private lazy val half: Array[Array[Double]] = PqOps.halfNorms(cb)

  override def nullSafeEval(a: Any, b: Any): Any =
    PqOps.encode(a.asInstanceOf[ArrayData], isFloat, cb, half)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val cbRef = ctx.addReferenceObj("pqcb", cb, "double[][][]")
    val halfRef = ctx.addReferenceObj("pqhalf", half, "double[][]")
    nullSafeCodeGen(ctx, ev, (emb, _) =>
      s"${ev.value} = graft.functions.PqOps.encode($emb, $isFloat, $cbRef, $halfRef);")
  }

  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): PqEncode =
    copy(left = newLeft, right = newRight)
  override def prettyName: String = "graft_pq_encode"
}

/** `graft_pq_lut(emb, codebook)` → array<array<double>> — the query-side
  * ADC table. See [[PqOps.lut]]. */
case class PqLut(left: Expression, right: Expression) extends PqKernel {
  override def dataType: DataType =
    ArrayType(ArrayType(DoubleType, containsNull = false), containsNull = false)

  override def nullSafeEval(a: Any, b: Any): Any =
    PqOps.lut(a.asInstanceOf[ArrayData], isFloat, cb)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val cbRef = ctx.addReferenceObj("pqcb", cb, "double[][][]")
    nullSafeCodeGen(ctx, ev, (emb, _) =>
      s"${ev.value} = graft.functions.PqOps.lut($emb, $isFloat, $cbRef);")
  }

  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): PqLut =
    copy(left = newLeft, right = newRight)
  override def prettyName: String = "graft_pq_lut"
}

/** `graft_pq_adc(lut, codes)` → double — the ADC approximate dot product
  * (Σ_m lut(m)(codes(m)), subspace order). See [[PqOps.adc]] for the
  * arithmetic contract; unlike the other two kernels the codebook never
  * appears — both arguments are per-row columns, so this is a plain
  * row-local kernel with no driver-side setup. */
case class PqAdc(left: Expression, right: Expression) extends BinaryExpression {
  override def dataType: DataType = DoubleType

  override def checkInputDataTypes(): TypeCheckResult = {
    val leftOk = left.dataType match {
      case ArrayType(ArrayType(DoubleType, _), _) => true
      case _ => false
    }
    val rightOk = right.dataType match {
      case ArrayType(IntegerType, _) => true
      case _ => false
    }
    if (leftOk && rightOk) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires (array<array<double>>, array<int>), " +
        s"got ${left.dataType.sql} and ${right.dataType.sql}")
  }

  override def nullSafeEval(l: Any, r: Any): Any =
    PqOps.adc(l.asInstanceOf[ArrayData], r.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (lut, codes) =>
      s"${ev.value} = graft.functions.PqOps.adc($lut, $codes);")

  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): PqAdc =
    copy(left = newLeft, right = newRight)
  override def prettyName: String = "graft_pq_adc"
}
