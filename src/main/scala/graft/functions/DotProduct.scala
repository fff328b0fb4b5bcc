package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._

/** Native codegen'd dot product of two numeric arrays (float or double
  * elements), accumulated sequentially in double.
  *
  * Why a Catalyst Expression: Spark's higher-order functions
  * (`aggregate`/`zip_with`) are CodegenFallback — every row walks an
  * interpreted expression tree, which made the LSH/cosine queries the
  * bench's hot spots. This expression generates a tight Java loop inside
  * whole-stage codegen (preference order per the engine design: compose
  * builtins < native Expression < UDF).
  *
  * Determinism contract: strictly sequential left-to-right double
  * accumulation — bit-identical to the interpreted HOF form and to the
  * DuckDB oracle's `list_aggregate(..., 'sum')`, which is what makes
  * differential testing of float math possible.
  *
  * Null elements contribute nothing (embeddings never contain them; the
  * guard keeps the expression total). Arrays of different lengths dot
  * their common prefix.
  */
case class DotProduct(left: Expression, right: Expression) extends BinaryExpression {

  override def dataType: DataType = DoubleType

  private def elemType(e: Expression): DataType =
    e.dataType.asInstanceOf[ArrayType].elementType

  override def checkInputDataTypes(): TypeCheckResult = {
    def ok(dt: DataType): Boolean = dt match {
      case ArrayType(FloatType | DoubleType, _) => true
      case _ => false
    }
    if (ok(left.dataType) && ok(right.dataType)) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"graft_dot requires array<float|double> inputs, got ${left.dataType.sql} and ${right.dataType.sql}")
  }

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val lf = elemType(left) == FloatType
    val rf = elemType(right) == FloatType
    val n = math.min(x.numElements(), y.numElements())
    var acc = 0.0
    var i = 0
    while (i < n) {
      if (!x.isNullAt(i) && !y.isNullAt(i)) {
        val xv = if (lf) x.getFloat(i).toDouble else x.getDouble(i)
        val yv = if (rf) y.getFloat(i).toDouble else y.getDouble(i)
        acc += xv * yv
      }
      i += 1
    }
    acc
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val acc = ctx.freshName("acc")
      val getX = if (elemType(left) == FloatType) s"(double) $a.getFloat($i)" else s"$a.getDouble($i)"
      val getY = if (elemType(right) == FloatType) s"(double) $b.getFloat($i)" else s"$b.getDouble($i)"
      s"""
         |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
         |double $acc = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  if (!$a.isNullAt($i) && !$b.isNullAt($i)) {
         |    $acc += $getX * $getY;
         |  }
         |}
         |${ev.value} = $acc;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): DotProduct =
    copy(left = newLeft, right = newRight)

  override def prettyName: String = "graft_dot"
}
