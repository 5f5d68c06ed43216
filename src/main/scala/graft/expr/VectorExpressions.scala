package graft.expr

import org.apache.spark.sql.{Column, GraftBridge}
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, FloatType}

/** Native Catalyst dot product over two `array<float>` columns.
  *
  * This is the (b) tier of the extension ladder (SURVEY.md §4): the
  * higher-order-function formulation (zip_with + aggregate,
  * graft.functions.VectorFunctions.dot) allocates an intermediate array and
  * a lambda frame per element; this expression compiles to a tight
  * primitive loop inside whole-stage codegen — no allocation, no virtual
  * calls — which is what the similarity hot path wants when scoring 10^8+
  * candidate pairs.
  *
  * Accumulation is double-precision in array order — on equal-length,
  * null-free arrays (every fixture embedding) the result is bit-identical
  * to the HOF version (asserted in SimilaritySpec). Degenerate inputs
  * diverge by design: null elements propagate to a null result through
  * zip_with/aggregate in the HOF form, while this expression skips them
  * (counts as 0); mismatched lengths null out the HOF form but dot the
  * common prefix here.
  */
case class VectorDot(left: Expression, right: Expression)
    extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(FloatType, _), ArrayType(FloatType, _)) =>
        TypeCheckResult.TypeCheckSuccess
      case (l, r) => TypeCheckResult.TypeCheckFailure(
        s"vector_dot requires two array<float> inputs, got $l and $r")
    }

  override def dataType: DataType = DoubleType

  override def prettyName: String = "vector_dot"

  override protected def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = math.min(x.numElements(), y.numElements())
    var acc = 0.0
    var i = 0
    while (i < n) {
      if (!x.isNullAt(i) && !y.isNullAt(i)) {
        acc += x.getFloat(i).toDouble * y.getFloat(i).toDouble
      }
      i += 1
    }
    acc
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (x, y) => {
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val acc = ctx.freshName("acc")
      s"""
         |int $n = java.lang.Math.min($x.numElements(), $y.numElements());
         |double $acc = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  if (!$x.isNullAt($i) && !$y.isNullAt($i)) {
         |    $acc += (double) $x.getFloat($i) * (double) $y.getFloat($i);
         |  }
         |}
         |${ev.value} = $acc;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): VectorDot =
    copy(left = newLeft, right = newRight)
}

object VectorExpressions {
  /** Column API for the native dot product. */
  def vectorDot(a: Column, b: Column): Column =
    GraftBridge.column(
      VectorDot(GraftBridge.expression(a), GraftBridge.expression(b)))
}
