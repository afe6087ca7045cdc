package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, LongType}
import org.apache.spark.sql.Column

/** Fused squared-L2 distance over two `array<bigint>` columns — LongDot's
  * sibling for the distance-based operators (k-means assignment, PQ
  * encode/ADC). Versus `aggregate(zip_with(a, b, (x,y) -> (x-y)*(x-y)),
  * 0, +)` this allocates no intermediate array; in whole-stage codegen it
  * is a primitive loop, and even under interpreted eval (e.g. inside a
  * higher-order-function lambda, where Catalyst children always eval) it
  * is a tight unboxed loop instead of per-element lambda dispatch.
  * Returns NULL on null input or length mismatch.
  *
  * Exactness contract: same integers as the HOF composition and the
  * oracle's `list_sum(list_transform(...))` — swapping it in cannot
  * change any verified output.
  */
case class LongL2(left: Expression, right: Expression) extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = {
    def ok(t: DataType) = t match {
      case ArrayType(LongType, _) => true
      case _ => false
    }
    if (ok(left.dataType) && ok(right.dataType)) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"long_l2 expects (array<bigint>, array<bigint>), got " +
        s"(${left.dataType.simpleString}, ${right.dataType.simpleString})")
  }
  override def dataType: DataType = LongType
  override def nullable: Boolean = true
  override def prettyName: String = "long_l2"

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = x.numElements()
    if (n != y.numElements()) return null
    var acc = 0L
    var i = 0
    while (i < n) {
      val d = x.getLong(i) - y.getLong(i)
      acc += d * d
      i += 1
    }
    java.lang.Long.valueOf(acc)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    nullSafeCodeGen(ctx, ev, (x, y) => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val d = ctx.freshName("d")
      s"""
         |final int $n = $x.numElements();
         |if ($n != $y.numElements()) {
         |  ${ev.isNull} = true;
         |} else {
         |  long acc = 0L;
         |  for (int $i = 0; $i < $n; $i++) {
         |    final long $d = $x.getLong($i) - $y.getLong($i);
         |    acc += $d * $d;
         |  }
         |  ${ev.value} = acc;
         |}
       """.stripMargin
    })
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

object LongL2 {
  def long_l2(a: Column, b: Column): Column =
    org.apache.spark.sql.functions.call_function("long_l2", a, b)
}
