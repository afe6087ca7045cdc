package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, StringType}
import org.apache.spark.sql.Column
import org.apache.spark.unsafe.types.UTF8String

/** 64-bit SimHash over an `array<string>` of md5 hex digests, as a
  * '0'/'1' bitstring: bit i (1-32) is the sign of the token vote on the
  * MSB of hex digit i, bit 32+i the vote on the LSB of digit i — the
  * exact semantics of `Dedup.simhash64FromMd5s` (spec-asserted
  * agreement), which computes it as 64 separate HOF `aggregate` passes
  * over the digest array. This native expression reads each digest ONCE,
  * updating all 64 vote counters per token — on the corpus-wide
  * signature pass of the SimHash dedup operator that is a 64× cut in
  * array traversals, and the hot loop stays in primitive ints on raw
  * UTF8 bytes inside whole-stage codegen.
  */
case class SimHash64(child: Expression) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"simhash64 expects array<string> of md5 hex digests, got ${t.simpleString}")
  }
  override def dataType: DataType = StringType
  override def nullable: Boolean = child.nullable
  override def prettyName: String = "simhash64"

  override def nullSafeEval(a: Any): Any =
    SimHash64.compute(a.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.SimHash64.compute($c)")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object SimHash64 {

  /** One pass per digest; missing digits (strings shorter than 32) and
    * non-hex characters vote -1 on both planes, and a null element nulls
    * every per-bit sum — bit-for-bit what the HOF composition yields. */
  def compute(arr: ArrayData): UTF8String = {
    val n = arr.numElements()
    val msb = new Array[Int](32)
    val lsb = new Array[Int](32)
    var hasNull = false
    var i = 0
    while (i < n && !hasNull) {
      if (arr.isNullAt(i)) hasNull = true
      else {
        val bytes = arr.getUTF8String(i).getBytes
        var d = 0
        while (d < 32) {
          if (d < bytes.length) {
            val c = bytes(d).toChar
            msb(d) += (if (c == '8' || c == '9' || (c >= 'a' && c <= 'f')) 1 else -1)
            lsb(d) += (if (c == '1' || c == '3' || c == '5' || c == '7' || c == '9' ||
              c == 'b' || c == 'd' || c == 'f') 1 else -1)
          } else { msb(d) -= 1; lsb(d) -= 1 }
          d += 1
        }
      }
      i += 1
    }
    val out = new Array[Byte](64)
    if (hasNull) java.util.Arrays.fill(out, '0'.toByte)
    else {
      var d = 0
      while (d < 32) {
        out(d) = if (msb(d) > 0) '1'.toByte else '0'.toByte
        out(32 + d) = if (lsb(d) > 0) '1'.toByte else '0'.toByte
        d += 1
      }
    }
    UTF8String.fromBytes(out)
  }

  def simhash64(md5s: Column): Column =
    org.apache.spark.sql.functions.call_function("simhash64", md5s)
}
