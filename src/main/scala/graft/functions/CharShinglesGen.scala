package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.expressions.{Expression, Generator}
import org.apache.spark.sql.types.{IntegerType, StringType, StructField, StructType}
import org.apache.spark.sql.Column
import org.apache.spark.unsafe.types.UTF8String

/** Custom Catalyst `Generator` (the UDTF-class extension surface, B10):
  * `char_shingles(text, k)` emits one row per overlapping character
  * k-gram of the input — the native-operator form of the
  * `substring`-over-`sequence` composition used by the dedup pipeline
  * (Dedup.charShingles; reference capability: corpus shingling for
  * near-dup detection).
  *
  * A Generator runs inside `Generate` (Spark's flatMap node): one input
  * row fans out to many output rows WITHOUT materializing the whole
  * k-gram array per row first — for a 100 TB corpus that's the
  * difference between streaming shingles into the downstream hash
  * aggregate and allocating a `size(text)`-element array per document.
  * Generators are eval-mode operators in Spark (CodegenFallback);
  * the shingle loop itself allocates only the emitted row.
  */
case class CharShinglesGen(child: Expression, kChild: Expression)
  extends Generator with CodegenFallback {

  override def children: Seq[Expression] = Seq(child, kChild)

  override def elementSchema: StructType =
    StructType(StructField("shingle", StringType) :: Nil)

  override def checkInputDataTypes(): TypeCheckResult =
    if (!(child.dataType == StringType && kChild.dataType == IntegerType && kChild.foldable))
      TypeCheckResult.TypeCheckFailure(
        s"char_shingles expects (string, int literal), got " +
          s"(${child.dataType.simpleString}, ${kChild.dataType.simpleString})")
    else {
      // k is foldable, so an invalid width is an analysis-time error, not
      // a per-row eval failure deep inside a running job
      val kv = kChild.eval(null)
      if (kv == null || kv.asInstanceOf[Int] < 1)
        TypeCheckResult.TypeCheckFailure(s"char_shingles needs k >= 1, got $kv")
      else TypeCheckResult.TypeCheckSuccess
    }

  override def eval(input: InternalRow): IterableOnce[InternalRow] = {
    val raw = child.eval(input)
    if (raw == null) return Nil
    val k = kChild.eval(input).asInstanceOf[Int]
    val str = raw.asInstanceOf[UTF8String].toString
    if (str.length <= k) {
      InternalRow(UTF8String.fromString(str)) :: Nil
    } else {
      // stream the k-grams — no intermediate collection of all shingles
      (0 to str.length - k).iterator
        .map(i => InternalRow(UTF8String.fromString(str.substring(i, i + k))))
    }
  }

  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): Expression =
    copy(child = newChildren(0), kChild = newChildren(1))
}

object CharShinglesGen {
  def char_shingles(text: Column, k: Int): Column =
    org.apache.spark.sql.functions.call_function("char_shingles",
      text, org.apache.spark.sql.functions.lit(k))
}
