package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._
import org.apache.spark.sql.Column

/** Fused MinHash signature: all `numHashes` Kirsch-Mitzenmacher minima
  * (min over shingles of h1 + i·h2) in ONE pass over the hash-pair
  * array. The HOF composition (`transform(sequence(0..k-1), i ->
  * array_min(transform(hv, ...)))`) walks the array k times and
  * allocates k intermediate arrays per row — and higher-order functions
  * are CodegenFallback, so none of it ever enters whole-stage codegen.
  * This expression is the corpus-digest hot loop of every LSH pipeline
  * (d03/d08/d15/d20/d21/d36): one walk, one primitive long[k] of
  * running minima, full codegen.
  *
  * Exactness contract: identical integer arithmetic to the HOF form and
  * the DuckDB oracle (`min(h1 + seed*h2)`), element for element —
  * spec-pinned by an HOF-agreement test, so swapping it in cannot move
  * a verified output. Empty input yields k nulls, matching
  * `array_min(empty)`. */
case class MinHashSig(child: Expression, numHashes: Int) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(s: StructType, _)
        if s.length == 2 && s.forall(_.dataType == LongType) =>
      if (numHashes >= 1) TypeCheckResult.TypeCheckSuccess
      else TypeCheckResult.TypeCheckFailure(s"minhash_sig k must be >= 1, got $numHashes")
    case other => TypeCheckResult.TypeCheckFailure(
      s"minhash_sig expects array<struct<h1:bigint,h2:bigint>>, got ${other.simpleString}")
  }

  override def dataType: DataType = ArrayType(LongType, containsNull = true)
  override def nullable: Boolean = true
  override def prettyName: String = "minhash_sig"

  override def nullSafeEval(input: Any): Any = {
    val arr = input.asInstanceOf[ArrayData]
    val n = arr.numElements()
    if (n == 0) return new GenericArrayData(new Array[Any](numHashes))
    val mins = Array.fill(numHashes)(Long.MaxValue)
    var e = 0
    while (e < n) {
      val row = arr.getStruct(e, 2)
      val h1 = row.getLong(0); val h2 = row.getLong(1)
      var i = 0
      while (i < numHashes) {
        val v = h1 + i * h2
        if (v < mins(i)) mins(i) = v
        i += 1
      }
      e += 1
    }
    new GenericArrayData(mins)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val gad = classOf[GenericArrayData].getName
    nullSafeCodeGen(ctx, ev, x => {
      val n = ctx.freshName("n")
      val e = ctx.freshName("e")
      val i = ctx.freshName("i")
      val mins = ctx.freshName("mins")
      val row = ctx.freshName("row")
      val h1 = ctx.freshName("h1")
      val h2 = ctx.freshName("h2")
      val v = ctx.freshName("v")
      s"""
         |final int $n = $x.numElements();
         |if ($n == 0) {
         |  ${ev.value} = new $gad(new Object[$numHashes]);
         |} else {
         |  final long[] $mins = new long[$numHashes];
         |  java.util.Arrays.fill($mins, Long.MAX_VALUE);
         |  for (int $e = 0; $e < $n; $e++) {
         |    final org.apache.spark.sql.catalyst.InternalRow $row = $x.getStruct($e, 2);
         |    final long $h1 = $row.getLong(0);
         |    final long $h2 = $row.getLong(1);
         |    for (int $i = 0; $i < $numHashes; $i++) {
         |      final long $v = $h1 + (long) $i * $h2;
         |      if ($v < $mins[$i]) $mins[$i] = $v;
         |    }
         |  }
         |  ${ev.value} = new $gad($mins);
         |}
       """.stripMargin
    })
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object MinHashSig {
  def minhash_sig(hashPairs: Column, k: Int): Column =
    org.apache.spark.sql.functions.call_function("minhash_sig", hashPairs,
      org.apache.spark.sql.functions.lit(k))
}
