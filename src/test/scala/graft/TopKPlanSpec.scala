package graft

import org.apache.spark.sql.classic.ClassicConversions.castToImpl
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** The custom whole-operator stack: rewrite rule fires on the idiom,
  * physical plan carries partial+final top-k, results equal the window
  * formulation, and non-matching shapes are left alone. The rule and
  * strategy come from `Engine.install` on the shared test session. */
class TopKPlanSpec extends SparkTestBase {
  import spark.implicits._

  private def topkDf(k: Int) = {
    val w = Window.partitionBy($"o_orderpriority")
      .orderBy($"o_totalprice".desc, $"o_orderkey")
    Tables.orders(spark, sf0001)
      .select("o_orderpriority", "o_orderkey", "o_totalprice")
      .withColumn("rn", row_number().over(w))
      .filter($"rn" <= k)
  }

  test("rewrite replaces Window with the native operator, partial below the shuffle") {
    val df = topkDf(3)
    val p = castToImpl(df).queryExecution.executedPlan.toString
    assert(p.contains("TopKPerGroup"), s"rule did not fire:\n$p")
    assert(p.contains("LocalTopK"), s"no map-side partial top-k:\n$p")
    assert(!p.contains("Window"), s"window (or builtin WindowGroupLimit) survived:\n$p")
    assert(!p.contains("Sort"), s"heap top-k must not sort partitions:\n$p")
    // partial must sit below the exchange, final above it
    assert(p.indexOf("TopKPerGroup") < p.indexOf("Exchange"))
    assert(p.indexOf("Exchange") < p.indexOf("LocalTopK"))
  }

  test("native operator result equals the window formulation") {
    val native = topkDf(3).orderBy("o_orderpriority", "rn")
      .as[(String, Long, Double, Int)].collect().toSeq
    // same computation with the rewrite not applicable (rn + 0 breaks the
    // exact idiom, so Spark's stock Window path runs)
    val w = Window.partitionBy($"o_orderpriority")
      .orderBy($"o_totalprice".desc, $"o_orderkey")
    val stock = Tables.orders(spark, sf0001)
      .select("o_orderpriority", "o_orderkey", "o_totalprice")
      .withColumn("rn", row_number().over(w) + 0)
      .filter($"rn" <= 3)
      .orderBy("o_orderpriority", "rn")
      .as[(String, Long, Double, Int)].collect().toSeq
    assert(native == stock)
    assert(native.size == 15) // 5 priorities × top 3
  }

  test("rank() and other window functions are not rewritten") {
    val w = Window.partitionBy($"o_orderpriority").orderBy($"o_totalprice".desc)
    val df = Tables.orders(spark, sf0001)
      .withColumn("rk", rank().over(w))
      .filter($"rk" <= 3)
    val p = castToImpl(df).queryExecution.executedPlan.toString
    assert(!p.contains("TopKPerGroupExec"))
    assert(p.contains("Window"))
  }
}
