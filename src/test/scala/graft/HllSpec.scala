package graft

import graft.functions.HllSketch
import org.apache.spark.sql.functions._

/** Accuracy and merge-path tests for the HLL TypedImperativeAggregate
  * (`hll_distinct` registered by `Engine.install` on the shared test
  * session). */
class HllSpec extends SparkTestBase {
  import spark.implicits._

  test("estimate within 5% at p=11 across cardinalities, merge-safe") {
    for (n <- Seq(100L, 5000L, 50000L)) {
      // many partitions → partial buffers must merge correctly
      val est = spark.range(n).repartition(8)
        .agg(HllSketch.hll_distinct(col("id")).as("e"))
        .as[Long].head()
      val err = math.abs(est - n).toDouble / n
      assert(err < 0.05, s"n=$n est=$est err=$err")
    }
  }

  test("estimate is deterministic across repartitionings") {
    val a = spark.range(10000).repartition(3)
      .agg(HllSketch.hll_distinct(col("id"))).as[Long].head()
    val b = spark.range(10000).repartition(17)
      .agg(HllSketch.hll_distinct(col("id"))).as[Long].head()
    assert(a == b) // register-max is order/partitioning independent
  }

  test("duplicates do not inflate the estimate") {
    val dup = spark.range(1000).select((col("id") % 100).as("k"))
    val est = dup.agg(HllSketch.hll_distinct(col("k"))).as[Long].head()
    assert(math.abs(est - 100) <= 10, s"est=$est")
  }

  test("works in SQL after registration and groups correctly") {
    Tables.lineitem(spark, sf0001).createOrReplaceTempView("hll_li")
    val rows = spark.sql(
      """SELECT l_returnflag, hll_distinct(l_partkey) e, count(DISTINCT l_partkey) x
         FROM hll_li GROUP BY l_returnflag""").collect()
    rows.foreach { r =>
      val e = r.getLong(1); val x = r.getLong(2)
      assert(math.abs(e - x).toDouble / x < 0.1, s"${r.getString(0)}: e=$e x=$x")
    }
  }
}
