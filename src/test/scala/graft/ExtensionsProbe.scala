package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.classic.ClassicConversions.castToImpl

/** Child-JVM probe of the config-only deployment path (run by
  * ExtensionManifestSpec, or by hand: `sbt "Test/runMain
  * graft.ExtensionsProbe"`). Builds a session with `spark.sql.extensions=
  * graft.functions.GraftExtensions` and NO call to Engine.install, then
  * exercises every injected surface: all eleven SQL functions of the
  * manifest, the literal-argument checks of the three sketch builders,
  * and the heap top-k rule+strategy. Needs a fresh JVM because extensions
  * only apply at first session build, and the suite's shared session
  * already exists. Prints `EXTENSIONS OK` last. */
object ExtensionsProbe {
  def main(args: Array[String]): Unit = {
    val spark = SparkSession.builder()
      .master("local[2]")
      .appName("graft-extensions-probe")
      .config("spark.sql.extensions", "graft.functions.GraftExtensions")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    assert(spark.sql("SELECT long_dot(array(2L), array(3L))").head().getLong(0) == 6L)
    assert(spark.sql("SELECT long_l2(array(1L, 5L), array(4L, 1L))").head().getLong(0) == 25L)
    assert(spark.sql("SELECT cosine_sim(array(1.0F), array(1.0F))").head().getDouble(0) == 1.0)
    assert(spark.sql("SELECT simhash64(array(md5('a')))").head().getString(0).length == 64)
    assert(spark.sql("SELECT hll_distinct(c) FROM VALUES (1L),(2L),(2L) AS t(c)")
      .head().getLong(0) == 2L)
    assert(spark.sql("SELECT char_shingles('abcd', 3)").count() == 2L)
    assert(spark.sql("SELECT nfc_normalize('e\u0301')").head().getString(0) == "\u00e9")
    assert(spark.sql("SELECT strip_accents('caf\u00e9')").head().getString(0) == "cafe")
    assert(spark.sql(
      "SELECT minhash_sketch(array(named_struct('h1', 5L, 'h2', 3L)), 4) AS sk")
      .head().getSeq[Long](0) == Seq(5L, 8L, 11L, 14L))
    // cms_sketch: depth 2 × width 4; token (h1=5, h2=3) lands in buckets
    // 5%4=1 (row 0) and (5+3)%4=0 (row 1)
    assert(spark.sql(
      "SELECT cms_sketch(array(named_struct('h1', 5L, 'h2', 3L)), 2, 4) AS sk")
      .head().getSeq[Long](0) == Seq(0L, 1L, 0L, 0L, 1L, 0L, 0L, 0L))
    assert(spark.sql(
      "SELECT minhash_sig(array(named_struct('h1', 5L, 'h2', 3L)), 4) AS sg")
      .head().getSeq[Long](0) == Seq(5L, 8L, 11L, 14L))

    // a column where the builder needs a shape literal is rejected at
    // analysis, with the same message as on an Engine.install session
    val rows = "FROM VALUES (array(named_struct('h1', 5L, 'h2', 3L)), 4) AS t(h, k)"
    Seq("minhash_sig(h, k)" -> "minhash_sig k",
        "minhash_sketch(h, k)" -> "minhash_sketch k",
        "cms_sketch(h, k, 4)" -> "cms_sketch depth",
        "cms_sketch(h, 4, k)" -> "cms_sketch width").foreach { case (call, what) =>
      val err = scala.util.Try(spark.sql(s"SELECT $call $rows").collect()).failed
        .getOrElse(throw new AssertionError(s"$call accepted a non-literal"))
      val msgs = Iterator.iterate(err)(_.getCause).takeWhile(_ != null)
        .map(e => String.valueOf(e.getMessage)).toList
      assert(msgs.exists(_.contains(s"$what must be a literal")),
        s"$call failed without the literal check: ${msgs.mkString(" <- ")}")
    }

    val topk = spark.sql(
      """SELECT * FROM (
        |  SELECT c, v, row_number() OVER (PARTITION BY c ORDER BY v) AS rn
        |  FROM VALUES (1, 10), (1, 20), (2, 30) AS t(c, v))
        |WHERE rn <= 1""".stripMargin)
    topk.collect()
    val plan = castToImpl(topk).queryExecution.executedPlan.toString
    assert(plan.contains("TopKPerGroup"), s"heap rewrite not injected:\n$plan")

    println("EXTENSIONS OK")
    spark.stop()
  }
}
