package graft

import org.apache.spark.sql.functions._

/** 100×-decade datapoint for the POSTING-STORE lifecycle (r14 verdict
  * tasks 1/8): with bucket counts scale-derived at first write
  * (`BucketedStore.scaleBuckets`) instead of fixed 8, the store write must no
  * longer be 8-task-bound at the 100× decade. Prices:
  *
  *   - the writePostingStore leg alone (derived bucket count, wall,
  *     data-file census) at sf0.1 (5k docs → seed 8) and at 100×
  *     (500k docs → ladder count), and
  *   - the full t53/d70 lifecycle queries end-to-end at both decades,
  *
  * completing BENCH_SCALE coverage of the maintained stores. Run:
  * sbt 'Test/runMain graft.PostingScaleProbe' → BENCH_SCALE_r15. */
object PostingScaleProbe {
  def main(args: Array[String]): Unit = {
    import ops.{Dedup, TextAnalysis}
    val spark = Engine.session(appName = "graft-posting-scale-probe")

    def time(body: => Unit): Double = {
      val t0 = System.nanoTime(); body; (System.nanoTime() - t0) / 1e9
    }
    def wall(name: String)(sf: String): Double = {
      spark.catalog.clearCache(); System.gc()
      time { SparkEntry.queries(name)(spark, sf).collect(): Unit }
    }
    def dataFiles(dir: String): Int = {
      def walk(f: java.io.File): Int =
        if (f.isFile) (if (f.getName.endsWith(".parquet") &&
          !f.getName.startsWith("_")) 1 else 0)
        else Option(f.listFiles()).getOrElse(Array()).map(walk).sum
      walk(new java.io.File(dir))
    }
    def tableDir(table: String): String =
      spark.sql(s"DESCRIBE TABLE EXTENDED $table")
        .filter(col("col_name") === "Location")
        .head().getString(1).stripPrefix("file:")

    val names = Seq("t53_incremental_bm25", "d70_posting_schema_evolution")
    // JIT/codegen warm pass at the smallest SF
    names.foreach(n => wall(n)("/root/testdata/sf0.001"))

    val sf01 = "/root/testdata/sf0.1"
    val dir100 = ScaleProbe.synthCorpus(spark, 500000L, 2000L,
      "graft_psp15", parts = 32, vocabSize = 144)

    // the write leg alone: postings of the full corpus -> bucketed store
    def writeLeg(sf: String, tag: String): String = {
      val postings = TextAnalysis.postingsOf(
        Tables.documents(spark, sf).select("doc_id", "text"))
      var table: String = null
      val w = time { table = TextAnalysis.writePostingStore(spark, postings, tag) }
      val n = ops.BucketedStore.bucketCountOf(spark, table)
      val files = dataFiles(tableDir(table))
      f""""write_sec":$w%.2f,"buckets":$n,"data_files":$files"""
    }
    val wA = writeLeg(sf01, "psp15a")
    val wB = writeLeg(dir100, "psp15b")

    val e2e = names.map { n =>
      val a = wall(n)(sf01)
      val b = wall(n)(dir100)
      f""""$n":{"sf01_sec":$a%.2f,"x100_sec":$b%.2f,"ratio_100x":${b / a}%.2f}"""
    }

    println(s"""{"metric":"posting_store_scale_100x","docs":[5000,500000],""" +
      s""""store_write":{"sf01":{$wA},"x100":{$wB}},""" + e2e.mkString(",") + "}")
    spark.stop()
  }
}
