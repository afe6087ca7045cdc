package graft

import org.apache.spark.sql.functions._

/** Round-14 optimization guard: bucketed store writes must not fan out
  * nTasks × nBuckets files. Before the writer-side bucket-key
  * repartition (in `BucketedStore`'s writer), a 16-partition input wrote
  * up to 128 data files per 8-bucket store (measured 1026 files on
  * t53's posting store at sf0.1); after it, each write lands exactly
  * one file per non-empty bucket. Layout is invisible to SQL results
  * (the full Verify run covers those), so the file-count contract is
  * spec-asserted here. */
class StoreLayoutSpec extends SparkTestBase {
  Engine.install(spark)
  import spark.implicits._

  private def dataFiles(dir: String): Seq[java.io.File] = {
    def walk(f: java.io.File): Seq[java.io.File] =
      if (f.isFile) Seq(f)
      else Option(f.listFiles()).getOrElse(Array()).toSeq.flatMap(walk)
    walk(new java.io.File(dir)).filter { f =>
      f.getName.endsWith(".parquet") && !f.getName.startsWith("_")
    }
  }

  private def tableDir(table: String): String = {
    val dir = spark.sql(s"DESCRIBE TABLE EXTENDED $table")
      .filter(col("col_name") === "Location")
      .head().getString(1).stripPrefix("file:")
    // fail loudly on a location-format change (a malformed path would
    // make the file walks below return zero files and pass vacuously)
    assert(new java.io.File(dir).isDirectory,
      s"resolved table location is not a directory: $dir")
    dir
  }

  test("band-index write from a many-partition input lands nBuckets files") {
    val docs = (1L to 400L).map(i => (i, s"w${i % 7} w${i % 5} w${i % 3} w$i x y z"))
      .toDF("doc_id", "text").repartition(16)
    val (buckets, _) = ops.Dedup.lshBucketsAndShingles(
      docs, "doc_id", "text", shingleWords = 3, bands = 4, rowsPerBand = 2)
    val table = "graft_layout_band_" + Scratch.nameTag()
    ops.Dedup.writeBandIndex(spark, buckets, table)
    val files = dataFiles(tableDir(table))
    assert(files.nonEmpty && files.size <= 8,
      s"band index wrote ${files.size} data files, expected <= 8 (one per bucket)")
    // and a batch append stays bucket-sized too: <= 8 new files
    ops.Dedup.appendBandIndex(spark, buckets.limit(50), table)
    val after = dataFiles(tableDir(table))
    assert(after.size - files.size <= 8,
      s"append added ${after.size - files.size} files, expected <= 8")
  }

  test("posting-store write from a many-partition input lands nBuckets files") {
    val docs = (1L to 300L).map(i => (i, s"alpha beta w$i gamma"))
      .toDF("doc_id", "text").repartition(16)
    val table = ops.TextAnalysis.writePostingStore(
      spark, ops.TextAnalysis.postingsOf(docs).repartition(16), "layout_post")
    val files = dataFiles(tableDir(table))
    assert(files.nonEmpty && files.size <= 8,
      s"posting store wrote ${files.size} data files, expected <= 8")
  }

  // ---- round-15 guard: bucket counts are scale-derived, not fixed 8 ----
  // Under the bucket-key repartition each write task holds one bucket, so a
  // fixed seed count would cap write parallelism (and per-task memory) at
  // 8 forever. scaleBuckets sizes the FIRST write from the source row
  // count on the 8·2^k ladder; appends/compactions resolve the STORED
  // generation's spec from the catalog so they ride any migrated count.

  test("scaleBuckets grows with source rows and falls back to seed") {
    // in-memory frame: no parquet footers -> conservative seed
    val mem = (1L to 1000L).map(i => (i, s"t$i")).toDF("doc_id", "text")
    assert(ops.BucketedStore.scaleBuckets(mem) == 8)
    // parquet-backed frame: ladder over the footer row count
    val dir = Scratch.dir("graft_layout_scale_src")
    (1L to 1000L).map(i => (i, s"t$i")).toDF("doc_id", "text")
      .write.mode("overwrite").parquet(dir)
    val src = spark.read.parquet(dir)
    spark.conf.set("graft.store.rowsPerBucket", "16")
    try {
      // 1000 rows / budget 16 -> first 8*2^k with 16*b >= 1000 is 64
      assert(ops.BucketedStore.scaleBuckets(src) == 64)
      spark.conf.set("graft.store.rowsPerBucket", "4000")
      assert(ops.BucketedStore.scaleBuckets(src) == 8,
        "a budget covering the corpus keeps the seed layout")
    } finally spark.conf.unset("graft.store.rowsPerBucket")
  }

  test("posting store derives a grown bucket count and appends ride it") {
    val dir = Scratch.dir("graft_layout_grown_src")
    (1L to 300L).map(i => (i, s"alpha beta w$i gamma"))
      .toDF("doc_id", "text").write.mode("overwrite").parquet(dir)
    val docs = spark.read.parquet(dir)
    spark.conf.set("graft.store.rowsPerBucket", "16")
    try {
      // 300 docs / budget 16 -> 32 buckets (8*16=128 < 300 <= 32*16)
      val table = ops.TextAnalysis.writePostingStore(
        spark, ops.TextAnalysis.postingsOf(docs), "layout_grown")
      assert(ops.BucketedStore.bucketCountOf(spark, table) == 32,
        "first write must scale the bucket count with the source")
      val files = dataFiles(tableDir(table))
      assert(files.nonEmpty && files.size <= 32,
        s"grown posting store wrote ${files.size} files, expected <= 32")
      // append resolves the STORED spec (32), not the seed: a mismatched
      // bucketBy would throw in Spark's validation, and the file delta
      // stays <= the grown bucket count
      ops.TextAnalysis.appendPostingStore(spark,
        ops.TextAnalysis.postingsOf(docs.limit(40)), table)
      val after = dataFiles(tableDir(table))
      assert(after.size - files.size <= 32,
        s"append added ${after.size - files.size} files, expected <= 32")
    } finally spark.conf.unset("graft.store.rowsPerBucket")
  }

  test("bucketCountOf rejects an unbucketed table") {
    val t = "graft_layout_plain_" + Scratch.nameTag()
    (1L to 10L).toDF("id").write.mode("overwrite")
      .option("path", Scratch.dir("graft_layout_plain")).saveAsTable(t)
    intercept[IllegalArgumentException] {
      ops.BucketedStore.bucketCountOf(spark, t)
    }
  }

  test("ivf-index write from a many-partition input lands nBuckets files") {
    // a cell-assigned frame in writeIvfIndex's input shape (the writer
    // only selects/renames columns, so a hand-built frame exercises the
    // layout path exactly)
    val assign = (1L to 256L).map(i =>
      (i, Array.tabulate(4)(j => (i + j) % 13), (i % 17) + 1, i % 8))
      .toDF("vec_id", "v", "n2", "cell").repartition(16)
    val table = ops.Similarity.writeIvfIndex(spark, assign, "layout_ivf")
    val files = dataFiles(tableDir(table))
    assert(files.nonEmpty && files.size <= 8,
      s"ivf index wrote ${files.size} data files, expected <= 8")
  }
}
