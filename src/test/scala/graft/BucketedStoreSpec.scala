package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The bucketed-store layout module: maintenance writers follow the
  * stored spec, concurrent writes in one session keep their own specs,
  * and no second copy of the bucketed write exists in the library. */
class BucketedStoreSpec extends SparkTestBase {
  import spark.implicits._

  private def sortedRows(df: DataFrame): Seq[String] =
    df.collect().map(_.toString).toSeq.sorted

  private def numBuckets(table: String): Int =
    spark.sessionState.catalog
      .getTableMetadata(org.apache.spark.sql.catalyst.TableIdentifier(table))
      .bucketSpec.get.numBuckets

  test("an IVF append after a cell migration follows the migrated " +
    "16-bucket layout and probes like a rebuild") {
    import ops.{Dedup, Similarity}
    import ops.Similarity.{norm2Q, quantize}
    val e = Dedup.reuse(Tables.embeddings(spark, sf0001)
      .select(col("vec_id"), quantize(col("embedding")).as("v"))
      .withColumn("n2", norm2Q(col("v"))))
    val isDay1 = col("vec_id") % 7 === 3
    val isWave2 = col("vec_id") % 7 === 5
    val base = Similarity.writeIvfIndex(spark,
      Similarity.ivfAssign(e).filter(!isDay1 && !isWave2), "ivf_bs_base")
    assert(numBuckets(base) == 8)
    val migrated = Similarity.migrateIvfIndexCells(spark, base, 16, "ivf_bs_mig")
    assert(numBuckets(migrated) == 16)
    // the migration's centroids: stored vectors with cid < 16
    val cents = Dedup.reuse(spark.table(base).filter(col("cid") < 16)
      .select(col("cid").as("cent_id"), col("cv2").as("cv")))

    Similarity.appendIvfIndex(spark,
      Similarity.ivfAssignAgainst(e.filter(isDay1), cents), migrated)
    assert(numBuckets(migrated) == 16, "the append changed the stored layout")

    val rebuilt = Similarity.writeIvfIndex(spark,
      Similarity.ivfAssignAgainst(e.filter(!isWave2), cents), "ivf_bs_reb",
      nBuckets = 16)
    val probes = Similarity.ivfAssignAgainst(e.filter(isWave2), cents)
      .select(col("vec_id").as("qid"), col("v").as("qv"),
        col("n2").as("qn2"), col("cell").as("qcell"))
    val viaAppend = Similarity.probeIvfTopK(spark, migrated, probes, k = 3)
    assert(viaAppend.filter(col("cid") % 7 === 3).count() > 0,
      "no appended vector reached any top-3 — append-visibility untested")
    assert(sortedRows(viaAppend) ==
      sortedRows(Similarity.probeIvfTopK(spark, rebuilt, probes, k = 3)),
      "probe after the append diverged from probe after a rebuild")
    spark.catalog.clearCache()
  }

  test("concurrent same-session saveAsTable: two writes with different " +
    "keys and bucket counts and one append, overlapped by inParallel, " +
    "each keep their own bucket spec and exact rows") {
    import ops.{BucketedStore, Dedup}
    val a = (1L to 500L).map(i => (i, i % 37)).toDF("id", "k")
    val b = (1L to 300L).map(i => (s"t${i % 23}", i)).toDF("term", "doc_id")
    val c0 = (1L to 200L).map(i => (i % 11, i)).toDF("cell", "cid")
    val cBatch = (201L to 260L).map(i => (i % 11, i)).toDF("cell", "cid")
    val (ta, pa) = BucketedStore.location("bs_conc_a", "a")
    val (tb, pb) = BucketedStore.location("bs_conc_b", "b")
    val (tc, pc) = BucketedStore.location("bs_conc_c", "c")
    BucketedStore.write(c0, "cell", 4, tc, pc)
    Dedup.inParallel(
      () => BucketedStore.write(a, "k", 8, ta, pa): Unit,
      () => BucketedStore.write(b, "term", 16, tb, pb): Unit,
      () => BucketedStore.append(spark, cBatch, tc))
    assert(BucketedStore.spec(spark, ta) == ((8, "k")))
    assert(BucketedStore.spec(spark, tb) == ((16, "term")))
    assert(BucketedStore.spec(spark, tc) == ((4, "cell")))
    assert(sortedRows(spark.table(ta).select("id", "k")) == sortedRows(a))
    assert(sortedRows(spark.table(tb).select("term", "doc_id")) == sortedRows(b))
    assert(sortedRows(spark.table(tc).select("cell", "cid")) ==
      sortedRows(c0.unionByName(cBatch)))
  }

  test("the bucketed write lives in BucketedStore only: no .bucketBy( in " +
    "library code outside it") {
    val (home, rest) = SourceScan.scalaFiles("src/main")
      .partition(_.getName == "BucketedStore.scala")
    assert(home.size == 1 && SourceScan.codeHits(home, ".bucketBy(").nonEmpty,
      "BucketedStore.scala must hold the bucketed write")
    val strays = SourceScan.codeHits(rest, ".bucketBy(")
    assert(strays.isEmpty,
      s"bucketed writes outside BucketedStore: ${strays.mkString(", ")}")
  }
}
