package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col

/** The layout of every maintained store — the band index (`bk`), the
  * IVF and IVF-PQ indexes (`cell`) and the posting store (`term`) —
  * decided in one place. A store is a parquet table bucketed and sorted
  * on its probe key, so a probe joins the stored side straight from its
  * file layout with no exchange. The store families are projections
  * over the three writes below; this module holds the contract:
  *
  *  - One file per bucket. Spark's bucketed writer opens one file per
  *    (task, bucket present in the task), so an N-task input fans out
  *    to N × nBuckets files (measured 1026 for a ~1 MB posting store at
  *    sf0.1). Every write first repartitions on the key into exactly
  *    nBuckets partitions: each task holds one whole bucket and writes
  *    one file. Parallelism grows with the layout, because the bucket
  *    count is the corpus-sized lever.
  *  - Appends use the STORED spec. Spark refuses a bucketed append whose
  *    count disagrees with the table's, so [[append]] reads count and
  *    column from the table's catalog metadata ([[spec]]) instead of
  *    assuming them; after a migration grew the layout, appends ride
  *    the grown count.
  *  - A rewrite is a new generation. [[rewrite]] writes a new table at a
  *    new path and never touches the source, so a crash mid-rewrite
  *    leaves the old generation whole (re-run, don't repair); the
  *    caller publishes the new name. Its `distinct` collapses
  *    crash-retry residue (re-appended batch rows).
  *  - Appends refresh through the CALLER's session. Inside foreachBatch
  *    the write commits through the cloned micro-batch session, whose
  *    insert refreshes only its own relation cache; without the refresh
  *    an in-stream append is invisible to the outer session's next
  *    probe or compaction (measured, s34).
  *
  * Bucket count is physical layout only: probe results do not depend
  * on it. First writes size it from the input ([[scaleBuckets]]);
  * migrations pass an explicit target. */
object BucketedStore {

  /** (bucket count, bucket column) of a stored table, from its catalog
    * metadata — zero jobs, zero scans. */
  private[graft] def spec(s: SparkSession, table: String): (Int, String) =
    s.sessionState.catalog.getTableMetadata(
        org.apache.spark.sql.catalyst.TableIdentifier(table))
      .bucketSpec.map(b => (b.numBuckets, b.bucketColumnNames.head))
      .getOrElse(throw new IllegalArgumentException(
        s"$table is not a bucketed store — no bucket spec to resolve"))

  private[graft] def bucketCountOf(s: SparkSession, table: String): Int =
    spec(s, table)._1

  /** Bucket count for a store's FIRST write: the d73 8·2^k ladder over
    * the input's SOURCE row count, read from parquet footers on the
    * driver ([[Dedup.footerRowCount]] — zero Spark jobs). Each write
    * task sorts one whole bucket, so a fixed count would cap write
    * parallelism and per-task memory at corpus scale; the ladder keeps
    * per-bucket source rows within `graft.store.rowsPerBucket` (default
    * 16384, so every fixture SF keeps the seed-8 layout while the 100×
    * probes derive a grown count). Capped at 1024; an input that is not
    * parquet-backed falls back to the seed. */
  private[graft] def scaleBuckets(df: DataFrame, seed: Int = 8): Int = {
    val budget = df.sparkSession.conf
      .getOption("graft.store.rowsPerBucket").map(_.toLong).getOrElse(16384L)
    Dedup.footerRowCount(df) match {
      case Some(rows) =>
        var b = seed
        while (b < 1024 && rows > budget * b) b *= 2
        b
      case None => seed
    }
  }

  /** (table, path) of a new generation: a per-run table name
    * `graft_<tag>_<uuid>` (a fixed name collides across sessions sharing
    * a metastore) and a self-cleaning scratch dir ending in the family's
    * path leaf. The dir is named from the tag alone, so a plan's
    * truncated file-scan location still shows the leaf. */
  def location(tag: String, leaf: String): (String, String) =
    (s"graft_${tag}_" + graft.Scratch.nameTag(),
      s"${graft.Scratch.dir(s"graft_$tag")}/$leaf")

  /** The bucketed writer, behind the repartition that gives one file
    * per bucket. */
  private def writer(rows: DataFrame, key: String, nBuckets: Int) =
    rows.repartition(nBuckets, col(key))
      .write.format("parquet").bucketBy(nBuckets, key).sortBy(key)

  /** Write `rows` as a new store generation bucketed on `key`. Returns
    * the table name. */
  def write(rows: DataFrame, key: String, nBuckets: Int, table: String,
      path: String): String = {
    writer(rows, key, nBuckets).mode("overwrite").option("path", path)
      .saveAsTable(table)
    table
  }

  /** Append `rows` to a stored table at its stored spec, then refresh
    * the table through `s`. */
  def append(s: SparkSession, rows: DataFrame, table: String): Unit = {
    val (nBuckets, key) = spec(s, table)
    writer(rows, key, nBuckets).mode("append").saveAsTable(table)
    s.catalog.refreshTable(table)
  }

  /** A new generation holding `f(stored).distinct()`, written at `to`
    * at the stored bucket count, or at `nBuckets` when migrating.
    * Returns the new table name. */
  def rewrite(s: SparkSession, table: String, to: (String, String),
      nBuckets: Option[Int] = None)(f: DataFrame => DataFrame): String = {
    val (stored, key) = spec(s, table)
    write(f(s.table(table)).distinct(), key, nBuckets.getOrElse(stored),
      to._1, to._2)
  }
}
