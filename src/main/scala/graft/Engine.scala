package graft

import org.apache.spark.sql.SparkSession

/** The library's session entry point: one call that (a) builds a
  * SparkSession tuned for the engine's workload shape, and (b) installs
  * every engine extension (custom expressions, the heap top-k
  * optimizer rule + strategy) so user queries pick them up
  * transparently.
  *
  * The tuning knobs and their 100 TB rationale:
  *  - AQE on (+ partition coalescing + skew-join splitting): plans are
  *    re-sized from runtime statistics, so one static
  *    `shuffle.partitions` choice doesn't have to fit every stage; a
  *    skewed join key is split instead of hot-spotting one task.
  *  - `shuffle.partitions` defaults to the core count locally; on a
  *    cluster, callers pass ~2-3× total executor cores (AQE coalesces
  *    the excess; too FEW partitions can't be split up except by the
  *    skew rule).
  *  - `files.maxPartitionBytes` stays at Spark's 128 MB default: scan
  *    tasks sized so a row-group plus shuffle write buffers fit
  *    executor memory.
  *  - UTC session timezone: timestamp arithmetic must not depend on
  *    the cluster's locale.
  *  - generated-code cache sized to the engine's working set
  *    ([[CodegenCacheEntries]]): Spark's default keeps 100 classes, but
  *    one maintained-store admission alone needs ~150, so an LRU that
  *    small evicts every class before its next use and each admit
  *    recompiles (Janino) and re-JITs its whole plan.
  */
object Engine {

  /** `spark.sql.codegen.cache.maxEntries` for every engine session. The
    * cache is JVM-global and sized once, when the first session
    * compiles generated code, so test sessions use the same value.
    * Measured distinct generated classes per op (local[4], 50-doc
    * batches, 1800-doc stores): store init 34, `admitBatch` 153-168,
    * band-index probe 16-19, takedown compaction 16-17. 1000 holds the
    * whole store lifecycle several times over; each entry is one small
    * compiled class. */
  val CodegenCacheEntries = 1000

  /** Install engine extensions on an existing session (idempotent and
    * silent on repeat): every SQL function of the one manifest
    * [[functions.GraftExtensions.Functions]] — the same entries the
    * `spark.sql.extensions` path injects — and the top-k rewrite. */
  def install(spark: SparkSession): SparkSession = {
    val registry = spark.sessionState.functionRegistry
    functions.GraftExtensions.Functions.foreach { case (id, info, builder) =>
      registry.registerFunction(id, info, builder)
    }
    plans.TopKPerGroup.install(spark)
    spark
  }

  /** Build (or reuse) a tuned local session and install extensions.
    * `parallelism` is both the local core count and the shuffle
    * partition count — on a real cluster replace the master and size
    * shuffle partitions to the executor fleet instead. */
  def session(parallelism: Int = Runtime.getRuntime.availableProcessors(),
      appName: String = "graft",
      checkpointDir: Option[String] = None): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$parallelism]")
      .appName(appName)
      .config("spark.sql.shuffle.partitions", parallelism.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.codegen.cache.maxEntries", CodegenCacheEntries.toString)
      .config("spark.ui.enabled", "false")
      // checkpointed RDD files are deleted when their RDD is GC'd instead
      // of accumulating for the app lifetime (pairs with the reliable
      // checkpoints below; no-op when the context already exists)
      .config("spark.cleaner.referenceTracking.cleanCheckpoints", "true")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // Reliable-checkpoint dir so iterative ops (Dedup.materialize) truncate
    // lineage through the cluster FS, not executor memory: explicit arg →
    // -Dgraft.checkpoint.dir → a self-cleaning temp dir. On a cluster pass
    // an HDFS/S3 path so executor loss stays recoverable.
    if (spark.sparkContext.getCheckpointDir.isEmpty) {
      val dir = checkpointDir
        .orElse(sys.props.get("graft.checkpoint.dir"))
        .getOrElse(Scratch.dir("graft-ckpt"))
      spark.sparkContext.setCheckpointDir(dir)
    }
    install(spark)
  }
}
