package graft

import java.io.File
import java.util.concurrent.atomic.AtomicBoolean

import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{OutputMode, StreamingQueryException, Trigger}
import org.apache.spark.sql.types.LongType

/** Shared crash switch for the exactly-once spec. Lives in a companion-level
  * object so executor threads (same JVM at local[*]) and the test share one
  * flag; armed on the first run, disarmed before the restart — exactly the
  * "process died, operator rerun from checkpoint" scenario.
  */
object ChaosSwitch {
  val armed = new AtomicBoolean(false)
}

/** Round-7 evidence-depth specs: the claims that were previously asserted
  * only under clean runs get their adversarial counterparts here.
  */
class RoundSevenSpec extends SparkTestBase {

  /** Copy one coalesced parquet part-file out of a Spark-written directory
    * into `dest`, stamping `mtime` so FileStreamSource's oldest-first
    * ordering is deterministic.
    */
  private def writeSourceFile(df: org.apache.spark.sql.DataFrame, dest: File,
      mtime: Long): Unit = {
    val tmp = java.nio.file.Files.createTempDirectory("graft_srcfile").toFile
    df.coalesce(1).write.mode("overwrite").parquet(new File(tmp, "d").toString)
    val part = new File(tmp, "d").listFiles()
      .find(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet"))
      .getOrElse(fail("no part file written"))
    java.nio.file.Files.copy(part.toPath, dest.toPath)
    assert(dest.setLastModified(mtime))
    Scratch.deleteRecursively(tmp)
  }

  test("s12 exactly-once survives a mid-batch crash + restart: the commit " +
    "log prunes the failed attempt's orphan files and the recovered output " +
    "equals the batch oracle with no duplicates") {
    import spark.implicits._

    // ---- arrange: 4 source files, oldest-first, marker event in file 2 ----
    val events = Tables.events(spark, sf0001)
      .select(col("event_id"), col("user_id"), col("event_type"), col("value"))
      .cache()
    val total = events.count()
    assert(total > 100, "fixture sanity")
    val markerId = events.filter(col("event_id") % 4 === 2)
      .agg(min(col("event_id"))).as[Long].head()

    val base = new File(Scratch.dir("graft_eos"))
    val srcDir = new File(base, "src"); assert(srcDir.mkdirs())
    val now = System.currentTimeMillis()
    (0 until 4).foreach { i =>
      writeSourceFile(events.filter(col("event_id") % 4 === i),
        new File(srcDir, s"f$i.parquet"), now - (40L - 10L * i) * 1000)
    }
    val outDir = new File(base, "out").toString
    val chkDir = new File(base, "chk").toString

    // the s12 pipeline shape, plus a 4-way repartition so the failing batch
    // has sibling write tasks that finish (and leave orphan files) before
    // the marker task throws
    val chaos = udf { (id: Long) =>
      if (ChaosSwitch.armed.get() && id == markerId) {
        Thread.sleep(2000) // let sibling tasks of this batch commit their files
        throw new RuntimeException("injected mid-batch crash")
      }
      true
    }.asNondeterministic() // pin the throw to this exact stage, no reorder
    def startQuery() = spark.readStream
      .schema(events.schema)
      .option("maxFilesPerTrigger", "1")
      .parquet(srcDir.toString)
      .repartition(4, col("event_id"))
      .filter(chaos(col("event_id")))
      .filter(col("user_id") < 75)
      .select(col("event_type"), round(col("value") * 100).cast(LongType).as("cents"))
      .writeStream
      .format("parquet")
      .option("path", outDir)
      .option("checkpointLocation", chkDir)
      .outputMode(OutputMode.Append())
      .trigger(Trigger.AvailableNow())
      .start()

    // ---- act 1: run until the injected crash kills the query ----
    ChaosSwitch.armed.set(true)
    try {
      val crash = intercept[StreamingQueryException] { startQuery().awaitTermination() }
      assert(Option(crash.getMessage).exists(_.nonEmpty))
    } finally ChaosSwitch.armed.set(false)

    val committedBatches = Option(new File(chkDir, "commits").listFiles())
      .map(_.count(_.getName.forall(_.isDigit))).getOrElse(0)
    assert(committedBatches >= 1, "at least one batch must commit before the crash")
    assert(committedBatches < 4, "the crash must land before the last batch")
    val midRows = spark.read.parquet(outDir).count()
    assert(midRows > 0 && midRows < total, "partial progress committed, not all")

    // ---- act 2: restart from the same checkpoint, run to completion ----
    startQuery().awaitTermination()

    // ---- assert: metadata-log read == batch oracle, orphans pruned ----
    val oracle = events.filter(col("user_id") < 75)
      .select(col("event_type"), round(col("value") * 100).cast(LongType).as("cents"))
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"), sum(col("cents")).as("cents"))
      .as[(String, Long, Long)].collect().map { case (k, n, c) => k -> ((n, c)) }.toMap
    val got = spark.read.parquet(outDir) // root read honors _spark_metadata
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"), sum(col("cents")).as("cents"))
      .as[(String, Long, Long)].collect().map { case (k, n, c) => k -> ((n, c)) }.toMap
    assert(got == oracle, s"recovered sink diverged: $got vs $oracle")

    // The soft crash above leaves no orphans — ManifestFileCommitProtocol's
    // abortJob best-effort-deletes the failed attempt's files (observed:
    // raw == committed after run 1). A HARD driver kill skips that cleanup,
    // so simulate its residue: plant an uncommitted uuid-named part file and
    // assert the read path trusts only the _spark_metadata manifest.
    val partFiles = new File(outDir).listFiles()
      .filter(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet"))
    assert(partFiles.nonEmpty)
    val orphan = new File(outDir,
      partFiles.head.getName.replaceFirst("part-\\d+", "part-99990"))
    java.nio.file.Files.copy(partFiles.head.toPath, orphan.toPath)
    val rawRows = spark.read.parquet(
      new File(outDir).listFiles()
        .filter(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet"))
        .map(_.toString): _*).count()
    val committedRows = spark.read.parquet(outDir).count()
    assert(rawRows > committedRows,
      s"planted orphan must be visible to a raw glob read (raw=$rawRows committed=$committedRows)")
    assert(committedRows == got.values.map(_._1).sum,
      "manifest-filtered read must ignore the uncommitted file")
    events.unpersist()
  }

  test("stateful aggregation STATE survives a mid-stream crash + restart: " +
    "events seen only before the crash are present in the recovered totals " +
    "without source replay (state-store recovery, not reprocessing)") {
    stateRecoveryUnder(None, "hdfs")
  }

  test("the same state recovery holds under the RocksDB state store " +
    "provider (the s11 transformWithState family's store)") {
    stateRecoveryUnder(Some(
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"),
      "rocksdb")
  }

  private def stateRecoveryUnder(provider: Option[String], tag: String): Unit = {
    import spark.implicits._
    val providerKey = "spark.sql.streaming.stateStore.providerClass"
    val savedProvider = spark.conf.get(providerKey)
    provider.foreach(spark.conf.set(providerKey, _))
    try stateRecoveryBody(tag)
    finally spark.conf.set(providerKey, savedProvider)
  }

  private def stateRecoveryBody(tag: String): Unit = {
    import spark.implicits._

    // ---- arrange: 4 source files, marker event in file 2 ----
    val events = Tables.events(spark, sf0001)
      .select(col("event_id"), col("event_type"), col("value"))
      .cache()
    val total = events.count()
    val markerId = events.filter(col("event_id") % 4 === 2)
      .agg(min(col("event_id"))).as[Long].head()
    val base = new File(Scratch.dir(s"graft_staterec_$tag"))
    val srcDir = new File(base, "src"); assert(srcDir.mkdirs())
    val now = System.currentTimeMillis()
    (0 until 4).foreach { i =>
      writeSourceFile(events.filter(col("event_id") % 4 === i),
        new File(srcDir, s"f$i.parquet"), now - (40L - 10L * i) * 1000)
    }
    val chkDir = new File(base, "chk").toString

    val chaos = udf { (id: Long) =>
      if (ChaosSwitch.armed.get() && id == markerId)
        throw new RuntimeException("injected mid-stream crash")
      true
    }.asNondeterministic()
    // Complete-mode keyed aggregation: each micro-batch's contribution
    // lives ONLY in the state store once its batch commits — if recovery
    // dropped state, post-restart totals would be missing the pre-crash
    // files' events (FileStreamSource never re-reads committed files).
    def startQuery(name: String) = spark.readStream
      .schema(events.schema)
      .option("maxFilesPerTrigger", "1")
      .parquet(srcDir.toString)
      .filter(chaos(col("event_id")))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(round(col("value") * 100).cast(LongType)).as("cents"))
      .writeStream
      .format("memory").queryName(name)
      .option("checkpointLocation", chkDir)
      .outputMode(OutputMode.Complete())
      .trigger(Trigger.AvailableNow())
      .start()

    // ---- act 1: crash mid-stream after ≥1 committed batch ----
    ChaosSwitch.armed.set(true)
    try intercept[StreamingQueryException] { startQuery(s"staterec1_$tag").awaitTermination() }
    finally ChaosSwitch.armed.set(false)
    val committedBatches = Option(new File(chkDir, "commits").listFiles())
      .map(_.count(_.getName.forall(_.isDigit))).getOrElse(0)
    assert(committedBatches >= 1, "at least one batch must commit before the crash")
    assert(committedBatches < 4, "the crash must land before the last batch")

    // ---- act 2: restart from the checkpoint, run the rest ----
    val q2 = startQuery(s"staterec2_$tag")
    q2.awaitTermination()

    // ---- assert: the restart did NOT replay the committed files… ----
    val replayed = q2.recentProgress.map(_.numInputRows).sum
    assert(replayed < total,
      s"restart re-read the whole source ($replayed of $total rows) — " +
        "nothing would prove state recovery")
    // …yet the final totals cover ALL events, so the pre-crash files'
    // contribution came from the recovered state store
    val oracle = events
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(round(col("value") * 100).cast(LongType)).as("cents"))
      .as[(String, Long, Long)].collect().sortBy(_._1).toSeq
    val got = spark.table(s"staterec2_$tag")
      .as[(String, Long, Long)].collect().sortBy(_._1).toSeq
    assert(got == oracle, s"recovered state diverged:\n got=$got\n want=$oracle")
    events.unpersist()
  }

  test("s27 idempotent upsert survives a crash BETWEEN the store write and " +
      "the batch commit: the replay overwrites its own address, the store " +
      "holds one row set per (key, batch), reconstruction equals the oracle") {
    import spark.implicits._
    val events = Tables.events(spark, sf0001)
      .select(col("event_id"), col("event_type"), col("value")).cache()
    val base = new File(Scratch.dir("graft_upsert_spec"))
    val srcDir = new File(base, "src"); assert(srcDir.mkdirs())
    val now = System.currentTimeMillis()
    (0 until 4).foreach { i =>
      writeSourceFile(events.filter(col("event_id") % 4 === i),
        new File(srcDir, s"f$i.parquet"), now - (40L - 10L * i) * 1000)
    }
    val store = new File(base, "store").toString
    val ckpt = new File(base, "chk").toString
    // the WORST-CASE crash point: the external store write landed, the
    // checkpoint commit did not — exactly the window where a
    // non-idempotent sink double-counts on restart
    val crashAfterWrite = new java.util.concurrent.atomic.AtomicBoolean(false)
    def startQuery() = spark.readStream
      .schema(events.schema)
      .option("maxFilesPerTrigger", "1")
      .parquet(srcDir.toString)
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(round(col("value") * 100).cast(LongType)).as("cents"))
      .writeStream
      .outputMode(OutputMode.Update())
      .option("checkpointLocation", ckpt)
      .foreachBatch { (b: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], id: Long) =>
        b.write.mode("overwrite").parquet(s"$store/batch=$id")
        if (id == 2 && crashAfterWrite.compareAndSet(true, false))
          throw new RuntimeException("injected crash after store write, before commit")
        ()
      }
      .trigger(Trigger.AvailableNow())
      .start()
    crashAfterWrite.set(true)
    intercept[StreamingQueryException] { startQuery().awaitTermination() }
    assert(new File(store, "batch=2").exists,
      "the crash must land AFTER the store write — else the test is vacuous")
    val committed = Option(new File(ckpt, "commits").listFiles())
      .map(_.count(_.getName.forall(_.isDigit))).getOrElse(0)
    assert(committed <= 2, s"batch 2 must be uncommitted, saw $committed commits")
    startQuery().awaitTermination()
    // reconstruction == oracle: the replayed batch OVERWROTE batch=2
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("event_type").orderBy(col("batch").desc)
    val got = spark.read.parquet(store)
      .withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
      .select(col("event_type"), col("n"), col("cents"))
      .as[(String, Long, Long)].collect().sortBy(_._1).toSeq
    val oracle = events.groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(round(col("value") * 100).cast(LongType)).as("cents"))
      .as[(String, Long, Long)].collect().sortBy(_._1).toSeq
    assert(got == oracle, s"upsert store diverged after replay:\n got=$got\n want=$oracle")
    // addressing idempotence: no (key, batch) row exists twice
    val dup = spark.read.parquet(store).groupBy("event_type", "batch")
      .count().filter(col("count") > 1).count()
    assert(dup == 0, "a replayed batch appended beside itself instead of overwriting")
    events.unpersist()
  }

  test("s28 really chains TWO stateful operators in one streaming query: " +
      "progress reports two state operators, both hold state, and tier 2 " +
      "consumes the reduced tier-1 output, not raw events") {
    val dir = Scratch.dir("graft_chain_spec")
    val evAll = Tables.events(spark, sf001)
      .select(col("ts"), col("event_type"), col("value"))
    // files must arrive in TIME order (the crawl/ingest reality event-time
    // watermarks assume): a hash split would put most of each later file
    // behind the watermark and tier-1 would drop it as late — measured:
    // 382 scattered (hour, type) combos vanish under a random 3-way split
    val (tsLo, tsHi) = {
      val r = evAll.agg(min(unix_timestamp(col("ts"))),
        max(unix_timestamp(col("ts")))).head()
      (r.getLong(0), r.getLong(1) + 1)
    }
    val srcDir = new File(dir, "ev"); assert(srcDir.mkdirs())
    val now = System.currentTimeMillis()
    (0 until 3).foreach { i =>
      val lo = tsLo + (tsHi - tsLo) * i / 3
      val hi = tsLo + (tsHi - tsLo) * (i + 1) / 3
      writeSourceFile(evAll.filter(unix_timestamp(col("ts")) >= lo
        && unix_timestamp(col("ts")) < hi),
        new File(srcDir, s"f$i.parquet"), now - (40L - 10L * i) * 1000)
    }
    val src = spark.readStream
      .schema(evAll.schema)
      .option("maxFilesPerTrigger", "1")
      .parquet(srcDir.toString)
    val lvl1 = src.withWatermark("ts", "1 hour")
      .groupBy(window(col("ts"), "5 minutes"), col("event_type"))
      .agg(count(lit(1)).as("n"))
    val lvl2 = lvl1
      .groupBy(window(window_time(col("window")), "1 hour"), col("event_type"))
      .agg(sum(col("n")).as("n_events"))
    // chained stateful operators evict on the PREVIOUS batch's
    // watermark (the multi-stateful-operator correctness rule), so the
    // final increment stays in state until the watermark ADVANCES —
    // i.e., until later data arrives, exactly like production. Run 1
    // processes the corpus; then a single far-future "drain" row pushes
    // the watermark past every original hour and run 2 must flush ALL
    // of them (the drain row's own windows stay unreleased).
    def run() = {
      val q = lvl2
        .select(unix_timestamp(col("window.start")).as("h"),
          col("event_type"), col("n_events"))
        .writeStream.format("parquet").option("path", s"$dir/out")
        .option("checkpointLocation", s"$dir/ckpt")
        .outputMode(OutputMode.Append())
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination(); q
    }
    val q = run()
    val maxTs0 = evAll.agg(max(col("ts"))).head().getTimestamp(0)
    writeSourceFile(spark.createDataFrame(
        java.util.List.of(org.apache.spark.sql.Row(
          new java.sql.Timestamp(maxTs0.getTime + 4L * 3600 * 1000), "drain", 0.0)),
        evAll.schema),
      new File(srcDir, "f3_drain.parquet"), now)
    run()
    val withState = q.recentProgress.filter(_.stateOperators.nonEmpty)
    assert(withState.nonEmpty, "no progress carried state operators")
    val ops = withState.last.stateOperators
    assert(ops.length == 2,
      s"expected 2 chained state operators, saw ${ops.length}: " +
        ops.map(_.operatorName).mkString(", "))
    assert(ops.forall(_.numRowsTotal > 0), "both tiers must hold state")
    // after the drain, EVERY original (hour, type) combo has flushed —
    // the drain row's own windows are still ahead of the watermark
    val emitted = spark.read.parquet(s"$dir/out").count()
    assert(emitted > 0, "watermark never released an hour window — vacuous")
    val expected = evAll
      .select((floor(unix_timestamp(col("ts")) / 3600) * 3600).as("h"), col("event_type"))
      .distinct().count()
    assert(emitted == expected,
      s"tier-2 emitted $emitted rows, batch expects $expected (hour, type) combos")
  }

  test("heavy dedup pipelines are partition-count invariant: the same " +
    "corpus under a different cluster shape (shuffle partitions) yields " +
    "byte-identical results — the determinism retry/speculation at fleet " +
    "scale requires") {
    // d08 (LSH + connected components), d15 (verified dedup), d22
    // (exact-substring): the three pipelines whose shuffles, window
    // ranks and star-contraction loops would surface any order- or
    // placement-dependence. All outputs are integer/string columns with
    // a total ORDER BY, so row-sequence equality is exact.
    for (nm <- Seq("d08_dedup_groups", "d15_verified_dedup_groups",
        "d22_exact_substring")) {
      val runs = Seq("4", "7").map { parts =>
        spark.conf.set("spark.sql.shuffle.partitions", parts)
        try SparkEntry.queries(nm)(spark, sf0001).collect().toSeq
        finally spark.conf.set("spark.sql.shuffle.partitions", "4")
      }
      assert(runs(0) == runs(1),
        s"$nm output depends on the shuffle partition count")
      assert(runs(0).nonEmpty, s"$nm trivially empty at sf0.001")
    }
  }

  test("s22-shape streaming sketch state is bounded by KEY CARDINALITY, " +
      "not events processed: numRowsTotal == #keys and flat across batches") {
    import org.apache.spark.sql.streaming.{OutputMode, Trigger}
    import spark.implicits._
    val dir = Scratch.dir("graft_statebound")
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.read.parquet(s"$sf001/events.parquet")
      .select(col("event_type"), col("user_id"), col("props"))
      .repartition(3).write.mode("overwrite").parquet(s"$dir/ev")
    val nKeys = spark.read.parquet(s"$dir/ev")
      .select(col("event_type")).distinct().count()
    val nEvents = spark.read.parquet(s"$dir/ev").count()
    assert(nEvents > 10 * nKeys, "fixture must have many events per key")
    val contentMd5 = md5(concat(col("user_id").cast("string"), lit("|"), col("props")))
    val hv = array(struct(
      conv(substring(contentMd5, 1, 8), 16, 10).cast("long").as("h1"),
      conv(substring(contentMd5, 9, 8), 16, 10).cast("long").as("h2")))
    val src = spark.readStream
      .schema(spark.read.parquet(s"$dir/ev").schema)
      .option("maxFilesPerTrigger", "1")
      .parquet(s"$dir/ev")
    val q = src.select(col("event_type"), hv.as("hv"))
      .groupBy(col("event_type"))
      .agg(graft.functions.CmsSketch.cms_sketch(col("hv"), 2, 64).as("sk"))
      .writeStream
      .format("memory").queryName("statebound_cms")
      .outputMode(OutputMode.Complete())
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    val dataBatches = q.recentProgress.filter(_.numInputRows > 0)
    assert(dataBatches.length >= 3,
      s"expected ≥3 data micro-batches, saw ${dataBatches.length}")
    // the bound, as a fact per batch: state rows never exceed key
    // cardinality even while input rows keep arriving, and land exactly
    // on it — state is keys × (depth·width longs), NOT a function of
    // stream length
    dataBatches.foreach { p =>
      val st = p.stateOperators
      assert(st.nonEmpty, "aggregation must report a state operator")
      assert(st.head.numRowsTotal <= nKeys,
        s"state rows ${st.head.numRowsTotal} exceed key cardinality $nKeys " +
          s"at batch ${p.batchId}")
    }
    assert(dataBatches.last.stateOperators.head.numRowsTotal == nKeys,
      "final state rows must equal key cardinality exactly")
    // flatness: once every key has been seen, later batches add input
    // rows but ZERO state rows
    val rowsSeq = dataBatches.map(_.stateOperators.head.numRowsTotal).toSeq
    assert(rowsSeq.takeRight(2).distinct.size == 1,
      s"state rows still growing in the final batches: $rowsSeq")
    // and the per-key payload is the fixed sketch, no history: total
    // state memory stays under keys × a generous per-key envelope
    // (2×64 longs = 1 KiB payload; 64 KiB covers store overhead)
    val mem = dataBatches.last.stateOperators.head.memoryUsedBytes
    assert(mem < nKeys * 65536,
      s"state memory $mem implausibly large for $nKeys fixed-size sketches")
  }

  test("s16-shape stored-index ingest carries ZERO streaming state: all " +
      "dedup state lives in the constant-size band index table") {
    import org.apache.spark.sql.streaming.{OutputMode, Trigger}
    import graft.ops.Dedup
    val docs = Tables.documents(spark, sf0001)
    val corpus = docs.filter(col("doc_id") % 11 =!= 5)
    val (corpusBuckets, _) = Dedup.lshBucketsAndShingles(
      corpus, "doc_id", "text", shingleWords = 3, bands = 4, rowsPerBand = 2)
    Dedup.writeBandIndex(spark, corpusBuckets, "graft_band_index_sb")
    val indexRowsBefore = spark.table("graft_band_index_sb").count()
    val dir = Scratch.dir("graft_statebound16")
    docs.filter(col("doc_id") % 11 === 5)
      .repartition(3).write.mode("overwrite").parquet(s"$dir/arrivals")
    val src = spark.readStream
      .schema(docs.schema)
      .option("maxFilesPerTrigger", "1")
      .parquet(s"$dir/arrivals")
    var probed = 0L
    val q = src.writeStream
      .outputMode(OutputMode.Append())
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
        val (bBuckets, _) = Dedup.lshBucketsAndShingles(
          batch.toDF(), "doc_id", "text", shingleWords = 3, bands = 4, rowsPerBand = 2)
        probed += Dedup.probeBandIndex(spark, "graft_band_index_sb", bBuckets).count()
      }
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    val dataBatches = q.recentProgress.filter(_.numInputRows > 0)
    assert(dataBatches.length >= 3,
      s"expected ≥3 data micro-batches, saw ${dataBatches.length}")
    // the production ingest loop's state story, as facts: the streaming
    // query itself is STATELESS (nothing accumulates with stream length)…
    dataBatches.foreach { p =>
      assert(p.stateOperators.isEmpty ||
        p.stateOperators.forall(_.numRowsTotal == 0),
        s"ingest loop leaked streaming state at batch ${p.batchId}")
    }
    // …and the stored index the batches probe is read-only and constant
    assert(spark.table("graft_band_index_sb").count() == indexRowsBefore,
      "band index must not grow during ingest")
    assert(probed >= 0L) // the probes ran (count forced each batch plan)
  }

  test("pageRank driver fast path and distributed loop are bit-identical " +
      "on the same pair graph") {
    import spark.implicits._
    // a graph with structure the ranks actually distinguish: two chained
    // triangles, a star, a pendant, and an isolated pair
    val pairs = Seq(
      (1L, 2L), (2L, 3L), (1L, 3L),      // triangle
      (3L, 4L), (4L, 5L), (5L, 6L), (4L, 6L), // bridge + triangle
      (7L, 1L), (8L, 1L), (9L, 1L),      // star on 1
      (6L, 10L),                          // pendant
      (11L, 12L))                         // isolated pair
      .toDF("id_a", "id_b")
    val fast = graft.ops.Dedup.pageRank(pairs, iters = 3)
      .orderBy("doc_id").collect().toSeq
    // driverThreshold=0 forces the Pregel-as-joins path on the same input
    val dist = graft.ops.Dedup.pageRank(pairs, iters = 3, driverThreshold = 0L)
      .orderBy("doc_id").collect().toSeq
    assert(fast == dist,
      s"integer fixed-point paths must agree exactly:\n fast=$fast\n dist=$dist")
    // sanity on semantics, not just agreement: the star hub outranks its leaves
    val rank = fast.map(r => r.getLong(0) -> r.getLong(2)).toMap
    assert(rank(1L) > rank(7L))
  }

  test("session-6 ops are partition-count invariant (t48 lexical diversity, " +
      "d51 snapshot delta, src12 XML round-trip, q74 XML scalars)") {
    for (nm <- Seq("t48_lexical_diversity", "d51_snapshot_delta",
        "src12_xml_roundtrip", "q74_xml_funcs")) {
      val runs = Seq("4", "7").map { parts =>
        spark.conf.set("spark.sql.shuffle.partitions", parts)
        try SparkEntry.queries(nm)(spark, sf0001).collect().toSeq
        finally spark.conf.set("spark.sql.shuffle.partitions", "4")
      }
      assert(runs(0) == runs(1),
        s"$nm output depends on the shuffle partition count")
      assert(runs(0).nonEmpty, s"$nm trivially empty at sf0.001")
    }
  }

  test("XML round-trip is lossless under markup-hostile content: <, >, &, " +
      "quotes and newlines survive to_xml → from_xml and the file sink → scan") {
    import spark.implicits._
    import org.apache.spark.sql.types._
    val hostile = Seq(
      (1L, """a < b && c > "d" 'quote'"""),
      (2L, "line1\nline2\tend"),
      (3L, "]]> <tag attr=\"x\"/> &amp; already-escaped"),
      (4L, "plain")).toDF("id", "payload")
    val sch = StructType(Seq(StructField("id", LongType),
      StructField("payload", StringType)))
    // scalar round-trip
    val back1 = hostile
      .select(to_xml(struct(col("id"), col("payload"))).as("x"))
      .select(from_xml(col("x"), sch).as("r")).select("r.*")
      .as[(Long, String)].collect().sortBy(_._1).toSeq
    assert(back1 == hostile.as[(Long, String)].collect().sortBy(_._1).toSeq,
      "to_xml → from_xml mangled hostile content")
    // file round-trip
    val dir = Scratch.dir("graft_xml_hostile")
    hostile.write.mode("overwrite").option("rowTag", "r").format("xml")
      .save(s"$dir/h")
    val back2 = spark.read.schema(sch).option("rowTag", "r").format("xml")
      .load(s"$dir/h")
      .as[(Long, String)].collect().sortBy(_._1).toSeq
    assert(back2 == hostile.as[(Long, String)].collect().sortBy(_._1).toSeq,
      "XML sink → scan mangled hostile content")
  }

  test("s26's claim holds: streaming aggregation state is HASH-DISTRIBUTED " +
      "across state stores (multiple partition_ids, one store row per key)") {
    import spark.implicits._
    val dir = Scratch.dir("graft_ss_spec")
    // 26 keys through a 4-partition stateful agg — keys must spread
    spark.range(0, 2600)
      .select((col("id") % 26).cast("long").as("k"), col("id").as("v"))
      .write.mode("overwrite").parquet(s"$dir/in")
    val ckpt = s"$dir/ckpt"
    val st = spark.readStream
      .schema(org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("k", LongType),
        org.apache.spark.sql.types.StructField("v", LongType))))
      .parquet(s"$dir/in")
      .groupBy("k").agg(count(lit(1)).as("n"), sum(col("v")).as("s"))
    val q = st.writeStream.format("memory").queryName("ss_spec_mem")
      .outputMode(OutputMode.Complete())
      .option("checkpointLocation", ckpt)
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    val state = spark.read.format("statestore").option("path", ckpt).load()
      .select(col("key.k").as("k"), col("value.count").as("n"),
        col("partition_id"))
      .as[(Long, Long, Int)].collect().toSeq
    assert(state.map(_._1).distinct.size == 26, "one state row per key")
    assert(state.size == 26, "no duplicate state rows")
    assert(state.map(_._3).distinct.size > 1,
      "state concentrated in one store — not hash-distributed")
    assert(state.forall(_._2 == 100L), "state buffer count drifted")
  }

  test("session-6 batch-2 ops are partition-count invariant (q75 join " +
      "pre-flight, t49 gate agreement, m10 perceptual-hash dedup, q76 " +
      "interval join, d52 cluster quality)") {
    for (nm <- Seq("q75_join_preflight", "t49_gate_agreement",
        "m10_perceptual_hash_dedup", "q76_interval_join", "d52_cluster_quality",
        "x14_dsv2_source", "x15_dsv2_sink", "d53_index_update",
        "t50_unicode_normalize", "s27_stream_idempotent_upsert",
        "d54_prefix_filter_join", "d55_lsh_recall", "t51_langid_eval",
        "t52_mutation_sensitivity", "src13_file_metadata",
        "q77_dynamic_gap_sessions", "x17_dsv2_agg_pushdown")) {
      val runs = Seq("4", "7").map { parts =>
        spark.conf.set("spark.sql.shuffle.partitions", parts)
        try SparkEntry.queries(nm)(spark, sf0001).collect().toSeq
        finally spark.conf.set("spark.sql.shuffle.partitions", "4")
      }
      assert(runs(0) == runs(1),
        s"$nm output depends on the shuffle partition count")
      assert(runs(0).nonEmpty, s"$nm trivially empty at sf0.001")
    }
  }

  test("q75's pre-flight prediction is EXACT: the costed join, when " +
      "actually executed, produces precisely exact_join_rows rows") {
    val row = SparkEntry.queries("q75_join_preflight")(spark, sf0001).head()
    val predicted = row.getAs[Long]("exact_join_rows")
    val actual = Tables.events(spark, sf0001)
      .join(Tables.orders(spark, sf0001),
        col("user_id") === col("o_custkey")).count()
    assert(predicted == actual, s"pre-flight said $predicted, join made $actual")
    assert(row.getAs[Boolean]("hll_a_ok") && row.getAs[Boolean]("hll_b_ok"))
    // the skew signal is a valid share: heaviest key ≤ total
    assert(row.getAs[Long]("top_key_share_micro") <= 1000000L)
  }

  test("t49 kappa is well-formed: confusion cells partition each source, " +
      "kappa ∈ [-1, 1], and it is BELOW raw agreement wherever chance " +
      "agreement is nonzero (the whole point of the correction)") {
    val rows = SparkEntry.queries("t49_gate_agreement")(spark, sf001).collect()
    assert(rows.nonEmpty)
    for (r <- rows) {
      val (n, n11, n10, n01, n00) = (r.getAs[Long]("n"), r.getAs[Long]("n11"),
        r.getAs[Long]("n10"), r.getAs[Long]("n01"), r.getAs[Long]("n00"))
      assert(n11 + n10 + n01 + n00 == n, s"confusion cells don't sum: $r")
      val kappa = r.getAs[Double]("kappa")
      assert(kappa >= -1.0 && kappa <= 1.0, s"kappa out of range: $r")
      if (n11 != n && n00 != n)
        assert(kappa <= r.getAs[Double]("po") + 1e-9,
          s"kappa must not exceed raw agreement: $r")
    }
  }

  test("m10 detects re-uploads and trims at low hamming, rejects content " +
      "scrambles, and never shuffles a payload byte") {
    val df = SparkEntry.queries("m10_perceptual_hash_dedup")(spark, sf0001)
    val rows = df.collect()
    val byVariant = rows.groupBy(_.getString(0))
    assert(byVariant.contains("reup"), "appended-metadata re-uploads missed")
    assert(byVariant.contains("trim"), "tail trims missed")
    val scramblePairs = byVariant.get("scramble").map(_.map(_.getAs[Long]("n_pairs")).sum).getOrElse(0L)
    val nearPairs = rows.map(_.getAs[Long]("n_pairs")).sum
    assert(scramblePairs * 10 <= nearPairs,
      s"scrambles ($scramblePairs of $nearPairs pairs) flooding the τ gate")
    // recall floor: 1 in 5 docs has a planted re-upload; at least 80% of
    // those self-pairs must surface through banding + the τ gate
    val nDocs = Tables.documents(spark, sf0001).count()
    val reupPairs = byVariant("reup").map(_.getAs[Long]("n_pairs")).sum
    assert(reupPairs * 5 >= nDocs * 8 / 10,
      s"re-upload recall too low: $reupPairs pairs for $nDocs docs")
    // plan hygiene: payload/text never crosses an exchange — only ids,
    // band keys, and the packed signature ints
    import org.apache.spark.sql.classic.ClassicConversions.castToImpl
    def nodes(p: org.apache.spark.sql.execution.SparkPlan): Seq[org.apache.spark.sql.execution.SparkPlan] =
      p +: (p.children ++ (p match {
        case ad: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec => Seq(ad.executedPlan)
        case q: org.apache.spark.sql.execution.adaptive.QueryStageExec => Seq(q.plan)
        case _ => Nil
      })).flatMap(nodes)
    val ex = nodes(castToImpl(df).queryExecution.executedPlan).collect {
      case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => e
    }
    assert(ex.nonEmpty)
    assert(ex.forall(e => !e.child.schema.fieldNames.exists(n =>
      n == "payload" || n == "text" || n == "hx")),
      "a shuffle carries media payload bytes")
  }

  test("q76 grid-bucketized interval join equals the naive theta join " +
      "exactly and plans as an EQUI join — no cartesian/nested-loop node") {
    val df = SparkEntry.queries("q76_interval_join")(spark, sf001)
    val fast = df.collect().toSeq
    // naive formulation: the O(n·m) theta join Spark would have to
    // nested-loop — same answer, catastrophically different plan
    val ev = Tables.events(spark, sf001)
      .select(col("user_id"), col("event_id"), unix_micros(col("ts")).as("us"))
    val a = ev.groupBy(col("user_id"), expr("us div 86400000000").as("d"))
      .agg(min("us").as("s_us"), max("us").as("e_us"))
    val b = ev.filter(col("event_id") % 199 === 0)
      .select(col("event_id").as("cid"), col("us").as("b_s"),
        (col("us") + 129600000000L).as("b_e"))
    val naive = a.join(b, col("s_us") <= col("b_e") && col("b_s") <= col("e_us"))
      .groupBy("cid")
      .agg(count(lit(1)).as("n_sessions"),
        countDistinct(col("user_id")).as("n_users"), min(col("d")).as("first_day"))
      .orderBy("cid").collect().toSeq
    assert(fast == naive, "bucketized interval join diverges from the theta join")
    import org.apache.spark.sql.classic.ClassicConversions.castToImpl
    def nodes(p: org.apache.spark.sql.execution.SparkPlan): Seq[org.apache.spark.sql.execution.SparkPlan] =
      p +: (p.children ++ (p match {
        case ad: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec => Seq(ad.executedPlan)
        case q: org.apache.spark.sql.execution.adaptive.QueryStageExec => Seq(q.plan)
        case _ => Nil
      })).flatMap(nodes)
    val all = nodes(castToImpl(df).queryExecution.executedPlan)
    assert(!all.exists(p =>
      p.isInstanceOf[org.apache.spark.sql.execution.joins.CartesianProductExec] ||
      p.isInstanceOf[org.apache.spark.sql.execution.joins.BroadcastNestedLoopJoinExec]),
      "interval join fell back to a cartesian/nested-loop plan")
  }

  test("x14 DSv2 connector: pushed doc_id filters narrow PARTITION " +
      "PLANNING, column pruning reaches the reader's schema, and the " +
      "non-pushable predicate stays a Spark-side filter") {
    import org.apache.spark.sql.classic.ClassicConversions.castToImpl
    def nodes(p: org.apache.spark.sql.execution.SparkPlan): Seq[org.apache.spark.sql.execution.SparkPlan] =
      p +: (p.children ++ (p match {
        case ad: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec => Seq(ad.executedPlan)
        case q: org.apache.spark.sql.execution.adaptive.QueryStageExec => Seq(q.plan)
        case _ => Nil
      })).flatMap(nodes)
    def scansOf(df: org.apache.spark.sql.DataFrame) = {
      df.collect()
      nodes(castToImpl(df).queryExecution.executedPlan).collect {
        case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec => b
      }
    }
    val base = spark.read.format("graft-range-docs")
      .option("rows", "100000").option("partitions", "16").load()
    // point lookup: EqualTo pushes down, the planner sees range [42, 43)
    // and plans exactly ONE partition of the 16
    val point = base.filter(col("doc_id") === 42L)
    assert(point.rdd.getNumPartitions == 1,
      "pushed point lookup must plan a single partition")
    assert(point.collect().map(_.getLong(0)).toSeq == Seq(42L))
    // narrowed range: 8 rows left → min(16, 8) partitions
    val narrow = base.filter(col("doc_id") < 8L)
    assert(narrow.rdd.getNumPartitions == 8)
    assert(narrow.count() == 8)
    // column pruning reaches the reader factory via readSchema
    val sel = base.select("n_chars")
    val selScans = scansOf(sel)
    assert(selScans.nonEmpty)
    assert(selScans.head.scan.readSchema().fieldNames.toSeq == Seq("n_chars"),
      s"reader materializes ${selScans.head.scan.readSchema().fieldNames.toSeq}")
    // split enforcement: doc_id >= 10 is evaluated INSIDE the source
    // (visible in the scan's planned range), quality stays outside
    val mixed = base.filter(col("doc_id") >= 10L && col("quality") === 7L)
    val mixedScans = scansOf(mixed)
    assert(mixedScans.head.scan.description().contains("[10, 100000)"),
      s"scan did not narrow: ${mixedScans.head.scan.description()}")
    val post = nodes(castToImpl(mixed).queryExecution.executedPlan).collect {
      case f: org.apache.spark.sql.execution.FilterExec => f.condition.toString
    }
    assert(post.exists(_.contains("quality")),
      "non-pushable quality predicate must remain a Spark-side FilterExec")
    assert(!post.exists(_.contains("doc_id")),
      "pushed doc_id range must NOT be re-evaluated post-scan")
  }

  test("x15 manifest sink publishes ONLY committed attempts: a planted " +
      "hard-crash staging file is invisible to readers, and overwrite " +
      "swaps the manifest atomically and collects stale staging files") {
    val dir = Scratch.dir("graft_sink_spec")
    spark.range(0, 100)
      .select(col("id").as("k"), concat(lit("v"), col("id")).as("v"))
      .write.format("graft-manifest-sink").option("path", dir)
      .mode("overwrite").save()
    val files1 = graft.sources.ManifestSink.committedFiles(dir)
    assert(files1.nonEmpty)
    // hard-crash residue: a staging file whose attempt never committed
    // (abort() couldn't run — the JVM died); readers trust the manifest
    val orphan = new java.io.File(dir, "stage-9-999-deadbeef.tsv")
    java.nio.file.Files.writeString(orphan.toPath, "424242\tghost\n")
    def readBack() = spark.read.schema("k LONG, v STRING").option("sep", "\t")
      .csv(graft.sources.ManifestSink.committedFiles(dir): _*)
    assert(readBack().count() == 100)
    assert(readBack().filter(col("k") === 424242L).count() == 0,
      "uncommitted staging file leaked into the read path")
    // overwrite: truncate + rewrite. GC is JOB-SCOPED: the commit
    // collects the replaced manifest's now-invisible files and its own
    // uncommitted attempts, but must NOT delete a foreign job's staging
    // file (the orphan's prefix belongs to no manifest and not to this
    // job — under concurrency it could be another writer's in-flight
    // data; deleting it would fail that writer's commit).
    spark.range(0, 7).select(col("id").as("k"), lit("w").as("v"))
      .write.format("graft-manifest-sink").option("path", dir)
      .mode("overwrite").save()
    assert(readBack().count() == 7)
    val onDisk = new java.io.File(dir).listFiles().map(_.getName).toSet
    val published = graft.sources.ManifestSink.committedFiles(dir)
      .map(f => new java.io.File(f).getName).toSet
    val gen1Names = files1.map(f => new java.io.File(f).getName).toSet
    assert(gen1Names.intersect(onDisk).isEmpty,
      s"replaced manifest's files survived the overwrite: ${gen1Names.intersect(onDisk)}")
    assert(onDisk.contains(orphan.getName),
      "foreign-job staging file was clobbered by another job's commit")
    assert(onDisk == published + graft.sources.ManifestSink.ManifestName + orphan.getName,
      s"unexpected residue: ${onDisk -- published - orphan.getName}")
    // the surviving foreign file is still invisible to readers
    assert(readBack().filter(col("k") === 424242L).count() == 0)
  }

  test("d53 index maintenance: probing the APPENDED index is byte-identical " +
      "to probing a full rebuild, and the appended layout still reads " +
      "exchange-free under a forced shuffled join") {
    import org.apache.spark.sql.classic.ClassicConversions.castToImpl
    val docs = Tables.documents(spark, sf0001)
    val (buckets, _) = ops.Dedup.lshBucketsAndShingles(
      docs, "doc_id", "text", shingleWords = 3, bands = 4, rowsPerBand = 2)
    val isW1 = col("id") % 7 === 3
    val isW2 = col("id") % 7 === 5
    ops.Dedup.writeBandIndex(spark, buckets.filter(!isW1 && !isW2), "graft_idx_upd_spec")
    ops.Dedup.appendBandIndex(spark, buckets.filter(isW1), "graft_idx_upd_spec")
    ops.Dedup.writeBandIndex(spark, buckets.filter(!isW2), "graft_idx_rebuild_spec")
    val probeIn = buckets.filter(isW2)
    val viaUpdate = ops.Dedup.probeBandIndex(spark, "graft_idx_upd_spec", probeIn)
      .orderBy("id_a", "id_b").collect().toSeq
    val viaRebuild = ops.Dedup.probeBandIndex(spark, "graft_idx_rebuild_spec", probeIn)
      .orderBy("id_a", "id_b").collect().toSeq
    assert(viaUpdate.nonEmpty, "probe found no candidates — vacuous")
    assert(viaUpdate == viaRebuild, "append-maintained index diverged from rebuild")
    // wave-1 entries must be live in the updated index (the append is
    // not a no-op): some candidate pairs point INTO the appended batch
    assert(viaUpdate.exists(r => r.getLong(1) % 7 == 3),
      "no candidate hits the appended wave — append ineffective")
    // plan: with broadcast disabled, the updated table's bucketed layout
    // still satisfies the join distribution — index side exchange-free
    val saved = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val cand = ops.Dedup.probeBandIndex(spark, "graft_idx_upd_spec", probeIn)
      cand.collect()
      def nodes(p: org.apache.spark.sql.execution.SparkPlan): Seq[org.apache.spark.sql.execution.SparkPlan] =
        p +: (p.children ++ (p match {
          case ad: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec => Seq(ad.executedPlan)
          case q: org.apache.spark.sql.execution.adaptive.QueryStageExec => Seq(q.plan)
          case _ => Nil
        })).flatMap(nodes)
      val plan = castToImpl(cand).queryExecution.executedPlan
      val join = nodes(plan).collectFirst {
        case j: org.apache.spark.sql.execution.joins.SortMergeJoinExec => j
        case j: org.apache.spark.sql.execution.joins.ShuffledHashJoinExec => j
      }
      assert(join.isDefined, s"expected a shuffled join against the index:\n$plan")
      val indexSide = join.get.children.filter(c =>
        nodes(c).exists(_.toString.contains("graft_idx_upd_spec")))
      assert(indexSide.size == 1, s"index scan not under the probe join:\n$plan")
      assert(nodes(indexSide.head).collect {
        case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => e
      }.isEmpty, "the appended index side got re-shuffled")
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", saved)
  }

  test("x16 unicode expressions: composition facts hold, NFC is idempotent, " +
      "strip_accents is encoding-invariant, nulls propagate, and the SQL " +
      "registry path evaluates inside a plan") {
    import spark.implicits._
    val decomposed = "cafe\u0301"   // e + combining acute (5 cps)
    val precomposed = "caf\u00e9"   // precomposed e-acute (4 cps)
    val rows = Seq(decomposed, precomposed, "plain", "ligature ﬁ stays", "")
      .toDF("s")
      .select(col("s"), expr("nfc_normalize(s)").as("n"),
        expr("strip_accents(s)").as("st"),
        expr("nfc_normalize(nfc_normalize(s))").as("nn"))
      .collect()
    val byIn = rows.map(r => r.getString(0) -> r).toMap
    assert(byIn(decomposed).getString(1) == precomposed,
      "NFC must compose e + U+0301 into U+00E9")
    assert(byIn(precomposed).getString(1) == precomposed, "NFC must fix precomposed input")
    assert(rows.forall(r => r.getString(1) == r.getString(3)), "NFC must be idempotent")
    assert(byIn(decomposed).getString(2) == "cafe" && byIn(precomposed).getString(2) == "cafe",
      "strip_accents must be invariant to the input's encoding")
    // NFC is CANONICAL composition: the U+FB01 ligature is a
    // COMPATIBILITY equivalence and must survive untouched
    assert(byIn("ligature ﬁ stays").getString(1) == "ligature ﬁ stays")
    assert(byIn("").getString(1) == "" && byIn("").getString(2) == "")
    val nulls = Seq[Option[String]](None).toDF("s")
      .select(expr("nfc_normalize(s)"), expr("strip_accents(s)")).head()
    assert(nulls.isNullAt(0) && nulls.isNullAt(1), "null must propagate")
    // pure-SQL path (FunctionRegistry): count the planted non-NFC docs
    val viaSql = spark.sql(
      "SELECT count(*) FROM (SELECT 'cafe\u0301' AS s) WHERE s <> nfc_normalize(s)")
      .head().getLong(0)
    assert(viaSql == 1L)
  }

  test("d54 prefix filtering is COMPLETE and actually prunes: the " +
      "prefix-join result equals the brute-force all-pairs result, and " +
      "the prefix stream is a strict subset of the full shingle stream") {
    val out = SparkEntry.queries("d54_prefix_filter_join")(spark, sf0001)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    assert(out.nonEmpty, "no qualifying pairs at sf0.001 — vacuous")
    // brute force in-engine: every intersecting pair, exact Jaccard
    val docs = Tables.documents(spark, sf0001)
    val sh = docs
      .select(col("doc_id").as("id"), split(col("text"), " ").as("ws"))
      .select(col("id"), explode(expr(
        "transform(sequence(1, greatest(size(ws) - 2, 1)), " +
          "i -> concat_ws(' ', element_at(ws, i), element_at(ws, i + 1), element_at(ws, i + 2)))"))
        .as("g"))
      .select(col("id"),
        (expr("cast(conv(substring(md5(g), 1, 8), 16, 10) as long)") * 134217728L
          + expr("cast(conv(substring(md5(g), 9, 8), 16, 10) as long)") % 134217728L).as("h"))
      .distinct()
    val sz = sh.groupBy("id").agg(count(lit(1)).as("n"))
    val brute = sh.as("a").join(sh.as("b"),
        col("a.h") === col("b.h") && col("a.id") < col("b.id"))
      .groupBy(col("a.id").as("id_a"), col("b.id").as("id_b"))
      .agg(count(lit(1)).as("ni"))
      .join(sz.select(col("id").as("id_a"), col("n").as("na")), "id_a")
      .join(sz.select(col("id").as("id_b"), col("n").as("nb")), "id_b")
      .withColumn("jac", col("ni") * lit(1.0) / (col("na") + col("nb") - col("ni")))
      .filter(col("jac") >= 0.5)
      .select(col("id_a"), col("id_b"),
        round(col("jac") * 1000000).cast(LongType).as("jac_micro"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    assert(out.sorted == brute.sorted,
      s"prefix filter missed pairs: got ${out.size}, brute ${brute.size}")
    // the filter must be doing work: at τ=0.5 the prefix keeps ~half of
    // each set — if it kept everything, this would be the brute join
    val full = sh.count()
    val kept = {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("id").orderBy(col("cnt").asc, col("h").asc)
      val wn = org.apache.spark.sql.expressions.Window.partitionBy("id")
      sh.join(sh.groupBy("h").agg(count(lit(1)).as("cnt")), "h")
        .withColumn("rk", row_number().over(w))
        .withColumn("n", count(lit(1)).over(wn))
        .filter(col("rk") <= col("n") - ceil(lit(0.5) * col("n")) + 1)
        .count()
    }
    assert(kept * 3 < full * 2, s"prefix kept $kept of $full shingle rows — not pruning")
  }

  test("d55 recall accounting is airtight: approx ⊆ exact, and every " +
      "missed pair genuinely collides in NO band — the loss is the " +
      "banding's, not a verification bug") {
    val row = SparkEntry.queries("d55_lsh_recall")(spark, sf001).head()
    val (nE, nA, nH) = (row.getAs[Long]("n_exact"), row.getAs[Long]("n_approx"),
      row.getAs[Long]("n_hit"))
    assert(nE > 0, "no ground-truth pairs — vacuous")
    assert(nH == nA, "approx must be a subset of exact (same τ, same sets)")
    assert(nA <= nE && row.getAs[Long]("recall_micro") <= 1000000L)
    // root-cause every miss: recompute both sides, diff, and check the
    // missed pairs' band keys are disjoint (pure recall loss)
    val docs = Tables.documents(spark, sf001)
    val (buckets, shingles) = ops.Dedup.lshBucketsAndShingles(
      docs, "doc_id", "text", shingleWords = 3, bands = 4, rowsPerBand = 2)
    val approx = ops.Dedup.jaccardVerifiedPairs(
      ops.Dedup.candidatePairs(buckets, materialize = false), shingles, tau = 0.5)
      .select(col("id_a"), col("id_b"))
    val exact = ops.Dedup.prefixFilterPairs(spark, sf001, tau = 0.5)
      .select(col("id_a"), col("id_b"))
    val missed = exact.join(approx, Seq("id_a", "id_b"), "left_anti").collect()
    assert(missed.length == (nE - nA), "diff disagrees with the census")
    val bk = buckets.collect()
      .groupBy(_.getLong(0)).view
      .mapValues(_.map(r => (r.getAs[Int]("band"), r.getAs[String]("band_key"))).toSet)
      .toMap
    missed.foreach { m =>
      val (a, b) = (m.getLong(0), m.getLong(1))
      assert(bk(a).intersect(bk(b)).isEmpty,
        s"pair ($a,$b) shares a band bucket yet was not scored — a candidate bug, not recall")
    }
  }

  test("t51 lang-id eval identities hold: hits bounded by both censuses, " +
      "micro-F1 equals its closed form, the corpus is fully accounted, " +
      "and the planted capability audit separates languages perfectly") {
    val all = SparkEntry.queries("t51_langid_eval")(spark, sf001).collect()
    val rows = all.filter(_.getAs[String]("audit") == "fixture")
    val n = Tables.documents(spark, sf001).count()
    assert(rows.map(_.getAs[Long]("n_true")).sum == n, "declared census lost docs")
    for (r <- all) {
      val (nt, np, nh) = (r.getAs[Long]("n_true"), r.getAs[Long]("n_pred"),
        r.getAs[Long]("n_hit"))
      assert(nh <= math.min(nt, np max nh), s"hits exceed a census: $r")
      assert(nh <= nt && (np == 0 || nh <= np))
      val f1 = r.getAs[Long]("f1_micro")
      assert(f1 == math.round(2000000.0 * nh / (nt + np)), s"F1 identity broken: $r")
    }
    // the audit's finding on this fixture (vocabulary carries only the
    // English stopwords): exactly one language is ever predicted
    assert(rows.count(_.getAs[Long]("n_pred") > 0) == 1,
      "fixture verdict drifted — re-derive the docstring's numbers")
    // planted capability rows: every supported language separates
    // perfectly where the text carries signal — the Latin four via the
    // production stopword table, and since v3 zh via the char-bigram
    // route (RoundElevenSpec pins the v3-specific claims: the planted zh
    // phrase is provably invisible to both token routes)
    val planted = all.filter(_.getAs[String]("audit") == "planted")
      .map(r => r.getAs[String]("lang") -> r.getAs[Long]("f1_micro")).toMap
    for (l <- Seq("en", "es", "de", "fr", "zh"))
      assert(planted(l) == 1000000L, s"planted $l F1 not 1.0: ${planted(l)}")
  }

  test("t52 mutation curve matches first-principles theory: periodic " +
      "replacement every s-th token leaves (s-3)/s of 3-gram windows " +
      "intact, so jaccard ≈ surv/(2-surv) — measured within 0.08 at " +
      "every mutation rate, and the τ gate flips between 20% and 10%") {
    val rows = SparkEntry.queries("t52_mutation_sensitivity")(spark, sf001)
      .collect().map(r => r.getAs[Long]("step") ->
        ((r.getAs[Long]("sum_jac_micro").toDouble / r.getAs[Long]("n_docs") / 1e6),
          r.getAs[Long]("n_detected"), r.getAs[Long]("n_docs"))).toMap
    assert(rows.keySet == Set(2L, 5L, 10L, 25L))
    for ((step, (avgJac, _, _)) <- rows) {
      val surv = math.max(0.0, (step - 3.0) / step)
      val theory = surv / (2.0 - surv)
      assert(math.abs(avgJac - theory) < 0.08,
        s"step $step: measured $avgJac vs theory $theory")
    }
    // the operating boundary: 10% mutation stays above τ=0.5, 20% falls
    assert(rows(10L)._2 == rows(10L)._3, "10% mutation must all detect")
    assert(rows(25L)._2 == rows(25L)._3, "4% mutation must all detect")
    assert(rows(5L)._2 == 0L, "20% mutation must all fall below τ")
    assert(rows(2L)._2 == 0L, "50% mutation must all fall below τ")
    // monotone in step (milder mutation → higher similarity)
    val byStep = rows.toSeq.sortBy(_._1).map(_._2._1)
    assert(byStep.zip(byStep.tail).forall { case (a, b) => a < b })
  }

  test("src13's layout invariant holds: repartition+partitionBy yields " +
      "exactly one physical file per partition value, and row_index is " +
      "file-local and dense") {
    val dir = Scratch.dir("graft_meta_spec")
    Tables.orders(spark, sf0001).select(col("o_orderkey"), col("o_orderpriority"))
      .repartition(col("o_orderpriority"))
      .write.mode("overwrite").partitionBy("o_orderpriority").parquet(s"$dir/o")
    val m = spark.read.parquet(s"$dir/o")
      .select(col("o_orderpriority").as("prio"),
        col("_metadata.file_path").as("fp"), col("_metadata.row_index").as("ri"))
    val perPrio = m.groupBy("prio")
      .agg(countDistinct(col("fp")).as("n_files"), count(lit(1)).as("n"),
        max(col("ri")).as("max_ri"), min(col("ri")).as("min_ri"),
        countDistinct(col("ri")).as("n_ri"))
      .collect()
    assert(perPrio.nonEmpty)
    for (r <- perPrio) {
      assert(r.getAs[Long]("n_files") == 1L, s"multiple files for ${r.getString(0)}")
      assert(r.getAs[Long]("min_ri") == 0L && r.getAs[Long]("max_ri") == r.getAs[Long]("n") - 1
        && r.getAs[Long]("n_ri") == r.getAs[Long]("n"),
        s"row_index not dense/file-local for ${r.getString(0)}: $r")
    }
  }

  test("s29 dynamic-gap session state MERGES across micro-batches: a " +
      "time-split multi-batch run equals the batch census, and sessions " +
      "genuinely span the batch boundaries") {
    import spark.implicits._
    val evAll = Tables.events(spark, sf0001)
      .select(col("ts"), col("user_id"), col("event_type"))
    val (tsLo, tsHi) = {
      val r = evAll.agg(min(unix_timestamp(col("ts"))),
        max(unix_timestamp(col("ts")))).head()
      (r.getLong(0), r.getLong(1) + 1)
    }
    val dir = new File(Scratch.dir("graft_dynsess"))
    val srcDir = new File(dir, "ev"); assert(srcDir.mkdirs())
    val now = System.currentTimeMillis()
    val gap = when(col("event_type") === "purchase", "2 hours")
      .otherwise("30 minutes")
    // cut the file boundary THROUGH the longest multi-event session, so
    // its members land in different micro-batches by construction and
    // the state store must merge them
    val target = evAll.groupBy(session_window(col("ts"), gap), col("user_id"))
      .agg(count(lit(1)).as("n"),
        min(unix_timestamp(col("ts"))).as("s"), max(unix_timestamp(col("ts"))).as("e"))
      .filter(col("n") >= 2 && col("e") > col("s"))
      .orderBy((col("e") - col("s")).desc).head()
    val mid = (target.getAs[Long]("s") + target.getAs[Long]("e")) / 2 + 1
    val cuts = Seq(tsLo, mid, (target.getAs[Long]("e") + tsHi) / 2, tsHi)
    (0 until 3).foreach { i =>
      writeSourceFile(evAll.filter(unix_timestamp(col("ts")) >= cuts(i)
        && unix_timestamp(col("ts")) < cuts(i + 1)),
        new File(srcDir, s"f$i.parquet"), now - (40L - 10L * i) * 1000)
    }
    val q = spark.readStream.schema(evAll.schema)
      .option("maxFilesPerTrigger", "1").parquet(srcDir.toString)
      .groupBy(session_window(col("ts"), gap), col("user_id"))
      .agg(count(lit(1)).as("n_events"))
      .writeStream.format("memory").queryName("dynsess_mem")
      .outputMode(OutputMode.Complete())
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    assert(q.recentProgress.count(_.numInputRows > 0) >= 3, "need ≥3 data batches")
    val streamed = spark.table("dynsess_mem")
      .select(col("user_id"), col("n_events"),
        unix_timestamp(col("session_window.start")).as("s"),
        unix_timestamp(col("session_window.end")).as("e"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .sortBy(x => (x._1, x._3)).toSeq
    val batch = evAll
      .groupBy(session_window(col("ts"), gap), col("user_id"))
      .agg(count(lit(1)).as("n_events"))
      .select(col("user_id"), col("n_events"),
        unix_timestamp(col("session_window.start")).as("s"),
        unix_timestamp(col("session_window.end")).as("e"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .sortBy(x => (x._1, x._3)).toSeq
    assert(streamed == batch,
      s"multi-batch session state diverged from batch semantics " +
        s"(${streamed.size} vs ${batch.size} sessions)")
    // non-vacuity: some session must STRADDLE a batch-boundary cut —
    // its merge could only have happened in the state store
    val straddlers = streamed.count(x => cuts.tail.init.exists(c => x._3 < c && c < x._4))
    assert(straddlers > 0,
      s"no session spans a batch boundary (cut through $target) — merge untested")
  }

  test("x17 aggregate pushdown reaches the connector: the plan carries the " +
      "AGG-PUSHED scan over the filter-narrowed range and a GROUPED " +
      "aggregate correctly REFUSES the pushdown") {
    import org.apache.spark.sql.classic.ClassicConversions.castToImpl
    def planOf(df: org.apache.spark.sql.DataFrame) = {
      df.collect(); castToImpl(df).queryExecution.executedPlan.toString
    }
    val base = spark.read.format("graft-range-docs")
      .option("rows", "1000000000").option("partitions", "16").load()
    val pushed = base.filter(col("doc_id") >= 5L)
      .agg(count(lit(1)).as("n"), min(col("doc_id")).as("mn"))
    val p1 = planOf(pushed)
    assert(p1.contains("AGG-PUSHED"), s"aggregate not pushed: $p1")
    assert(p1.contains("[5, 1000000000)"), "filter must narrow the pushed range")
    // grouped aggregation is NOT supported by the connector — it must
    // decline and Spark must fall back to scanning (use a tiny range so
    // the fallback actually materializes quickly)
    val grouped = spark.read.format("graft-range-docs")
      .option("rows", "1000").load()
      .groupBy("source").agg(count(lit(1)).as("n"))
    val p2 = planOf(grouped)
    assert(!p2.contains("AGG-PUSHED"), "grouped agg must not be pushed")
    assert(grouped.collect().map(_.getLong(1)).sum == 1000L)
  }

  test("d52 cluster quality is coherent: contingency covers the corpus, " +
      "purity and ARI in range, and clustering beats the chance floor") {
    val r = SparkEntry.queries("d52_cluster_quality")(spark, sf001).head()
    val n = Tables.embeddings(spark, sf001).count()
    assert(r.getAs[Long]("n") == n, "contingency lost vectors")
    val purity = r.getAs[Double]("purity")
    val ari = r.getAs[Double]("ari")
    assert(r.getAs[Long]("majsum") <= n)
    assert(purity > 0.0 && purity <= 1.0)
    assert(ari <= 1.0 && ari >= -0.5, s"ARI out of range: $ari")
    // purity can never be below the largest label's share (the
    // one-cluster degenerate floor)
    val maxLabelShare = Tables.embeddings(spark, sf001)
      .groupBy("label").count().agg(max("count")).head().getLong(0).toDouble / n
    assert(purity >= maxLabelShare - 1e-9,
      s"purity $purity below the degenerate floor $maxLabelShare")
  }
}
