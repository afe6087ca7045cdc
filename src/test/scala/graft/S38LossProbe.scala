package graft

import java.io.File

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{OutputMode, Trigger}
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}

/** The maintained-BM25 stream (s38's shape) under REAL executor loss —
  * the r11 verdict's task 5. The streaming lifecycles rely on
  * batch-keyed idempotence that was previously drilled by re-invocation
  * only; this probe triggers the actual failure mode: an executor JVM
  * dies in the window BETWEEN the bucketed posting append and the
  * batch-keyed delta write, the streaming query fails (or recovers
  * in-job on the survivor — both arms accepted and reported, the
  * P02LossProbe protocol), and the recovery is a RESTART FROM THE
  * CHECKPOINT: Spark re-runs the same micro-batch with the SAME batch
  * id, the posting re-append's residue is absorbed by the probe's
  * distinct (the d60 contract), and the delta overwrite of
  * `batch=<id>` replaces itself instead of double-counting (the s29
  * idempotent-upsert discipline — batchId is the idempotence key).
  *
  * Convergence is asserted store-by-store against a healthy control
  * universe: distinct posting rows SET-equal (residue counted and
  * reported), folded df and corpus stats EXACTLY equal, and the BM25
  * probe row-equal. The JSON line records md5 digests of both
  * universes' post-recovery stores — the "two identical store digests"
  * the round artifact wants.
  *
  * Run: SPARK_HOME=/opt/spark sbt package Test/package
  *      'Test/runMain graft.S38LossProbe'
  */
object S38LossProbe {

  private def rows(df: DataFrame): Set[String] =
    df.collect().map(_.toString).toSet

  /** SIGKILL every executor JVM — genuine abrupt machine death (no
    * graceful deregistration), and, unlike `sc.killExecutors`, the
    * app's executor target is untouched, so the standalone master
    * relaunches replacements on the surviving workers — exactly the
    * fleet behavior after a node loss. */
  private def killExecutorJvms(): Int = {
    import scala.sys.process._
    val pids = scala.util.Try("pgrep -f CoarseGrainedExecutorBackend".!!)
      .getOrElse("").trim.split("\n").filter(_.nonEmpty)
    pids.foreach(p => s"kill -9 $p".! : Unit)
    pids.length
  }

  private def md5Of(rs: Set[String]): String = {
    val d = java.security.MessageDigest.getInstance("MD5")
    rs.toSeq.sorted.foreach(r => d.update(r.getBytes("UTF-8")))
    d.digest().map("%02x".format(_)).mkString
  }

  def main(args: Array[String]): Unit = {
    require(sys.env.contains("SPARK_HOME"),
      "run with SPARK_HOME=/opt/spark — the workers launch real executors")
    val jars = new File("target/scala-2.13").listFiles()
      .filter(_.getName.endsWith(".jar")).map(_.getAbsolutePath)
    require(jars.length >= 2, "run sbt package Test/package first")
    val masterUrl = org.apache.spark.deploy.GraftMiniCluster.start(
      coresPerWorker = 4, memMb = 1536, Scratch.dir("graft_s38loss_work"))
    val spark = SparkSession.builder()
      .master(masterUrl)
      .appName("graft-s38-loss-probe")
      .config("spark.jars", jars.mkString(","))
      .config("spark.sql.shuffle.partitions", "8")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      // one task failure fails the job: bias the drill toward the
      // stream-failure + checkpoint-restart arm instead of silent
      // in-job task retry (the control never fails a task)
      .config("spark.task.maxFailures", "1")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    val removed = new java.util.concurrent.atomic.AtomicInteger(0)
    val live = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
    spark.sparkContext.addSparkListener(new org.apache.spark.scheduler.SparkListener {
      override def onExecutorAdded(
          e: org.apache.spark.scheduler.SparkListenerExecutorAdded): Unit =
        { live.add(e.executorId); () }
      override def onExecutorRemoved(
          e: org.apache.spark.scheduler.SparkListenerExecutorRemoved): Unit =
        { live.remove(e.executorId); removed.incrementAndGet(); () }
    })
    val deadline = System.nanoTime() + 60L * 1000000000L
    while (live.size < 2 && System.nanoTime() < deadline) Thread.sleep(200)
    require(live.size >= 2, s"only ${live.size} executors registered")

    // synthetic corpus — pure lineage (the P02LossProbe rule): 12-word
    // docs over a 40-word planted vocabulary, so terms repeat across
    // docs and BM25 has real df structure
    def universe: DataFrame = spark.range(6000)
      .repartition(8)
      .select(col("id").as("doc_id"),
        expr("concat_ws(' ', transform(sequence(1, 25), " +
          "i -> concat('w', cast(pmod(hash(id * 31 + i), 40) as string))))")
          .as("text"))
    def baseOf(u: DataFrame): DataFrame = u.filter(col("doc_id") % 5 =!= 3)
    def waveOf(u: DataFrame): DataFrame = u.filter(col("doc_id") % 5 === 3)
    import spark.implicits._
    val qt = Seq("q1" -> "w3", "q1" -> "w17", "q2" -> "w8", "q2" -> "w29")
      .toDF("query_id", "term")
    val vocab = Seq("w3", "w17", "w8", "w29")

    def init(tag: String): (String, String, String) = {
      val p0 = ops.Dedup.reuse(ops.TextAnalysis.postingsOf(baseOf(universe)))
      val table = ops.TextAnalysis.writePostingStore(spark, p0, tag)
      val dfDir = Scratch.dir(s"graft_${tag}_df")
      val statsDir = Scratch.dir(s"graft_${tag}_st")
      ops.TextAnalysis.logStatDeltas(p0, dfDir, statsDir, batch = 0, sign = 1)
      (table, dfDir, statsDir)
    }

    // Crash universe only: after the posting append COMMITS, hold the
    // window open until the victim executor is ACTUALLY dead before
    // attempting the delta write — the probe controls when the
    // maintenance body proceeds (modeling "the machine died before the
    // delta started"); the failure itself is real Spark machinery (the
    // batch's localCheckpoint blocks died with the executor, so the
    // delta job cannot run and the STREAM fails — the restart arm).
    @volatile var holdWindowForKill = false

    def runStream(table: String, dfDir: String, statsDir: String,
        watched: String, ckpt: String): scala.util.Try[Unit] = scala.util.Try {
      val q = spark.readStream
        .schema(StructType(Seq(StructField("doc_id", LongType),
          StructField("text", StringType))))
        .parquet(watched)
        .writeStream
        .outputMode(OutputMode.Append())
        .option("checkpointLocation", ckpt)
        .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], batchId: Long) =>
          if (!batch.isEmpty) {
            val postings = ops.TextAnalysis.postingsOf(batch.toDF())
              .localCheckpoint(true)
            // the s38 order under test: posting append COMMITS, then the
            // batch-keyed delta write — the loss window sits between them
            ops.TextAnalysis.appendPostingStore(spark, postings, table)
            if (holdWindowForKill) {
              val t = System.nanoTime() + 20L * 1000000000L
              while (removed.get() < 1 && System.nanoTime() < t) Thread.sleep(100)
            }
            ops.TextAnalysis.logStatDeltas(postings, dfDir, statsDir,
              batch = (batchId + 1).toInt, sign = 1)
          }
        }
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    }

    def arrivalFile(watched: String): Unit =
      streaming.StreamingQueries.landArrival(waveOf(universe),
        Scratch.dir("graft_s38loss_wave"), watched, 0)

    def digests(table: String, dfDir: String, statsDir: String)
        : (Set[String], Set[String], Set[String], Long) = {
      val all = spark.table(table)
      val dp = rows(all.distinct())
      val dfFold = rows(spark.read.parquet(dfDir)
        .groupBy("term").agg(sum(col("d")).as("df")))
      val stFold = rows(spark.read.parquet(statsDir)
        .agg(sum(col("d_docs")).as("n_docs"), sum(col("d_tok")).as("total_tok")))
      (dp, dfFold, stFold, all.count())
    }

    // ---------- control universe: healthy end-to-end
    val (tC, dfC, stC) = init("post_s38loss_ctl")
    val watchedC = Scratch.dir("graft_s38loss_wc")
    arrivalFile(watchedC)
    runStream(tC, dfC, stC, watchedC, Scratch.dir("graft_s38loss_ckc")).get
    val (ctlPost, ctlDf, ctlSt, ctlRaw) = digests(tC, dfC, stC)
    val ctlProbe = rows(ops.TextAnalysis.bm25Probe("probe", spark.table(tC),
      qt, vocab, dfC, stC, spark))
    require(ctlProbe.nonEmpty, "control probe returned nothing — vacuous")

    // ---------- crash universe: kill an executor the moment the posting
    // append's files land — before the delta write can complete
    val (tA, dfA, stA) = init("post_s38loss_crash")
    val postDir = spark.sql(s"DESCRIBE FORMATTED $tA").collect()
      .find(_.getString(0).trim == "Location").map(_.getString(1))
      .getOrElse(sys.error("posting store location not found"))
      .replaceFirst("^file:", "")
    // count only COMMITTED part files (the _temporary dir appears while
    // the append job runs; the window under drill opens at job COMMIT)
    def partFiles(): Int = Option(new File(postDir).listFiles())
      .map(_.count(_.getName.startsWith("part-"))).getOrElse(0)
    val files0 = partFiles()
    @volatile var killedAt = ""
    @volatile var drillDone = false
    val watcher = new Thread(() => {
      while (!drillDone && killedAt.isEmpty) {
        val grew = partFiles() > files0
        if (grew && !live.isEmpty) {
          val n = killExecutorJvms()
          killedAt = s"after_posting_append_files_killed_$n"
        } else Thread.sleep(5)
      }
    })
    watcher.setDaemon(true)
    watcher.start()

    val watchedA = Scratch.dir("graft_s38loss_wa")
    val ckptA = Scratch.dir("graft_s38loss_cka")
    arrivalFile(watchedA)
    holdWindowForKill = true
    val attempt1 = runStream(tA, dfA, stA, watchedA, ckptA)
    holdWindowForKill = false
    drillDone = true
    watcher.join(2000)
    require(killedAt.nonEmpty, "watcher never fired — no append was observed")
    // the removal event is async; the kill was issued mid-window
    val rmDeadline = System.nanoTime() + 30L * 1000000000L
    while (removed.get() < 1 && System.nanoTime() < rmDeadline) Thread.sleep(200)
    require(removed.get() >= 1, "no executor was actually removed — probe vacuous")

    // the documented recovery: restart the stream FROM THE CHECKPOINT —
    // the uncommitted micro-batch re-runs under the SAME batch id, so
    // the delta overwrite replaces itself and posting residue is
    // distinct-absorbed. (If the loss recovered in-job, the restart is
    // a no-op replay — also asserted safe.)
    val restarted = attempt1.isFailure
    spark.catalog.clearCache()
    var recovery = runStream(tA, dfA, stA, watchedA, ckptA)
    var extraRestarts = 0
    while (recovery.isFailure && extraRestarts < 3) {
      // a second executor may still be re-registering; retry the restart
      extraRestarts += 1
      Thread.sleep(2000)
      spark.catalog.clearCache()
      recovery = runStream(tA, dfA, stA, watchedA, ckptA)
    }
    recovery.get

    val (crashPost, crashDf, crashSt, crashRaw) = digests(tA, dfA, stA)
    assert(crashPost == ctlPost,
      "distinct posting rows diverged from the healthy control")
    assert(crashDf == ctlDf, "folded df diverged from the healthy control")
    assert(crashSt == ctlSt, "folded corpus stats diverged from the healthy control")
    val crashProbe = rows(ops.TextAnalysis.bm25Probe("probe", spark.table(tA),
      qt, vocab, dfA, stA, spark))
    assert(crashProbe == ctlProbe, "BM25 probe diverged after executor loss")

    val ctlDigest = md5Of(ctlPost ++ ctlDf ++ ctlSt)
    val crashDigest = md5Of(crashPost ++ crashDf ++ crashSt)
    assert(ctlDigest == crashDigest)
    println(s"""{"metric":"s38_executor_loss_probe","executors_removed":${removed.get()},""" +
      s""""killed_at":"$killedAt","attempt1_failed":$restarted,""" +
      s""""extra_restarts":$extraRestarts,""" +
      s""""posting_residue_rows":${crashRaw - crashPost.size},""" +
      s""""control_raw_rows":$ctlRaw,""" +
      s""""control_store_digest":"$ctlDigest","crash_store_digest":"$crashDigest",""" +
      s""""stores_converged":true,"probe_rows":${crashProbe.size}}""")
    spark.stop()
    org.apache.spark.deploy.GraftMiniCluster.stop()
  }
}
