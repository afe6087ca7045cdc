package perfbench

import graft.ops.{Dedup, Incremental}
import org.apache.spark.sql.DataFrame

import java.io.File
import scala.collection.mutable

/** `store`: the maintained-store lifecycle, writes beside reads. The
  * three stores (bucketed band index, shingle store, owned exact store)
  * start from a seeded 90 % split of a near-duplicate corpus; then each
  * step admits one seeded arrival batch (`admitBatch`, owned layout),
  * publishes the generation through the CAS catalog, serves probe reads
  * (catalog resolve + `probeBandIndex` of a seeded query set), and every
  * few batches takes down seeded docs with `compactStores` and publishes
  * the new generation. Barely touches the pipe; the kernels run only at
  * batch scale. */
final class StoreWorkload(ctx: Ctx) extends Workload {
  import StoreWorkload._

  private val spark = ctx.spark
  import spark.implicits._

  private val catalog = new File(ctx.work, "catalog").getPath
  private var initial: Vector[Inputs.Doc] = Vector.empty
  private var pool: Vector[Inputs.Doc] = Vector.empty
  private var handles: (String, String, String) = _
  private var batch = 0
  private var probes = 0
  private var compactions = 0
  private val removed = mutable.LinkedHashSet.empty[Long]
  private val admitted = mutable.ArrayBuffer.empty[(Long, String)]
  private var measuredArrivals = 0L
  private val admitBytes = mutable.ArrayBuffer.empty[Double]
  private val admitFiles = mutable.ArrayBuffer.empty[Double]
  private val filesPerBucket = mutable.ArrayBuffer.empty[Double]
  private val rewritten = mutable.ArrayBuffer.empty[Double]
  private val publishS = mutable.ArrayBuffer.empty[Double]
  private val resolveS = mutable.ArrayBuffer.empty[Double]
  private var casAttempts = 0
  private var admittedInLoop = 0L

  def generate(): Long = {
    val corpus = Inputs.inflate(ctx.seed, Inputs.baseDocs(ctx.seed, BaseDocs), Copies, Share)
    val order = Inputs.shuffle(Inputs.rng(ctx.seed, "store.split"), corpus)
    val cut = corpus.size * 9 / 10
    initial = order.take(cut).sortBy(_.docId)
    pool = order.drop(cut)
    Inputs.digest(initial) ^ Inputs.digest(pool)
  }

  /** Arrival batch k: the next held-out docs (their siblings are in the
    * stores, so many drop as near-duplicates), fresh random docs (new
    * content, admitted) and exact copies of stored docs under fresh ids.
    * Once the held-out docs run out, near-duplicates of stored docs take
    * their place. */
  private def arrivals(k: Int): Vector[(Long, String)] = {
    val r = Inputs.rng(ctx.seed, "store.batch", k)
    val held = pool.slice(k * HeldPerBatch, (k + 1) * HeldPerBatch).map(d => (d.docId, d.text))
    def id(j: Int) = ArrivalIds + k * 1000L + j
    val near = (held.size until HeldPerBatch).map(j =>
      (id(j), Inputs.perturb(r, initial(r.nextInt(initial.size)).text, Share)))
    val fresh = (0 until FreshPerBatch).map(j => (id(100 + j), Inputs.randomText(r)))
    val exact = (0 until ExactPerBatch).map(j => (id(200 + j), initial(r.nextInt(initial.size)).text))
    held ++ near ++ fresh ++ exact
  }

  /** Probe query set q: near-duplicates of stored docs under fresh ids. */
  private def queries(q: Int): Vector[(Long, String)] = {
    val r = Inputs.rng(ctx.seed, "store.query", q)
    Vector.tabulate(QuerySize) { j =>
      (QueryIds + q * 1000L + j, Inputs.perturb(r, initial(r.nextInt(initial.size)).text, Share))
    }
  }

  /** Takedown c: seeded stored docs not yet removed. */
  private def takedown(c: Int): Vector[Long] = {
    val r = Inputs.rng(ctx.seed, "store.takedown", c)
    Inputs.sample(r, initial.map(_.docId).filterNot(removed), TakedownSize)
  }

  private def frame(rows: Seq[(Long, String)]): DataFrame = rows.toDF("doc_id", "t")

  private def publish(h: (String, String, String)): Unit = {
    val t0 = System.nanoTime()
    val (_, attempts) = ctx.tracer.span("catalog.publish") {
      Incremental.commitCatalogCas(catalog) { (_, _) => Seq(h._1, h._2, h._3) }
    }
    if (ctx.measuring) {
      publishS += (System.nanoTime() - t0) / 1e9
      casAttempts += attempts
    }
  }

  private def resolve(): (String, String, String) = {
    val t0 = System.nanoTime()
    val lines = ctx.tracer.span("catalog.resolve") {
      Incremental.readCatalogVersion(catalog, Incremental.currentCatalogVersion(catalog))
    }
    if (ctx.measuring) resolveS += (System.nanoTime() - t0) / 1e9
    (lines(0), lines(1), lines(2))
  }

  def install(): Unit = {
    val path = new File(ctx.work, "corpus.parquet").getPath
    frame(initial.map(d => (d.docId, d.text))).coalesce(1).write.mode("overwrite").parquet(path)
    val t0 = System.nanoTime()
    ctx.op("store_init_s", "store.init") {
      handles = Incremental.initOwnedStores(spark, spark.read.parquet(path), "pb")
      publish(handles)
    }
    ctx.e2e("store_init_s") = Metric((System.nanoTime() - t0) / 1e9, "s")
    ctx.inputs ++= Seq("base_docs" -> BaseDocs, "copies" -> Copies,
      "initial_docs" -> initial.size, "held_out_docs" -> pool.size,
      "batch_docs" -> (HeldPerBatch + FreshPerBatch + ExactPerBatch),
      "held_out_per_batch" -> HeldPerBatch, "fresh_per_batch" -> FreshPerBatch,
      "exact_copies_per_batch" -> ExactPerBatch,
      "probes_per_batch" -> ProbesPerBatch, "query_docs" -> QuerySize,
      "compact_every" -> CompactEvery, "takedown_docs" -> TakedownSize)
  }

  /** Two whole cycles: the first admit takes about three times the CPU
    * seconds of the fifth, and from the fifth on admits are within about
    * 10 % of each other (they still drift down slowly). */
  def warmup(): Unit = (1 to WarmupCycles).foreach(_ => step())

  /** The band-index table's files, found by the scratch-dir name the
    * engine gives it. */
  private def bandDir(table: String): Option[File] =
    Option(new File(System.getProperty("java.io.tmpdir")).listFiles()).getOrElse(Array.empty[File])
      .find(_.getName.startsWith(s"graft_$table"))

  private def storeFiles(h: (String, String, String)): (Int, Long) =
    (bandDir(h._1).toSeq ++ Seq(new File(h._2), new File(h._3)))
      .map(Census.files).foldLeft((0, 0L)) { case ((a, b), (c, d)) => (a + c, b + d) }

  /** One maintenance cycle: [[CompactEvery]] batches, each admitted,
    * published and followed by probe reads, then a takedown compaction.
    * Whole cycles keep the mix of writes, reads and compactions the same
    * in every run. */
  def step(): Unit = {
    (1 to CompactEvery).foreach { _ =>
      admit()
      (1 to ProbesPerBatch).foreach(_ => probe())
    }
    compact()
  }

  private def admit(): Unit = {
    val k = batch
    batch += 1
    val rows = arrivals(k)
    val traced = ctx.tracing && !ctx.tracer.paused
    val before = if (traced) storeFiles(handles) else (0, 0L)
    val census = ctx.op("admit_s", "store.admit") {
      val (row, adm) = ctx.tracer.span("store.admit.batch") {
        val (row, adm) = Incremental.admitBatch(spark, frame(rows), "batch", k.toLong,
          handles._1, handles._2, handles._3, owned = true)
        (row.collect().head, adm)
      }
      publish(handles)
      (row, adm)
    }
    census.foreach { case (row, adm) =>
      // outside the timed op: the admitted ids feed the final rebuild
      val ids = adm.select("doc_id").as[Long].collect().toSet
      val Seq(nArr, exW, exS, nearS, nearW, nAdm, sumIds) =
        (1 to 7).map(i => row.getLong(i))
      ctx.check(nArr == rows.size && nArr == exW + exS + nearS + nearW + nAdm,
        s"batch $k census does not add up: $row")
      ctx.check(ids.size == nAdm && ids.sum == sumIds, s"batch $k admitted set != census")
      admitted ++= rows.filter(r => ids(r._1))
      if (ctx.measuring) { measuredArrivals += nArr; admittedInLoop += nAdm }
      if (traced) {
        val after = storeFiles(handles)
        admitFiles += (after._1 - before._1).toDouble
        admitBytes += (after._2 - before._2).toDouble
      }
    }
  }

  private def probe(): Unit = {
    val q = queries(probes)
    probes += 1
    if (ctx.tracing && !ctx.tracer.paused) bandDir(handles._1).foreach { d =>
      val names = Census.listFiles(d).map(_.getName).filter(_.endsWith(".parquet"))
      val buckets = names.flatMap(n => BucketRe.findFirstMatchIn(n).map(_.group(1))).distinct.size
      filesPerBucket += names.size.toDouble / math.max(1, buckets)
    }
    ctx.op("probe_s", "store.probe") {
      val h = resolve()
      ctx.tracer.span("store.probe.read") {
        val (qb, _) = Dedup.lshBucketsAndShingles(frame(q), "doc_id", "t",
          shingleWords = 3, bands = 4, rowsPerBand = 2)
        Dedup.probeBandIndex(spark, h._1, qb).collect()
      }
    }
  }

  private def compact(): Unit = {
    val c = compactions
    compactions += 1
    val tomb = takedown(c)
    ctx.op("compact_s", "store.compact") {
      val next = ctx.tracer.span("store.compact.rewrite") {
        Incremental.compactStores(spark, handles._1, handles._2, handles._3,
          tomb.toDF("doc_id"), s"pbc$c")
      }
      publish(next)
      handles = next
    }
    removed ++= tomb
    if (ctx.tracing && !ctx.tracer.paused) rewritten += storeFiles(handles)._2.toDouble
  }

  /** The maintained stores must equal a fresh build over the live docs:
    * same exact and shingle rows, and the final query set probes the
    * same candidate pairs. */
  def finish(): Unit = {
    val live = initial.filterNot(d => removed(d.docId)).map(d => (d.docId, d.text)) ++ admitted
    ctx.op("rebuild_check", "store.rebuild_check") {
      val h = resolve()
      val fresh = Incremental.initOwnedStores(spark, frame(live), "pbr")
      def same(a: DataFrame, b: DataFrame): Boolean =
        a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty
      def ex(d: String) = spark.read.parquet(d).select("doc_id", "h").distinct()
      def sh(d: String) = spark.read.parquet(d).select("id", "h").distinct()
      ctx.check(same(ex(h._2), ex(fresh._2)), "exact store differs from a rebuild")
      ctx.check(same(sh(h._3), sh(fresh._3)), "shingle store differs from a rebuild")
      val (qb, _) = Dedup.lshBucketsAndShingles(frame(queries(probes)), "doc_id", "t",
        shingleWords = 3, bands = 4, rowsPerBand = 2)
      val got = Dedup.probeBandIndex(spark, h._1, qb).collect().toSet
      val want = Dedup.probeBandIndex(spark, fresh._1, qb).collect().toSet
      ctx.check(got == want, s"probe over the maintained index (${got.size} pairs) " +
        s"!= probe over a rebuild (${want.size} pairs)")
      ctx.outputs("final_probe_pairs") = got.size
    }
    val liveBytes = live.map(_._2.length.toLong).sum.toDouble
    val catalogBytes = Census.files(new File(catalog + ".history"))._2 + new File(catalog).length()
    ctx.outputs("live_docs") = live.size
    ctx.e2e("store_bytes_per_user_byte") =
      Metric((storeFiles(handles)._2 + catalogBytes) / liveBytes, "ratio")
  }

  def report(loopSeconds: Double, loopCpuSeconds: Double): Unit = {
    ctx.latency("admit_s")
    ctx.latency("probe_s")
    ctx.latency("compact_s")
    ctx.e2e("store_docs_per_s") = Metric(measuredArrivals / loopSeconds, "docs/s")
    ctx.e2e("store_docs_per_cpu_s") = Metric(measuredArrivals / loopCpuSeconds, "docs/cpu_s")
    ctx.outputs("op_sample") = "admit_s"
    ctx.outputs("work_per_cpu_s") = ctx.e2e("store_docs_per_cpu_s").value
    def med(xs: Seq[Double]) = if (xs.isEmpty) 0.0 else Stats.median(xs)
    ctx.layer("store.admit.bytes_written") = Metric(med(admitBytes.toSeq), "bytes")
    ctx.layer("store.admit.files_written") = Metric(med(admitFiles.toSeq), "count")
    ctx.layer("store.admit.admitted_frac") =
      Metric(admittedInLoop.toDouble / math.max(1L, measuredArrivals), "ratio")
    ctx.layer("store.files_per_bucket") = Metric(med(filesPerBucket.toSeq), "count")
    ctx.layer("store.compact.bytes_rewritten") = Metric(med(rewritten.toSeq), "bytes")
    ctx.layer("store.bytes_per_user_byte") = ctx.e2e("store_bytes_per_user_byte")
    ctx.layer("catalog.publish_s") = Metric(med(publishS.toSeq), "s")
    ctx.layer("catalog.cas_attempts") =
      Metric(casAttempts.toDouble / math.max(1, publishS.size), "count")
    ctx.layer("catalog.resolve_s") = Metric(med(resolveS.toSeq), "s")
  }
}

object StoreWorkload {
  val BaseDocs = 500
  val Copies = 4
  val Share = 0.05
  val HeldPerBatch = 25
  val FreshPerBatch = 20
  val ExactPerBatch = 5
  val ProbesPerBatch = 2
  val QuerySize = 20
  val CompactEvery = 2
  val WarmupCycles = 2
  val TakedownSize = 10
  val ArrivalIds = 10000000L
  val QueryIds = 20000000L
  private val BucketRe = "_(\\d{5})\\.c\\d+".r
}
