package perfbench

import graft.ops.{Dedup, Pipeline}
import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._

import java.io.File

/** `curate`: back-to-back `Pipeline.fullCuration` runs, each ending in
  * its census action, over a seeded near-duplicate corpus: sf0.1-shaped
  * documents where every copy beyond the first rewrites a seeded share of
  * its words. Exercises the dedup/text kernels, shuffles and caching;
  * bypasses the pipe, the maintained stores and the catalog. */
final class CurateWorkload(ctx: Ctx) extends Workload {
  import CurateWorkload._

  private val spark = ctx.spark
  private val dir = new File(ctx.work, "corpus").getPath
  private var corpus: Vector[Inputs.Doc] = Vector.empty
  private var census: Option[Seq[Seq[Any]]] = None
  private var audited = false

  def generate(): Long = {
    corpus = Inputs.inflate(ctx.seed, Inputs.baseDocs(ctx.seed, BaseDocs), Copies, Share)
    Inputs.digest(corpus)
  }

  def install(): Unit = {
    import spark.implicits._
    // one file, like the fixtures' documents.parquet
    corpus.map(d => (d.docId, d.text, d.lang, d.source, d.text.length.toLong))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/documents.parquet")
    ctx.inputs ++= Seq("base_docs" -> BaseDocs, "copies" -> Copies, "docs" -> corpus.size,
      "perturbed_share" -> Share, "corpus_mb" -> corpus.map(_.text.length + 1L).sum / 1e6)
    ctx.outputs("documents_dir") = dir
    ctx.outputs("oracle_sql") = graft.SparkEntry.oracleSql("p01_full_curation")
  }

  def warmup(): Unit = (1 to WarmupRuns).foreach(_ => step())

  def step(): Unit = {
    var stages: Pipeline.Stages = null
    ctx.op("curate_run_s", "curate.run") {
      stages = ctx.tracer.span("curate.pipeline") { Pipeline.fullCuration(spark, dir) }
      val rows = ctx.tracer.span("curate.finish") { stages.census.collect() }.toSeq
        .map(r => r.toSeq)
      census match {
        case None => census = Some(rows); ctx.outputs("census") = rows
        case Some(first) => ctx.check(rows == first, s"census changed between runs: $rows")
      }
    }
    if (stages != null && ctx.tracing && !ctx.tracer.paused) {
      ctx.listener.foreach(_.drain(spark.sparkContext))
      derivePhases()
      if (!audited && census.isDefined) { audited = true; audit(stages) }
    }
    spark.catalog.clearCache()
  }

  /** `fullCuration` is one library call, so its phases are recovered from
    * the call sites of the jobs it starts: prep (stages 1–5) runs until
    * the first job of the shingle digest, near-dup (digest, candidate
    * pairs, Jaccard verification, which run inside the component
    * probe's job) until the last job whose call site is
    * `connectedComponents`, and components (labels, survivors and the
    * later stages' caches) until the call returns. */
  private def derivePhases(): Unit = for (l <- ctx.listener) {
    val tr = ctx.tracer
    val pipe = tr.spans.filter(_.name == "curate.pipeline").last
    val jobs = l.jobsOf(Set(pipe.id)).sortBy(_.start)
    def site(f: String) = jobs.filter(_.callSite.contains(f))
    val nearStart = site("lshBucketsAndShingles").headOption.map(_.start).getOrElse(pipe.end)
    val compStart = site("connectedComponents").lastOption.map(_.end).getOrElse(pipe.end)
      .max(nearStart).min(pipe.end)
    tr.derived("curate.prep", pipe, pipe.start, nearStart)
    tr.derived("curate.neardup", pipe, nearStart, compStart)
    tr.derived("curate.components", pipe, compStart, pipe.end)
    // the derived phases take over the jobs labelled with the call's span
    jobs.foreach { j =>
      val owner = tr.children(pipe).find(c => j.start >= c.start && j.start < c.end)
        .getOrElse(tr.children(pipe).last)
      l.reassign(j.id, owner.id)
    }
  }

  /** Candidate and verified pair counts of stage 6, once per traced run.
    * Stage 5's survivors are rebuilt from the annotated snapshot and
    * must match the census row before the counts are trusted. */
  private def audit(st: Pipeline.Stages): Unit = ctx.tracer.span("curate.audit") {
    val rows = census.get
    def row(stage: Long): Seq[Any] = rows.find(_.head == stage).get
    val routed = row(3)(3) != row(3)(2)
    val f3 = if (routed) st.base.filter(col("predicted") === "en") else st.base
    val base = f3.filter(col("n_tok") >= 20 && col("n_uniq") >= 10)
    val keep = base.groupBy(md5(col("rt"))).agg(min(col("doc_id")).as("doc_id"))
    val f5 = base.join(keep, "doc_id")
    val Row(n5: Long, sum5: Long) = f5.agg(count(lit(1)), coalesce(sum(col("doc_id")), lit(0L)))
      .head()
    ctx.check(n5 == row(5)(3) && sum5 == row(5)(4), s"stage-5 rebuild ($n5, $sum5) != census")
    val (buckets, _) = Dedup.lshBucketsAndShingles(f5, "doc_id", "rt",
      shingleWords = 3, bands = 4, rowsPerBand = 2)
    val cand = Dedup.candidatePairs(buckets, cap = Dedup.DefaultBucketCap, materialize = false)
      .count()
    val ver = st.verified.count()
    ctx.layer("curate.candidate_pairs") = Metric(cand.toDouble, "count")
    ctx.layer("curate.verified_pairs") = Metric(ver.toDouble, "count")
    ctx.layer("curate.verify_yield") = Metric(if (cand == 0) 0.0 else ver.toDouble / cand, "ratio")
  }

  def finish(): Unit = ()

  def report(loopSeconds: Double, loopCpuSeconds: Double): Unit = {
    ctx.latency("curate_run_s")
    val runs = ctx.sample("curate_run_s").size
    ctx.e2e("curate_docs_per_s") = Metric(runs * corpus.size / loopSeconds, "docs/s")
    ctx.e2e("curate_docs_per_cpu_s") = Metric(runs * corpus.size / loopCpuSeconds, "docs/cpu_s")
    ctx.outputs("op_sample") = "curate_run_s"
    ctx.outputs("work_per_cpu_s") = ctx.e2e("curate_docs_per_cpu_s").value
    Seq("curate.candidate_pairs", "curate.verified_pairs", "curate.verify_yield")
      .foreach(k => if (!ctx.layer.contains(k)) ctx.layer(k) = Metric(0, if (k.endsWith("yield")) "ratio" else "count"))
  }
}

object CurateWorkload {
  val BaseDocs = 1000
  val Copies = 4
  val Share = 0.05
  val WarmupRuns = 1
}
