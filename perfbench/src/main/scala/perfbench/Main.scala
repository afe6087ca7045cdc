package perfbench

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.sql.SparkSession

import java.io.File
import scala.collection.mutable
import scala.util.control.NonFatal

final case class Metric(value: Double, unit: String)

/** What a run shares between the loop and its workload: the session, the
  * seed, the tracer, and everything measured or checked. */
final class Ctx(val spark: SparkSession, val seed: Long, val work: File,
    val tracer: Tracer, val listener: Option[JobListener]) {
  val samples = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]
  /** CPU seconds of the same operations, index for index. */
  val cpuSamples = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]
  val e2e = mutable.LinkedHashMap.empty[String, Metric]
  val layer = mutable.LinkedHashMap.empty[String, Metric]
  val inputs = mutable.LinkedHashMap.empty[String, Any]
  val outputs = mutable.LinkedHashMap.empty[String, Any]
  val failures = mutable.ArrayBuffer.empty[String]
  var attempted = 0
  var failed = 0
  /** Most live child processes seen after any timed operation. */
  var maxChildren = 0L
  /** Latency samples are kept only while the timed loop runs. */
  var measuring = false
  private var last: Option[(String, Int)] = None
  private var lastFailed = false

  def tracing: Boolean = tracer.enabled

  /** One operation: `body` timed as a whole and traced as `span`. Its
    * wall and CPU seconds go to `sample` unless it throws or a later
    * [[check]] fails it. Warm-up operations count as attempted too. */
  def op[T](sample: String, span: String)(body: => T): Option[T] = {
    attempted += 1
    lastFailed = false
    last = None
    val t0 = System.nanoTime()
    val c0 = Census.cpuSeconds()
    val r =
      try Some(tracer.span(span)(body))
      catch { case NonFatal(e) => fail(s"$sample: ${e.toString.take(300)}"); None }
    val s = (System.nanoTime() - t0) / 1e9
    val cpu = Census.cpuSeconds() - c0
    Console.err.println(f"perfbench: $sample%s ${if (measuring) "timed" else "warm-up"}%s $s%.3f s cpu $cpu%.3f s")
    if (measuring) maxChildren = math.max(maxChildren, Census.childProcs())
    if (r.isDefined && measuring) {
      val buf = samples.getOrElseUpdate(sample, mutable.ArrayBuffer.empty[Double])
      buf += s
      cpuSamples.getOrElseUpdate(sample, mutable.ArrayBuffer.empty[Double]) += cpu
      last = Some((sample, buf.size - 1))
    }
    r
  }

  /** Output check of the latest operation: a failed check turns it into
    * a failed operation and drops its latency sample. */
  def check(ok: Boolean, what: => String): Unit = if (!ok) fail(what)

  private def fail(what: String): Unit = {
    failures += what
    if (!lastFailed) {
      failed += 1
      lastFailed = true
      last.foreach { case (name, i) => samples(name).remove(i); cpuSamples(name).remove(i) }
      last = None
    }
  }

  def sample(name: String): Seq[Double] = samples.get(name).map(_.toSeq).getOrElse(Nil)

  /** Median and tail of a latency sample, and the median CPU seconds of
    * the same operations (`admit_s` → `admit_cpu_s.p50`), as end-to-end
    * metrics. */
  def latency(name: String): Unit = {
    val xs = sample(name)
    if (xs.nonEmpty) e2e(s"$name.p50") = Metric(Stats.median(xs), "s")
    cpuSamples.get(name).filter(_.nonEmpty).foreach { cs =>
      e2e(s"${Ctx.cpuName(name)}.p50") = Metric(Stats.median(cs.toSeq), "s")
      outputs(s"${Ctx.cpuName(name)}.samples") = cs.size
    }
    Stats.tail(xs).foreach { t =>
      e2e(s"$name.tail") = Metric(t.value, "s")
      outputs(s"$name.tail") = Map("percentile" -> t.percentile, "samples" -> t.samples)
    }
    outputs(s"$name.samples") = xs.size
  }
}

object Ctx {
  /** The CPU-time metric of a latency sample: `admit_s` → `admit_cpu_s`. */
  def cpuName(sample: String): String = sample.stripSuffix("_s") + "_cpu_s"
}

/** One workload of the benchmark. */
trait Workload {
  /** Builds the seeded inputs in driver memory; returns a digest that
    * must repeat exactly when generation is repeated. */
  def generate(): Long
  /** Hands the inputs to the engine (files, caches, initial stores). */
  def install(): Unit
  /** Runs operations until the workload reaches steady state. */
  def warmup(): Unit
  /** One closed-loop step: the next operation(s), each waited for. */
  def step(): Unit
  /** End-of-run output checks. */
  def finish(): Unit
  /** Adds the workload's metrics, given the timed loop's wall seconds and
    * the CPU seconds the JVM and its children used in it. */
  def report(loopSeconds: Double, loopCpuSeconds: Double): Unit
}

/** The benchmark JVM: one workload, one client thread, local[nproc].
  *
  * Usage: Main --workload pipe|curate|store --seed N --seconds S
  *   --trace 0|1 --work DIR --out FILE
  */
object Main {
  private val CounterSpans = Seq("pipe.job", "curate.prep", "curate.neardup",
    "curate.components", "curate.finish", "store.init", "store.admit",
    "store.probe", "store.compact")

  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val seed = a("seed").toLong
    val seconds = a("seconds").toDouble
    val trace = a("trace") == "1"
    val work = new File(a("work"))
    val jvmStart = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime * 1000L

    val spark = graft.Engine.session(appName = "perfbench")
    val sessionS = (Clock.micros() - jvmStart) / 1e6
    val sc = spark.sparkContext
    val listener = if (trace) Some(new JobListener) else None
    listener.foreach(sc.addSparkListener)
    val tracer = Tracer.forSpark(trace, sc)
    val ctx = new Ctx(spark, seed, work, tracer, listener)
    val w: Workload = a("workload") match {
      case "pipe" => new PipeWorkload(ctx)
      case "curate" => new CurateWorkload(ctx)
      case "store" => new StoreWorkload(ctx)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }

    // generation is repeated and must agree with itself; its median time
    // counts, so set-up time reflects the work rather than one draw
    val gens = (1 to 3).map { _ =>
      val t0 = System.nanoTime()
      val d = w.generate()
      ((System.nanoTime() - t0) / 1e9, d)
    }
    ctx.op("generate", "input.generate") {
      ctx.check(gens.map(_._2).distinct.size == 1, "input generation did not repeat")
    }
    val installS = timed(w.install())
    val genS = Stats.median(gens.map(_._1)) + installS
    tracer.paused = true
    val warmS = timed(w.warmup())
    tracer.paused = false

    val fds0 = Census.openFds()
    val loopStart = System.nanoTime()
    val loopCpu0 = Census.cpuSeconds()
    ctx.measuring = true
    // at least one step, even when it outlasts the seconds
    do w.step() while (System.nanoTime() - loopStart < seconds * 1e9)
    val loopS = (System.nanoTime() - loopStart) / 1e9
    val loopCpuS = Census.cpuSeconds() - loopCpu0
    ctx.measuring = false
    val fdsLoop = Census.openFds() - fds0
    w.finish()
    listener.foreach(_.drain(sc))

    ctx.e2e("setup_s") = Metric(sessionS + genS + warmS, "s")
    w.report(loopS, loopCpuS)
    ctx.e2e("peak_rss_mb") = Metric(Census.peakRssMb(), "MB")
    ctx.e2e("failed_frac") = Metric(ctx.failed.toDouble / math.max(1, ctx.attempted), "ratio")
    ctx.layer("engine.session_s") = Metric(sessionS, "s")
    ctx.layer("input.gen_s") = Metric(genS, "s")
    ctx.layer("warmup_s") = Metric(warmS, "s")
    ctx.layer("leak.open_fds_delta") = Metric(fdsLoop, "count")
    ctx.layer("leak.child_procs") = Metric(ctx.maxChildren.toDouble, "count")
    ctx.layer("leak.tmp_files") =
      Metric(Census.files(new File(System.getProperty("java.io.tmpdir")))._1, "count")
    listener.foreach(l => spanCounters(ctx, l))

    val result = mutable.LinkedHashMap[String, Any](
      "workload" -> a("workload"), "seed" -> seed, "trace" -> trace,
      "loop_s" -> loopS, "loop_cpu_s" -> loopCpuS, "attempted" -> ctx.attempted, "failed" -> ctx.failed,
      "failures" -> ctx.failures.take(20).toSeq,
      "inputs" -> ctx.inputs, "outputs" -> ctx.outputs,
      "e2e" -> ctx.e2e.map { case (k, m) => k -> Map("value" -> m.value, "unit" -> m.unit) },
      "layer" -> ctx.layer.map { case (k, m) => k -> Map("value" -> m.value, "unit" -> m.unit) })
    listener.foreach(l => result("trace_detail") = traceDetail(ctx, l))
    val json = new ObjectMapper().registerModule(DefaultScalaModule)
    json.writerWithDefaultPrettyPrinter().writeValue(new File(a("out")), result)
    spark.stop()
  }

  def timed(body: => Unit): Double = {
    val t0 = System.nanoTime()
    body
    (System.nanoTime() - t0) / 1e9
  }

  /** Per-span Spark counters, averaged over the span's instances: each
    * job counts toward the span that was open when it started and toward
    * that span's ancestors. */
  private def spanCounters(ctx: Ctx, l: JobListener): Unit = {
    val tr = ctx.tracer
    CounterSpans.foreach { name =>
      val inst = tr.spans.filter(s => s.name == name && s.end >= 0).toSeq
      val per = inst.map { s =>
        val jobs = l.jobsOf(tr.subtree(s).map(_.id).toSet)
        val tasks = l.tasksOf(jobs.map(_.id).toSet)
        val covered = Stats.unionLength(Stats.clip(jobs.map(j => (j.start, j.end)), s.start, s.end))
        Seq(jobs.size.toDouble, tasks.size.toDouble,
          tasks.map(_.runMs).sum / 1e3, tasks.map(_.cpuNs).sum / 1e9,
          tasks.map(_.shuffleWrite).sum / 1048576.0, tasks.map(_.spill).sum / 1048576.0,
          tasks.map(_.gcMs).sum / 1e3, (s.end - s.start - covered) / 1e6)
      }
      val keys = Seq("jobs" -> "count", "tasks" -> "count", "task_s" -> "s", "cpu_s" -> "s",
        "shuffle_write_mb" -> "MB", "spill_mb" -> "MB", "gc_s" -> "s", "driver_gap_s" -> "s")
      keys.zipWithIndex.foreach { case ((k, unit), i) =>
        val v = if (per.isEmpty) 0.0 else per.map(_(i)).sum / per.size
        ctx.layer(s"$name.$k") = Metric(v, unit)
      }
    }
  }

  /** The committed trace: every span with its self time, each op's wall
    * time against the sum of its spans' self times, and every traced job
    * with its span and first engine frame. */
  private def traceDetail(ctx: Ctx, l: JobListener): Map[String, Any] = {
    val tr = ctx.tracer
    val spans = tr.spans.toSeq.filter(_.end >= 0)
    val ops = spans.filter(s => s.parent < 0).map { root =>
      val sub = tr.subtree(root)
      val self = sub.map(tr.selfMicros).sum
      Map("op" -> root.op, "name" -> root.name, "wall_s" -> (root.end - root.start) / 1e6,
        "self_sum_s" -> self / 1e6, "spans" -> sub.size)
    }
    Map(
      "spans" -> spans.map(s => Map("id" -> s.id, "name" -> s.name, "parent" -> s.parent,
        "op" -> s.op, "start_us" -> s.start, "end_us" -> s.end, "self_s" -> tr.selfMicros(s) / 1e6)),
      "ops" -> ops,
      "jobs" -> l.jobs.values.toSeq.filter(_.span >= 0).map(j => Map("id" -> j.id, "span" -> j.span,
        "start_us" -> j.start, "end_us" -> j.end, "site" -> engineFrame(j.callSite))))
  }

  /** The first frame of a call site that belongs to the engine. */
  def engineFrame(site: String): String =
    site.split("\n").map(_.trim).find(f => f.startsWith("graft.")).getOrElse("")
}
