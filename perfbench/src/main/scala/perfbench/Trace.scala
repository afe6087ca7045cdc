package perfbench

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

import scala.collection.mutable

/** Epoch microseconds from the monotonic clock, so spans, Spark event
  * times (epoch ms) and the pipe stand-ins' stamps share one time base. */
object Clock {
  private val epoch0 = System.currentTimeMillis() * 1000L
  private val nano0 = System.nanoTime()
  def micros(): Long = epoch0 + (System.nanoTime() - nano0) / 1000L
}

/** One span: a layer call made from the benchmark's files. `op` groups
  * the spans of one top-level operation. */
final case class Span(id: Int, name: String, parent: Int, op: Int,
    start: Long, var end: Long)

/** Records spans in memory when enabled; costs one branch when not. Each
  * span also labels the work started inside it through `label` (the Spark
  * local property [[Tracer.SpanKey]] in a run), which threads spawned
  * inside the span inherit. */
final class Tracer(val enabled: Boolean, label: Option[String] => Unit) {
  val spans = mutable.ArrayBuffer.empty[Span]
  private var stack: List[Span] = Nil
  private var ops = 0
  /** While paused (warm-up), spans are neither recorded nor labelled. */
  var paused = false

  def span[T](name: String)(body: => T): T =
    if (!enabled || paused) body
    else {
      val parent = stack.headOption
      val op = parent.map(_.op).getOrElse { ops += 1; ops }
      val s = Span(spans.size, name, parent.map(_.id).getOrElse(-1), op, Clock.micros(), -1L)
      spans += s
      stack = s :: stack
      label(Some(s.id.toString))
      try body
      finally {
        s.end = Clock.micros()
        stack = stack.tail
        label(stack.headOption.map(_.id.toString))
      }
    }

  /** A span reconstructed after the fact, for phases inside one library
    * call that the benchmark cannot wrap. */
  def derived(name: String, parent: Span, start: Long, end: Long): Span = {
    val s = Span(spans.size, name, parent.id, parent.op, start, end)
    spans += s
    s
  }

  def children(s: Span): Seq[Span] = spans.filter(_.parent == s.id).toSeq

  /** The span and all its descendants. */
  def subtree(s: Span): Seq[Span] = s +: children(s).flatMap(subtree)

  def selfMicros(s: Span): Long =
    Stats.selfTime(s.start, s.end, children(s).map(c => (c.start, c.end)))
}

object Tracer {
  val SpanKey = "perfbench.span"

  def forSpark(enabled: Boolean, sc: SparkContext): Tracer =
    new Tracer(enabled, v => sc.setLocalProperty(SpanKey, v.orNull))
}

/** Spark jobs and tasks of the traced run, each tied to the span that was
  * open when its job started. */
final class JobListener extends SparkListener {
  import JobListener._

  val jobs = mutable.LinkedHashMap.empty[Int, Job]
  val tasks = mutable.ArrayBuffer.empty[Task]
  private val stageJob = mutable.HashMap.empty[Int, Int]

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val span = Option(e.properties).flatMap(p => Option(p.getProperty(Tracer.SpanKey)))
      .map(_.toInt).getOrElse(-1)
    // the result stage is created last and carries the action's call site
    val site = if (e.stageInfos.isEmpty) "" else e.stageInfos.maxBy(_.stageId).details
    jobs(e.jobId) = Job(e.jobId, span, e.time * 1000L, -1L, site)
    e.stageIds.foreach(s => stageJob.getOrElseUpdate(s, e.jobId))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(_.end = e.time * 1000L)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    val i = e.taskInfo
    stageJob.get(e.stageId).foreach { j =>
      tasks += (if (m == null) Task(i.taskId, j, i.launchTime * 1000L, i.finishTime * 1000L,
        0L, 0L, 0L, 0L, 0L)
      else Task(i.taskId, j, i.launchTime * 1000L, i.finishTime * 1000L, m.executorRunTime,
        m.executorCpuTime, m.shuffleWriteMetrics.bytesWritten,
        m.memoryBytesSpilled + m.diskBytesSpilled, m.jvmGCTime))
    }
  }

  def drain(sc: SparkContext): Unit = org.apache.spark.PerfbenchBus.drain(sc)

  /** Moves a job to another span (a phase derived after the fact). */
  def reassign(jobId: Int, span: Int): Unit = synchronized {
    jobs.get(jobId).foreach(j => jobs(jobId) = j.copy(span = span))
  }

  def jobsOf(spanIds: Set[Int]): Seq[Job] = synchronized {
    jobs.values.filter(j => spanIds(j.span)).toSeq
  }

  def tasksOf(jobIds: Set[Int]): Seq[Task] = synchronized {
    tasks.filter(t => jobIds(t.job)).toSeq
  }
}

object JobListener {
  final case class Job(id: Int, span: Int, start: Long, var end: Long, callSite: String)
  final case class Task(id: Long, job: Int, launch: Long, finish: Long, runMs: Long,
      cpuNs: Long, shuffleWrite: Long, spill: Long, gcMs: Long)
}

/** Process-level leak and resource census, read from /proc. */
object Census {
  def openFds(): Int = Option(new java.io.File("/proc/self/fd").list()).map(_.length).getOrElse(0)

  def childProcs(): Long = ProcessHandle.current().descendants().count()

  private val TicksPerS = 100.0

  /** CPU seconds this JVM has used so far, every thread plus every child
    * process it has reaped (the pipe's forks and their own children):
    * utime + stime + cutime + cstime of /proc/self/stat. Time the
    * hypervisor steals from the machine's vCPUs is not in it. */
  def cpuSeconds(): Double = {
    val src = scala.io.Source.fromFile("/proc/self/stat")
    val stat = try src.mkString finally src.close()
    val f = stat.substring(stat.lastIndexOf(')') + 2).split(" ")
    (11 to 14).map(i => f(i).toLong).sum / TicksPerS
  }

  /** Peak resident set (VmHWM) in MB. */
  def peakRssMb(): Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(0.0)
    finally src.close()
  }

  /** Every regular file under `dir`, recursively. */
  def listFiles(dir: java.io.File): Seq[java.io.File] =
    if (dir.isFile) Seq(dir)
    else Option(dir.listFiles()).map(_.toSeq.flatMap(listFiles)).getOrElse(Nil)

  /** (files, bytes) under `dir`, recursively. */
  def files(dir: java.io.File): (Int, Long) = {
    val fs = listFiles(dir)
    (fs.size, fs.map(_.length()).sum)
  }
}
