package perfbench

import graft.pipe.{ExternalPipeline, PipeGlobals, PipelineSpec}
import org.apache.spark.sql.{Dataset, Encoders}
import org.apache.spark.storage.StorageLevel

import java.io.File
import java.nio.charset.StandardCharsets
import java.nio.file.Files
import java.nio.file.attribute.PosixFilePermissions

/** `pipe`: back-to-back `ExternalPipeline.run` jobs, the paper's own
  * scatter → external pipeline → gather operator. The payload is sf0.1
  * documents inflated to ~100 MB of lines in a fixed number of cached
  * partitions; each job stages every partition, forks a 3-command
  * read → solve → write stand-in per partition (shaped like a02), and
  * reads the `*.txt` output back. One narrow stage, no shuffle; no
  * store, catalog or dedup kernel runs. */
final class PipeWorkload(ctx: Ctx) extends Workload {
  import PipeWorkload._

  private val spark = ctx.spark
  private var docs: Vector[Inputs.Doc] = Vector.empty
  private var payload: Dataset[String] = _
  private var expected: Agg = Agg(0, 0, 0)
  private val stageDir = new File(ctx.work, "stage")
  private val stampDir = new File(ctx.work, "stamps")
  private var spec: PipelineSpec = _
  private var globals: PipeGlobals = _
  private var fdGrowth = 0
  private var scratchLeft = 0

  def generate(): Long = {
    // seeded payload order; partitions are contiguous slices of it
    docs = Inputs.shuffle(Inputs.rng(ctx.seed, "pipe.order"), Inputs.baseDocs(ctx.seed, BaseDocs))
    Inputs.digest(docs)
  }

  def install(): Unit = {
    val bin = new File(ctx.work, "bin")
    bin.mkdirs(); stageDir.mkdirs(); stampDir.mkdirs()
    // the stand-ins stamp their start and end through %MCR_ROOT% when it
    // names a directory; "-" turns stamping off for untraced runs
    def script(name: String, body: String): Unit = {
      val p = new File(bin, name).toPath
      Files.writeString(p, "#!/bin/bash\ns=$EPOCHREALTIME\n" + body +
        s"\n[ \"$$1\" = - ] || echo \"$name $$s $$EPOCHREALTIME $$2\" >> \"$$1/stamps\"\n")
      Files.setPosixFilePermissions(p, PosixFilePermissions.fromString("rwxr-xr-x"))
    }
    script("read.sh", "cp \"$2\" \"$3\"")
    script("solve.sh", "tr a-z A-Z < \"$2\" > \"$3\"")
    script("write.sh", "tail -n +2 \"$3\" > result.txt")
    spec = PipelineSpec(name = "STANDIN", binaryDir = bin.getPath,
      commands = Seq(
        "read.sh %MCR_ROOT% %INPUT_FILE% %TMP_MAT_FILE_1%",
        "solve.sh %MCR_ROOT% %TMP_MAT_FILE_1% %TMP_MAT_FILE_2%",
        "write.sh %MCR_ROOT% %TMP_MAT_FILE_1% %TMP_MAT_FILE_2%"),
      inDir = "", outDir = "")
    globals = PipeGlobals(stageDir = stageDir.getPath,
      mcrRoot = if (ctx.tracing) stampDir.getPath else "-",
      mcrCacheRoot = new File(ctx.work, "mcr_cache").getPath)

    val rows = docs.map(d => (d.docId, d.text))
    val lines = spark.sparkContext.parallelize(rows, Partitions).flatMap { case (id, t) =>
      (0 until Inflate).iterator.map(i => s"$id\t$i\t$t")
    }
    payload = spark.createDataset(lines)(Encoders.STRING).persist(StorageLevel.MEMORY_ONLY)
    ctx.tracer.span("pipe.install") {
      // the same aggregate computed directly, without the pipe
      expected = payload.mapPartitions(it => Iterator(aggregate(it.map(upperAscii))))(AggEncoder)
        .collect().reduce(_ + _)
    }
    val mb = payload.mapPartitions(it => Iterator(it.map(_.length.toLong + 1).sum))(Encoders.scalaLong)
      .collect().sum / 1e6
    ctx.inputs ++= Seq("base_docs" -> BaseDocs, "inflate" -> Inflate,
      "partitions" -> Partitions, "lines" -> expected.lines, "payload_mb" -> mb,
      "commands" -> spec.commands.size)
  }

  def warmup(): Unit = (1 to WarmupJobs).foreach(_ => step())

  def step(): Unit = {
    val before = Census.openFds()
    ctx.op("pipe_job_s", "pipe.job") {
      val got = ExternalPipeline.run(payload, Some("doc_id\ti\ttext"), spec, globals)
        .as[(String, String)](Encoders.tuple(Encoders.STRING, Encoders.STRING))
        .mapPartitions(it => Iterator(aggregate(it.collect { case ("result.txt", l) => l })))(AggEncoder)
        .collect().reduce(_ + _)
      ctx.check(got == expected, s"pipe result $got != direct $expected")
    }
    if (ctx.measuring) {
      fdGrowth += Census.openFds() - before
      scratchLeft = Census.files(stageDir)._1
    }
  }

  def finish(): Unit = ()

  def report(loopSeconds: Double, loopCpuSeconds: Double): Unit = {
    ctx.latency("pipe_job_s")
    val jobs = ctx.sample("pipe_job_s").size
    val mb = ctx.inputs("payload_mb").asInstanceOf[Double]
    ctx.e2e("pipe_mb_per_s") = Metric(jobs * mb / loopSeconds, "MB/s")
    ctx.e2e("pipe_mb_per_cpu_s") = Metric(jobs * mb / loopCpuSeconds, "MB/cpu_s")
    ctx.outputs("op_sample") = "pipe_job_s"
    ctx.outputs("work_per_cpu_s") = ctx.e2e("pipe_mb_per_cpu_s").value
    ctx.layer("pipe.open_fds_delta") = Metric(fdGrowth, "count")
    ctx.layer("pipe.scratch_files_left") = Metric(scratchLeft, "count")
    ctx.listener.foreach(l => forkLayer(l))
  }

  /** Splits each traced pipe task into staging (launch → first fork),
    * forks (the stand-ins' own stamps) and collection (last fork → task
    * end), summed over the job's tasks; medians over jobs. */
  private def forkLayer(l: JobListener): Unit = {
    val stampFile = new File(stampDir, "stamps")
    val stamps = if (!stampFile.exists()) Seq.empty else
      Files.readAllLines(stampFile.toPath, StandardCharsets.UTF_8).toArray(Array.empty[String]).toSeq
        .flatMap { line =>
          val f = line.split(" ")
          AttemptRe.findFirstMatchIn(f(3)).map(m =>
            (m.group(1).toLong, (f(1).toDouble * 1e6).toLong, (f(2).toDouble * 1e6).toLong))
        }
    val byTask = stamps.groupBy(_._1)
    val jobSpans = ctx.tracer.spans.filter(_.name == "pipe.job").toSeq
    val perJob = jobSpans.flatMap { s =>
      val jobIds = l.jobsOf(ctx.tracer.subtree(s).map(_.id).toSet).map(_.id).toSet
      val tasks = l.tasksOf(jobIds).filter(t => byTask.contains(t.id))
      if (tasks.isEmpty) None
      else {
        var fork, stage, collect = 0.0
        tasks.foreach { t =>
          val st = byTask(t.id)
          fork += st.map(x => x._3 - x._2).sum / 1e6
          stage += (st.map(_._2).min - t.launch) / 1e6
          collect += (t.finish - st.map(_._3).max) / 1e6
        }
        val durs = tasks.map(t => (t.finish - t.launch).toDouble)
        Some(Seq(tasks.map(t => byTask(t.id).size).sum.toDouble, fork, stage, collect,
          durs.max / math.max(1.0, Stats.median(durs))))
      }
    }
    def med(i: Int): Double = if (perJob.isEmpty) 0.0 else Stats.median(perJob.map(_(i)))
    ctx.layer("pipe.forks") = Metric(med(0), "count")
    ctx.layer("pipe.fork_s") = Metric(med(1), "s")
    ctx.layer("pipe.stage_s") = Metric(med(2), "s")
    ctx.layer("pipe.collect_s") = Metric(med(3), "s")
    ctx.layer("pipe.task_skew") = Metric(med(4), "ratio")
  }
}

object PipeWorkload {
  val BaseDocs = 5000
  val Inflate = 64
  val Partitions = 32
  val WarmupJobs = 20
  private val AttemptRe = "attempt(\\d+)".r

  /** (lines, chars, sum of per-line CRC32): order-independent, so the
    * piped and the direct results compare exactly. */
  final case class Agg(lines: Long, chars: Long, crc: Long) {
    def +(o: Agg): Agg = Agg(lines + o.lines, chars + o.chars, crc + o.crc)
  }
  private val AggEncoder = Encoders.product[Agg]

  def aggregate(it: Iterator[String]): Agg = {
    var n, c, h = 0L
    val crc = new java.util.zip.CRC32()
    it.foreach { l =>
      n += 1; c += l.length
      crc.reset(); crc.update(l.getBytes(StandardCharsets.UTF_8)); h += crc.getValue
    }
    Agg(n, c, h)
  }

  /** What `tr a-z A-Z` does. */
  def upperAscii(s: String): String =
    s.map(ch => if (ch >= 'a' && ch <= 'z') (ch - 32).toChar else ch)
}
