package graft.pipe

import org.apache.spark.TaskContext
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}

import java.io.File
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}
import java.util.concurrent.TimeUnit
import scala.collection.mutable

/** The reference's core operator, re-expressed Spark-first: per partition,
  * (1) stage the partition's rows as a local headered text file, (2) run an
  * ordered external command pipeline over it with `%VAR%` substitution and
  * N-keyed shared temp files, (3) return the pipeline's `*.txt` outputs as
  * rows.
  *
  * Reference behavior reproduced (citations into /root/reference):
  *  - staging layout `STAGE_DIR/<task>/<attempt>/{in,out}` with the header
  *    written first — `ExecutorMapper.java:88-145`;
  *  - one pipeline run per partition, map-only / shuffle-free (the Spark
  *    stage stays narrow) — `Driver.java:128,135-136`;
  *  - command templates `binary_dir/cmd` with `%MCR_ROOT%`, `%INPUT_FILE%`
  *    and `%TMP_MAT_FILE_N%` (N-keyed temp paths shared across commands
  *    via a map) — `ExecutorMapper.java:184-204`;
  *  - `MCR_CACHE_ROOT` env for the children — `ExecutorMapper.java:174-177`;
  *  - non-zero exit fails the task (→ Spark task retry) —
  *    `ExecutorMapper.java:265-269`;
  *  - only `*.txt` files are collected, `.mat` intermediates skipped —
  *    `ExecutorMapper.java:214-219`.
  *
  * Deliberate fixes over the reference:
  *  - stdout/stderr are drained concurrently with the child's execution
  *    (the reference drains sequentially and can deadlock on a full stderr
  *    pipe, `ExecutorMapper.java:245-263`);
  *  - results are RETURNED through the iterator instead of side-copied to
  *    the output dir from inside the task, so Spark's task-commit protocol
  *    makes speculative/retried attempts safe (the reference can duplicate
  *    or clobber outputs, see SURVEY.md §3.3);
  *  - task-local scratch is removed via a task-completion listener even on
  *    failure.
  *
  * Scale: the operator is a single narrow `mapPartitions` stage — at 100 TB
  * the only tuning knob is partition count/size (same as the reference's
  * split size), exposed via `repartitionTo`; no shuffle is ever introduced
  * by the pipe itself.
  */
object ExternalPipeline {

  private val TmpToken = "%TMP_MAT_FILE_\\d+%".r

  /** Run `spec`'s command pipeline over every partition of `ds`.
    *
    * @param header        optional header line prepended to each staged
    *                      partition file (reference `DATA_HEADER`)
    * @param repartitionTo optionally repartition first — controls external
    *                      binary batch size (reference: HDFS split size)
    * @param timeoutSec    per-command timeout; 0 = unbounded (reference)
    * @return DataFrame(file string, line string): every line of every
    *         `*.txt` the pipeline wrote, tagged with its file name
    */
  def run(
      ds: Dataset[String],
      header: Option[String],
      spec: PipelineSpec,
      globals: PipeGlobals,
      repartitionTo: Option[Int] = None,
      timeoutSec: Long = 0L): DataFrame = {
    val spark = ds.sparkSession
    import spark.implicits._

    val input = repartitionTo.map(ds.repartition(_)).getOrElse(ds)
    val stageDir = globals.stageDir
    val mcrRoot = globals.mcrRoot
    val mcrCacheRoot = globals.mcrCacheRoot
    val binaryDir = spec.binaryDir
    val commands = spec.commands
    val headerOpt = header
    val quotedArgs = spec.quotedArgs

    input.mapPartitions { rows =>
      val tc = TaskContext.get()
      val attemptDir = Paths.get(stageDir,
        s"stage${tc.stageId()}-part${tc.partitionId()}", s"attempt${tc.taskAttemptId()}")
      val inDir = attemptDir.resolve("in")
      val outDir = attemptDir.resolve("out")
      val logsDir = attemptDir.resolve("logs")
      Files.createDirectories(inDir)
      Files.createDirectories(outDir)
      Files.createDirectories(logsDir)
      // A9 parity (`ExecutorMapper.java:91-102`): every command's drained
      // output is captured as <attempt>/logs/cmd_N.log. On success the
      // whole attempt dir goes; on failure the logs stay behind for
      // post-mortem while the bulky in/out staging is still reclaimed.
      var pipelineFailed = false
      if (tc != null) tc.addTaskCompletionListener[Unit] { _ =>
        if (pipelineFailed) {
          deleteRecursively(inDir.toFile)
          deleteRecursively(outDir.toFile)
        } else deleteRecursively(attemptDir.toFile)
      }

      // (1) stage the partition as one headered local file
      val staged = inDir.resolve(s"part${tc.partitionId()}.txt")
      val w = Files.newBufferedWriter(staged, StandardCharsets.UTF_8)
      try {
        headerOpt.foreach { h => w.write(h); w.write("\n") }
        rows.foreach { r => w.write(r); w.write("\n") }
      } finally w.close()

      // (2) run the pipeline with shared N-keyed temp files
      val tmpFiles = mutable.HashMap.empty[String, String]
      var tmpCounter = 0
      try {
        commands.zipWithIndex.foreach { case (template, i) =>
          var cmd = (if (binaryDir.nonEmpty) binaryDir + "/" else "") + template
          cmd = cmd
            .replace("%MCR_ROOT%", mcrRoot)
            .replace("%INPUT_FILE%", staged.toString)
            .replace("%OUT_DIR%", outDir.toString)
          TmpToken.findAllIn(cmd).toSeq.distinct.foreach { tok =>
            val path = tmpFiles.getOrElseUpdate(tok, {
              tmpCounter += 1
              outDir.resolve(s"tmp_$tmpCounter.mat").toString
            })
            cmd = cmd.replace(tok, path)
          }
          exec(cmd, outDir.toFile, Map("MCR_CACHE_ROOT" -> mcrCacheRoot), timeoutSec,
            logsDir.resolve(s"cmd_${i + 1}.log"), quotedArgs)
        }
      } catch {
        case e: Throwable => pipelineFailed = true; throw e
      }

      // (3) yield every line of every *.txt output, Spark commits the write.
      // Each file's reader closes when its lines run out; one abandoned
      // mid-file (limit, task failure) closes at task completion.
      val txt = Option(outDir.toFile.listFiles())
        .getOrElse(Array.empty[File])
        .filter(f => f.isFile && f.getName.endsWith(".txt"))
        .sortBy(_.getName)
      val readers = mutable.ArrayBuffer.empty[scala.io.BufferedSource]
      if (tc != null) tc.addTaskCompletionListener[Unit] { _ => readers.foreach(_.close()) }
      txt.iterator.flatMap { f =>
        val name = f.getName
        val src = scala.io.Source.fromFile(f, "UTF-8")
        readers += src
        val lines = src.getLines()
        var open = true
        new Iterator[(String, String)] {
          def hasNext: Boolean = open && (lines.hasNext || { src.close(); open = false; false })
          def next(): (String, String) = (name, lines.next())
        }
      }
    }.toDF("file", "line")
  }

  /** Convenience: full reference-shaped job — read a text dir, pipe it,
    * return the collected lines (`Driver.java:135-141` analog without the
    * side-effecting HDFS copy). */
  def runJob(
      spark: SparkSession,
      config: PipeConfig,
      algorithmName: String,
      header: Option[String]): DataFrame = {
    import spark.implicits._
    val spec = config.algorithm(algorithmName)
    val lines = spark.read.textFile(spec.inDir)
    run(lines, header, spec, config.globals)
  }

  /** Split a command string into exec argv. Default mode is the
    * reference's bare whitespace split (`ExecutorMapper.java:243` via
    * `Runtime.exec`) — faithful, but unable to pass an argument that
    * contains a space. `quoted = true` opts into minimal shell-style
    * quoting: single- or double-quoted segments keep embedded whitespace
    * and the quotes themselves are stripped; no escape processing, no
    * variable expansion (predictability over shell emulation). An
    * unbalanced quote is rejected eagerly. */
  private[graft] def tokenize(cmd: String, quoted: Boolean): Seq[String] =
    if (!quoted) cmd.trim.split("\\s+").toSeq
    else {
      val out = mutable.ArrayBuffer.empty[String]
      val cur = new StringBuilder
      var inSingle = false; var inDouble = false
      var started = false // set even for empty quoted tokens ('')
      cmd.foreach {
        case '\'' if !inDouble => inSingle = !inSingle; started = true
        case '"' if !inSingle => inDouble = !inDouble; started = true
        case c if c.isWhitespace && !inSingle && !inDouble =>
          if (started) { out += cur.toString; cur.clear(); started = false }
        case c => cur.append(c); started = true
      }
      if (inSingle || inDouble)
        throw new IllegalArgumentException(s"Unbalanced quote in command: $cmd")
      if (started) out += cur.toString
      out.toSeq
    }

  /** Tokenized exec (see [[tokenize]] for the quoting contract), with
    * concurrent stdout+stderr drain and exit-code check. The full drained
    * output is streamed to `logFile` (A9 parity,
    * `ExecutorMapper.java:91-102`); a bounded in-memory tail feeds the
    * failure exception message. */
  private def exec(
      cmd: String,
      cwd: File,
      extraEnv: Map[String, String],
      timeoutSec: Long,
      logFile: java.nio.file.Path,
      quotedArgs: Boolean = false): Unit = {
    val tokens = tokenize(cmd, quotedArgs)
    val pb = new ProcessBuilder(tokens: _*)
    pb.directory(cwd)
    pb.redirectErrorStream(true) // concurrent drain: one merged stream
    extraEnv.foreach { case (k, v) => pb.environment().put(k, v) }
    val p = pb.start()
    // drain on a separate thread so a chatty child can never block on a
    // full pipe while we wait for it
    val tail = new java.util.concurrent.LinkedBlockingDeque[String](64)
    val lw = Files.newBufferedWriter(logFile, StandardCharsets.UTF_8)
    val drainer = new Thread(() => {
      try {
        val br = new java.io.BufferedReader(
          new java.io.InputStreamReader(p.getInputStream, StandardCharsets.UTF_8))
        var line = br.readLine()
        while (line != null) {
          lw.write(line); lw.newLine()
          if (!tail.offerLast(line)) { tail.pollFirst(); tail.offerLast(line) }
          line = br.readLine()
        }
      } finally lw.close()
    }, "graft-pipe-drain")
    drainer.setDaemon(true)
    drainer.start()
    val finished =
      if (timeoutSec > 0) p.waitFor(timeoutSec, TimeUnit.SECONDS)
      else { p.waitFor(); true }
    if (!finished) {
      // kill the whole tree: wrappers like the MCR run_*.sh scripts fork
      // grandchildren that outlive their parent and keep the drained
      // pipe, and so the log writer, open
      p.descendants().forEach(d => d.destroyForcibly(): Unit)
      p.destroyForcibly()
      // with every writer gone the drainer sees EOF and closes the log;
      // the explicit close (a no-op then) frees it if a writer escaped
      drainer.join(10000)
      lw.close()
      throw new RuntimeException(s"Command '$cmd' timed out after ${timeoutSec}s")
    }
    drainer.join(10000)
    val ret = p.exitValue()
    if (ret != 0) {
      val out = new java.util.ArrayList[String](); tail.drainTo(out)
      throw new RuntimeException(
        s"Command '$cmd' exited with non zero return code $ret " +
          s"(full output: $logFile). Output tail:\n" + String.join("\n", out))
    }
  }

  private def deleteRecursively(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).getOrElse(Array.empty[File]).foreach(deleteRecursively)
    f.delete(): Unit
  }
}
