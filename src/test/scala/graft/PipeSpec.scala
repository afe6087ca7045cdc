package graft

import graft.pipe.{ExternalPipeline, PipeConfig}
import org.apache.spark.SparkException

import java.nio.file.attribute.PosixFilePermissions
import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._

/** t1 smoke for the pipe operator (SURVEY.md §5.2 item 1): a 3-stage
  * read→solve→write shell pipeline shaped like the reference's CRANKER
  * config (`/root/reference/properties.json:10-12`), exercising header
  * prepend, shared `%TMP_MAT_FILE_N%` temp files, `.txt`-only collection,
  * env injection, and non-zero-exit task failure.
  */
class PipeSpec extends SparkTestBase {
  import spark.implicits._

  private def writeScript(dir: Path, name: String, body: String): Unit = {
    val p = dir.resolve(name)
    Files.writeString(p, "#!/bin/sh\n" + body + "\n")
    Files.setPosixFilePermissions(p, PosixFilePermissions.fromString("rwxr-xr-x"))
  }

  private lazy val binDir: Path = {
    val d = Files.createTempDirectory("graft-pipe-bin")
    // args: $1=%MCR_ROOT% $2=%INPUT_FILE% $3=%TMP_MAT_FILE_1%
    writeScript(d, "run_read.sh", """cp "$2" "$3"""")
    // args: $1=%MCR_ROOT% $2=%TMP_MAT_FILE_1% $3=%TMP_MAT_FILE_2%
    writeScript(d, "run_solve.sh", """tr a-z A-Z < "$2" > "$3"""")
    // args: $1=%MCR_ROOT% $2=%TMP_MAT_FILE_1% $3=%TMP_MAT_FILE_2%
    // cwd is the staging out dir; drops the header line, emits result.txt,
    // and records the env var the reference injects.
    writeScript(d, "run_write.sh",
      """tail -n +2 "$3" > result.txt; echo "cache=$MCR_CACHE_ROOT" > env.txt""")
    writeScript(d, "run_fail.sh", "exit 3")
    d
  }

  private def configJson(commands: String): String =
    s"""{
       |  "stage_dir" : "${Files.createTempDirectory("graft-pipe-stage")}",
       |  "mcr_root" : "/opt/fake_mcr",
       |  "mcr_cache_root" : "/tmp/graft_cache",
       |  "algorithms" : [
       |    {
       |      "name":"CRANKER",
       |      "binary_dir" : "$binDir",
       |      "executables" : [
       |        $commands
       |      ],
       |      "hdfs_in_dir" : "/unused",
       |      "hdfs_out_dir" : "/unused"
       |    }
       |  ]
       |}""".stripMargin

  // trailing comma after the last executable — the shipped reference config
  // has one (properties.json:12) and must parse
  private val threeStage = configJson(
    """{"command" : "run_read.sh %MCR_ROOT% %INPUT_FILE% %TMP_MAT_FILE_1%"},
      |{"command" : "run_solve.sh %MCR_ROOT% %TMP_MAT_FILE_1% %TMP_MAT_FILE_2%"},
      |{"command" : "run_write.sh %MCR_ROOT% %TMP_MAT_FILE_1% %TMP_MAT_FILE_2%"},""".stripMargin)

  test("config parser tolerates trailing comma and resolves algorithm case-insensitively") {
    val cfg = PipeConfig.parse(threeStage)
    assert(cfg.algorithms.head.commands.size == 3)
    assert(cfg.algorithm("cranker").name == "CRANKER")
    assertThrows[IllegalArgumentException](cfg.algorithm("nope"))
  }

  test("3-stage pipeline round-trips rows, prepends header, shares temp files, collects only txt") {
    val cfg = PipeConfig.parse(threeStage)
    val rows = Seq("s0001\tmktayiak\t2", "s0002\tpeptide\t3", "s0003\tspectra\t1")
    val ds = spark.createDataset(rows).repartition(2)
    val out = ExternalPipeline.run(ds, Some("id\tseq\tcharge"), cfg.algorithm("CRANKER"), cfg.globals)
      .collect()
    val byFile = out.groupBy(_.getString(0))
    // result.txt: all data rows uppercased (header dropped by tail -n +2);
    // env.txt: injected MCR_CACHE_ROOT; no .mat intermediates collected
    assert(byFile.keySet == Set("result.txt", "env.txt"))
    assert(byFile("result.txt").map(_.getString(1)).sorted.toSeq ==
      rows.map(_.toUpperCase).sorted)
    assert(byFile("env.txt").map(_.getString(1)).toSet == Set("cache=/tmp/graft_cache"))
  }

  test("header is written first in every partition's staged file") {
    val cfg = PipeConfig.parse(configJson(
      """{"command" : "run_read.sh %MCR_ROOT% %INPUT_FILE% %TMP_MAT_FILE_1%"},
        |{"command" : "run_solve.sh %MCR_ROOT% %TMP_MAT_FILE_1% out.txt"}""".stripMargin))
    val ds = spark.createDataset(Seq("a", "b", "c", "d")).repartition(2)
    val out = ExternalPipeline.run(ds, Some("hdr"), cfg.algorithm("CRANKER"), cfg.globals)
      .as[(String, String)].collect()
    // 2 partitions → the header appears exactly twice, uppercased by solve
    assert(out.count(_._2 == "HDR") == 2)
    assert(out.map(_._2).count(Set("A", "B", "C", "D")) == 4)
  }

  test("tokenize: default is the reference space-split; quoted mode keeps spaces inside quotes") {
    val cmd = """prog 'b c' "d e" f"""
    assert(ExternalPipeline.tokenize(cmd, quoted = false) ==
      Seq("prog", "'b", "c'", "\"d", "e\"", "f"))
    assert(ExternalPipeline.tokenize(cmd, quoted = true) ==
      Seq("prog", "b c", "d e", "f"))
    assert(ExternalPipeline.tokenize("x '' y", quoted = true) == Seq("x", "", "y"))
    intercept[IllegalArgumentException](ExternalPipeline.tokenize("a 'b", quoted = true))
  }

  test("quoted_args: an argument containing spaces round-trips through the pipeline") {
    writeScript(binDir, "run_echo_arg.sh", """echo "arg=$2" > quoted.txt""")
    def cfg(quotedArgs: Boolean) = PipeConfig.parse(
      s"""{ "stage_dir" : "${Files.createTempDirectory("pipe-quote-stage")}",
         |  "mcr_root" : "/opt/fake_mcr", "mcr_cache_root" : "/tmp",
         |  "algorithms" : [ { "name":"Q", "binary_dir" : "$binDir",
         |    "quoted_args" : $quotedArgs,
         |    "executables" : [ {"command" : "run_echo_arg.sh %MCR_ROOT% 'hello spaced world'"} ],
         |    "hdfs_in_dir" : "", "hdfs_out_dir" : "" } ] }""".stripMargin)
    val ds = spark.createDataset(Seq("x")).repartition(1)
    val got = ExternalPipeline.run(ds, None, cfg(true).algorithm("Q"), cfg(true).globals)
      .as[(String, String)].collect()
    assert(got.toSeq == Seq(("quoted.txt", "arg=hello spaced world")))
    // default mode is reference-faithful: the same template space-splits,
    // so $2 is just the first word (with its opening quote glued on)
    val dflt = ExternalPipeline.run(ds, None, cfg(false).algorithm("Q"), cfg(false).globals)
      .as[(String, String)].collect()
    assert(dflt.toSeq == Seq(("quoted.txt", "arg='hello")))
  }

  test("a task failing AFTER producing pipe output commits NOTHING; the " +
    "retry commits exactly one copy of each line (SURVEY §3.3: the " +
    "reference wrote attempt output straight to the final dir, so a " +
    "failed-then-retried mapper left two copies — Spark's commit " +
    "protocol is the fix, proven here)") {
    val markers = Files.createTempDirectory("pipe-retry-markers")
    // the nasty ordering: output is fully written BEFORE the failure
    writeScript(binDir, "flaky.sh",
      s"""cp "$$2" out.txt
         |if [ ! -f "$markers/done" ]; then touch "$markers/done"; exit 1; fi""".stripMargin)
    val cfg = PipeConfig.parse(configJson(
      """{"command" : "flaky.sh %MCR_ROOT% %INPUT_FILE%"}"""))
    def pipeDf = ExternalPipeline.run(
      spark.createDataset(Seq("r1", "r2", "r3")).repartition(1),
      None, cfg.algorithm("CRANKER"), cfg.globals)
    val outDir = Files.createTempDirectory("pipe-retry-out").resolve("sink").toString
    // attempt 1: out.txt exists when the task dies — the write job fails
    // and the attempt's output must never reach the final directory
    intercept[SparkException] {
      pipeDf.select("line").write.text(outDir)
    }
    val committedAfterFailure = Option(new java.io.File(outDir).listFiles())
      .getOrElse(Array.empty).filter(f => f.isFile && f.getName.startsWith("part-"))
    assert(committedAfterFailure.isEmpty,
      s"failed attempt leaked committed files: ${committedAfterFailure.mkString(",")}")
    // the retry (marker present → command succeeds): exactly ONE copy
    pipeDf.select("line").write.mode("overwrite").text(outDir)
    val lines = spark.read.textFile(outDir).collect().sorted.toSeq
    assert(lines == Seq("r1", "r2", "r3"),
      s"retry did not commit exactly one copy of each line: $lines")
  }

  test("non-zero exit fails the task (reference ExecutorMapper.java:265-269)") {
    val cfg = PipeConfig.parse(configJson("""{"command" : "run_fail.sh %MCR_ROOT% %INPUT_FILE%"}"""))
    val ds = spark.createDataset(Seq("x"))
    val e = intercept[SparkException] {
      ExternalPipeline.run(ds, None, cfg.algorithm("CRANKER"), cfg.globals).collect()
    }
    assert(e.getMessage.contains("non zero return code") ||
      Option(e.getCause).exists(_.getMessage.contains("non zero return code")))
  }

  test("command exceeding timeoutSec is killed and fails the task") {
    val cfg = PipeConfig.parse(
      s"""{ "stage_dir" : "${Files.createTempDirectory("pipe-timeout-stage")}",
         |  "mcr_root" : "", "mcr_cache_root" : "/tmp",
         |  "algorithms" : [ { "name":"SLOW", "binary_dir" : "/bin",
         |    "executables" : [ {"command" : "sleep 30"} ],
         |    "hdfs_in_dir" : "", "hdfs_out_dir" : "" } ] }""".stripMargin)
    val ds = spark.createDataset(Seq("x"))
    val t0 = System.nanoTime()
    val e = intercept[SparkException] {
      ExternalPipeline.run(ds, None, cfg.algorithm("SLOW"), cfg.globals, timeoutSec = 1)
        .collect()
    }
    assert((System.nanoTime() - t0) / 1e9 < 25, "timeout did not cut the 30s sleep short")
    assert(e.getMessage.contains("timed out") ||
      Option(e.getCause).exists(_.getMessage.contains("timed out")))
  }

  test("PipeMain: usage exit 2, abort-if-absent exit 1, end-to-end run via main (Driver.java:33-85)") {
    // usage: fewer than 2 args → exit 2 (Driver.java:41-45)
    assert(graft.pipe.PipeMain.run(Array("CRANKER"), spark) == 2)
    val inDir = Files.createTempDirectory("pipe-main-in")
    Files.writeString(inDir.resolve("data.txt"), "s0001\tmktayiak\ns0002\tpeptide\n")
    val outDir = Files.createTempDirectory("pipe-main-out").resolve("result")
    val conf = Files.createTempFile("pipe-main", ".json")
    Files.writeString(conf,
      s"""{
         |  "stage_dir" : "${Files.createTempDirectory("pipe-main-stage")}",
         |  "mcr_root" : "/opt/fake_mcr",
         |  "mcr_cache_root" : "/tmp/graft_cache",
         |  "algorithms" : [
         |    { "name":"CRANKER", "binary_dir" : "$binDir",
         |      "executables" : [
         |        {"command" : "run_read.sh %MCR_ROOT% %INPUT_FILE% %TMP_MAT_FILE_1%"},
         |        {"command" : "run_solve.sh %MCR_ROOT% %TMP_MAT_FILE_1% %TMP_MAT_FILE_2%"},
         |        {"command" : "run_write.sh %MCR_ROOT% %TMP_MAT_FILE_1% %TMP_MAT_FILE_2%"},
         |      ],
         |      "hdfs_in_dir" : "$inDir", "hdfs_out_dir" : "$outDir" }
         |  ]
         |}""".stripMargin)
    // unknown algorithm → FATAL, exit 1 (Driver.java:79-85)
    assert(graft.pipe.PipeMain.run(Array("NOPE", conf.toString, "hdr"), spark) == 1)
    // header prompted from stdin when argv[2] is absent (Driver.java:91-103);
    // case-insensitive algorithm lookup (Driver.java:70-76)
    assert(graft.pipe.PipeMain.run(Array("cranker", conf.toString), spark,
      stdin = () => "id\tseq") == 0)
    val lines = spark.read.textFile(s"$outDir/file=result.txt").collect().toSeq
    assert(lines.sorted == Seq("S0001\tMKTAYIAK", "S0002\tPEPTIDE"))
    // existing output dir aborts, like the reference's FileOutputFormat
    assert(graft.pipe.PipeMain.run(Array("CRANKER", conf.toString, "id\tseq"), spark) == 1)
  }

  test("failing pipeline keeps per-attempt command logs (ExecutorMapper.java:91-102 parity)") {
    val stageDir = Files.createTempDirectory("pipe-logs-stage")
    val cfg = PipeConfig.parse(
      s"""{ "stage_dir" : "$stageDir", "mcr_root" : "", "mcr_cache_root" : "/tmp",
         |  "algorithms" : [ { "name":"F", "binary_dir" : "$binDir",
         |    "executables" : [ {"command" : "run_fail.sh %MCR_ROOT% %INPUT_FILE%"} ],
         |    "hdfs_in_dir" : "", "hdfs_out_dir" : "" } ] }""".stripMargin)
    intercept[SparkException] {
      ExternalPipeline.run(spark.createDataset(Seq("x")), None, cfg.algorithm("F"), cfg.globals)
        .collect()
    }
    val logs = Files.walk(stageDir).iterator().asScala
      .filter(p => p.getFileName.toString == "cmd_1.log").toSeq
    assert(logs.nonEmpty, s"no cmd_1.log kept under $stageDir after failure")
    // the bulky staging (in/out) of the failed attempt is still reclaimed
    val attempt = logs.head.getParent.getParent
    assert(!Files.exists(attempt.resolve("in")) && !Files.exists(attempt.resolve("out")))
  }

  test("repartitionTo controls pipeline invocation count (split-size knob)") {
    val cfg = PipeConfig.parse(configJson(
      """{"command" : "run_read.sh %MCR_ROOT% %INPUT_FILE% part.txt"}"""))
    val ds = spark.createDataset((1 to 20).map(i => s"row$i"))
    val out = ExternalPipeline.run(ds, Some("h"), cfg.algorithm("CRANKER"), cfg.globals,
      repartitionTo = Some(5)).as[(String, String)].collect()
    // 5 partitions → 5 headers + 20 rows
    assert(out.length == 25)
    assert(out.count(_._2 == "h") == 5)
  }

  test("the pipe closes every output reader: no file descriptor into the " +
    "job's staging dir is still open after a multi-file job") {
    // each partition's pipeline writes 20 *.txt files
    writeScript(binDir, "run_many.sh",
      """for i in $(seq 1 20); do cp "$2" "out_$i.txt"; done""")
    val cfg = PipeConfig.parse(configJson(
      """{"command" : "run_many.sh %MCR_ROOT% %INPUT_FILE%"}"""))
    val ds = spark.createDataset((1 to 40).map(i => s"row$i")).repartition(4)
    // the /proc/self/fd entries pointing into this job's staging dir; an
    // unclosed reader keeps its (deleted) output file listed here until a
    // GC happens to finalize it, so the count is taken right after the job
    def openIntoStage(): Seq[String] =
      new java.io.File("/proc/self/fd").listFiles().toSeq.flatMap { f =>
        try Some(Files.readSymbolicLink(f.toPath).toString)
        catch { case _: java.io.IOException => None }
      }.filter(_.startsWith(cfg.globals.stageDir))
    assert(openIntoStage().isEmpty)
    val n = ExternalPipeline.run(ds, None, cfg.algorithm("CRANKER"), cfg.globals)
      .collect().length
    val leaked = openIntoStage()
    assert(n == 20 * 40)
    // 80 output files were read
    assert(leaked.isEmpty, s"${leaked.size} pipe output files still open: ${leaked.take(3)}")
  }

  test("timeout kills the command's whole process tree, not just the " +
    "direct child") {
    val pidFile = Files.createTempDirectory("pipe-tree").resolve("grandchild.pid")
    // the shape of the MCR run_*.sh wrappers: the command forks a
    // long-running grandchild and waits on it
    writeScript(binDir, "run_forks.sh",
      s"""sleep 60 &
         |echo $$! > "$pidFile"
         |wait""".stripMargin)
    val cfg = PipeConfig.parse(configJson(
      """{"command" : "run_forks.sh %MCR_ROOT% %INPUT_FILE%"}"""))
    val t0 = System.nanoTime()
    val e = intercept[SparkException] {
      ExternalPipeline.run(spark.createDataset(Seq("x")).repartition(1), None,
        cfg.algorithm("CRANKER"), cfg.globals, timeoutSec = 1).collect()
    }
    assert((System.nanoTime() - t0) / 1e9 < 30, "the timed-out task did not end promptly")
    assert(e.getMessage.contains("timed out") ||
      Option(e.getCause).exists(_.getMessage.contains("timed out")))
    val pid = Files.readString(pidFile).trim.toLong
    // alive = neither gone nor a killed zombie awaiting its reaper
    def alive: Boolean =
      try !Files.readString(Paths.get(s"/proc/$pid/stat")).split("\\) ")(1).startsWith("Z")
      catch { case _: java.io.IOException => false }
    val deadline = System.nanoTime() + 5L * 1000 * 1000 * 1000
    while (alive && System.nanoTime() < deadline) Thread.sleep(50)
    assert(!alive, s"grandchild $pid survived the timeout kill")
  }
}
