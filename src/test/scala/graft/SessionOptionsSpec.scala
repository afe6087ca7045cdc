package graft

import org.scalatest.funsuite.AnyFunSuite

/** Guard on the engine's `graft.*` Spark session options. A session
  * option applies to every later query in the session and is read as a
  * string, so a threshold or tuning value with one setting in use is a
  * named constant instead. Four options remain, each a deployment
  * choice: the checkpoint path, the decontamination broadcast switch,
  * the candidate-edge budget and the language-gate precision. */
class SessionOptionsSpec extends AnyFunSuite {

  test("library code reads exactly the four deployment session options") {
    val files = SourceScan.scalaFiles("src/main")
    val literal = "\"graft\\.([a-zA-Z]+\\.[a-zA-Z]+)\"".r
    val names = files.flatMap { f =>
      val src = scala.io.Source.fromFile(f, "UTF-8")
      try literal.findAllMatchIn(src.mkString).map(_.group(1)).toList
      finally src.close()
    }.toSet
    assert(names == Set("checkpoint.dir", "decontam.broadcastBench",
      "dedup.maxCandidateEdges", "pipeline.langGatePrecision"),
      s"graft.* option literals in src/main: ${names.toSeq.sorted.mkString(", ")}")
  }
}
