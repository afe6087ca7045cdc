package graft

import graft.functions.GraftExtensions

/** The one extension manifest (`GraftExtensions.Functions`): both install
  * paths serve all of it, and nothing in the library registers a
  * function any other way. */
class ExtensionManifestSpec extends SparkTestBase {

  test("config-only deployment: a child JVM with spark.sql.extensions=" +
    "GraftExtensions and no Engine.install runs ExtensionsProbe to its OK line") {
    val cmd = Seq("java") ++ StoreServeMain.jdk17AddOpens ++ Seq("-Xmx1g",
      "-cp", System.getProperty("java.class.path"), "graft.ExtensionsProbe")
    val p = new ProcessBuilder(cmd: _*).redirectErrorStream(true).start()
    val out = new String(p.getInputStream.readAllBytes())
    val code = p.waitFor()
    assert(code === 0, s"child JVM died (exit $code):\n${out.takeRight(4000)}")
    assert(out.contains("EXTENSIONS OK"), s"no OK line:\n${out.takeRight(4000)}")
  }

  test("Engine.install on a fresh session registers the whole manifest: " +
    "long_l2, minhash_sig and cms_sketch resolve from SQL") {
    assert(GraftExtensions.Functions.map(_._1.funcName) == Seq(
      "cosine_sim", "long_dot", "long_l2", "simhash64", "hll_distinct",
      "minhash_sketch", "cms_sketch", "minhash_sig", "char_shingles",
      "nfc_normalize", "strip_accents"))
    val fresh = Engine.install(spark.newSession())
    assert(fresh.sql("SELECT long_l2(array(1L, 5L), array(4L, 1L))")
      .head().getLong(0) == 25L)
    assert(fresh.sql(
      "SELECT minhash_sig(array(named_struct('h1', 5L, 'h2', 3L)), 4)")
      .head().getSeq[Long](0) == Seq(5L, 8L, 11L, 14L))
    assert(fresh.sql(
      "SELECT cms_sketch(array(named_struct('h1', 5L, 'h2', 3L)), 2, 4)")
      .head().getSeq[Long](0) == Seq(0L, 1L, 0L, 0L, 1L, 0L, 0L, 0L))
  }

  test("functions are registered only from the manifest: no per-query " +
    "registration in library code, Engine.install called only at the entry points") {
    val files = SourceScan.scalaFiles("src/main")
    def hits(needle: String): Seq[String] = SourceScan.codeHits(files, needle)
    def inFiles(needle: String): Map[String, Int] =
      hits(needle).groupBy(h => new java.io.File(h.takeWhile(_ != ':')).getName)
        .map { case (f, h) => f -> h.size }
    assert(hits("createOrReplaceTempFunction").isEmpty)
    assert(inFiles("registerFunction(") == Map("Engine.scala" -> 1))
    assert(inFiles("injectFunction") == Map("Extensibility.scala" -> 1))
    assert(hits(".register(").isEmpty, "per-object function registration is back")
    assert(inFiles("TopKPerGroup.install(") == Map("Engine.scala" -> 1))
    // the query choke point (queries/entry, dynamicOracleSql) and the four
    // library functions that may be handed a plain session
    assert(inFiles("Engine.install(") ==
      Map("SparkEntry.scala" -> 2, "Similarity.scala" -> 2, "Dedup.scala" -> 2),
      hits("Engine.install(").mkString(", "))
  }
}
