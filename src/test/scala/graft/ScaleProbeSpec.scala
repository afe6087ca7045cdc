package graft

/** The scale probe's own contract: prefix selection, the synthetic
  * corpus it measures on, and that it stays the only scale-probe main. */
class ScaleProbeSpec extends SparkTestBase {

  test("ScaleProbe.select resolves name prefixes against SparkEntry.queries, " +
    "and a prefix that matches no query throws") {
    assert(ScaleProbe.select(Seq("d08", "d03", "q01")) ==
      Seq("d03_minhash_lsh", "d08_dedup_groups", "q01_pricing_summary"))
    val family = ScaleProbe.select(Seq("q"))
    assert(family.nonEmpty && family == SparkEntry.queries.keys.toSeq
      .filter(_.startsWith("q")).sorted)
    val e = intercept[IllegalArgumentException](ScaleProbe.select(Seq("d03", "zz9")))
    assert(e.getMessage.contains("zz9") && !e.getMessage.contains("d03"))
    intercept[IllegalArgumentException](ScaleProbe.select(Seq("", "d03")))
  }

  test("synthCorpus at 300 docs, vocab 40, is deterministic across two calls " +
    "and readable by Tables.documents/Tables.embeddings") {
    def read(dir: String) = (Tables.documents(spark, dir).orderBy("doc_id").collect(),
      Tables.embeddings(spark, dir).orderBy("vec_id").collect())
    def digest(rows: Array[org.apache.spark.sql.Row]): String =
      java.security.MessageDigest.getInstance("MD5")
        .digest(rows.mkString("\n").getBytes("UTF-8")).map(b => f"$b%02x").mkString
    val a = ScaleProbe.synthCorpus(spark, 300L, 50L, "graft_sps_a", parts = 2, vocabSize = 40)
    val b = ScaleProbe.synthCorpus(spark, 300L, 50L, "graft_sps_b", parts = 3, vocabSize = 40)
    assert(a != b)
    val (docs, vecs) = read(a)
    val (docsB, vecsB) = read(b)
    assert(docs.length == 300 && vecs.length == 50)
    assert(digest(docs ++ vecs) == digest(docsB ++ vecsB), "same arguments, different corpus")

    assert(Tables.documents(spark, a).columns.toSeq ==
      Seq("doc_id", "text", "lang", "source", "n_chars"))
    val vocab = docs.flatMap(_.getAs[String]("text").split(" ")).distinct.length
    assert(vocab > 31 && vocab <= 40, s"vocab $vocab outside (31, 40]")
    assert(vecs.map(_.getAs[Seq[Float]]("embedding").length).distinct.toSeq == Seq(64))
  }

  test("ScaleProbe is the only scale-probe main under src/test") {
    val files = SourceScan.scalaFiles("src/test")
    val probeObject = """^\s*object\s+(\w*ScaleProbe\w*)""".r
    val objects = files.flatMap { f =>
      val src = scala.io.Source.fromFile(f, "UTF-8")
      try src.getLines().flatMap(l => probeObject.findFirstMatchIn(l))
        .map(m => s"${m.group(1)} (${f.getName})").toList
      finally src.close()
    }
    assert(objects == Seq("ScaleProbe (ScaleProbe.scala)"),
      s"scale-probe objects besides ScaleProbe: ${objects.mkString(", ")}")
  }
}
