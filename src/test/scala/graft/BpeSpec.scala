package graft

import org.apache.spark.sql.functions._

/** Adversarial evidence for the BPE trainer (t30/t31) — the merge loop is
  * not expressible in portable SQL, so these specs carry the correctness
  * weight the DuckDB oracle carries elsewhere: route equivalence
  * (distributed == driver), independent recount of the first merge,
  * end-to-end agreement with a plain Scala reference segmentation, and
  * the token-count envelope.
  */
class BpeSpec extends SparkTestBase {

  private def writeDocs(rows: Seq[(Long, String)]): String = {
    val dir = java.nio.file.Files.createTempDirectory("graft-bpe").toString
    val s = spark
    import s.implicits._
    rows.map { case (id, t) => (id, t, "en", "src0") }
      .toDF("doc_id", "text", "lang", "source")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    dir
  }

  test("t30/t31: the distributed merge loop and the driver fast path " +
    "produce identical merges and identical segmentation counts") {
    import ops.BpeTokenizer
    val s = spark
    import s.implicits._
    val census = ops.Dedup.reuse(BpeTokenizer.wordCensus(spark, sf0001))
    val rows = census.select("word", "freq").as[(String, Long)]
      .collect().sortBy(_._1).toSeq
    val (mDriver, segDriver) = BpeTokenizer.learnDriver(rows, BpeTokenizer.Merges)
    val (mDist, segDist) = BpeTokenizer.learnDistributed(census, BpeTokenizer.Merges)
    assert(mDriver.nonEmpty && mDriver == mDist,
      "distributed merge table diverged from the driver route")
    val perTypeDist = segDist.as[(String, Int)].collect().toMap
    assert(perTypeDist.size == rows.size && segDriver.toMap == perTypeDist,
      "distributed segmentation diverged from the driver route")
  }

  test("t30: rank-1 merge is the independently-recounted hottest adjacent " +
    "char pair, and merged symbols compose from earlier ranks") {
    val s = spark
    import s.implicits._
    val merges = SparkEntry.queries("t30_bpe_merges")(spark, sf0001).collect()
    // independent recount: explode every adjacent char pair of every word
    // occurrence straight off the corpus, no BPE machinery involved
    val top = Tables.documents(spark, sf0001)
      .select(explode(split($"text", " ")).as("w")).filter(length($"w") >= 2)
      .select(explode(expr(
        """transform(sequence(1, length(w) - 1),
           i -> struct(substring(w, i, 1) AS l, substring(w, i + 1, 1) AS r))"""))
        .as("p"))
      .groupBy($"p.l", $"p.r").agg(count(lit(1)).as("n"))
      .orderBy($"n".desc, $"l", $"r").limit(1)
      .as[(String, String, Long)].collect().head
    val first = merges.head
    assert((first.getString(1), first.getString(2), first.getLong(4)) == top,
      s"rank-1 merge ${first.toSeq} != recounted hottest pair $top")
    // every later merge's sides are single chars or earlier merged symbols
    val known = scala.collection.mutable.Set[String]()
    merges.foreach { m =>
      val (l, r) = (m.getString(1), m.getString(2))
      assert(l.length == 1 || known.contains(l), s"left side $l unknown at rank ${m.getInt(0)}")
      assert(r.length == 1 || known.contains(r), s"right side $r unknown at rank ${m.getInt(0)}")
      known += m.getString(3)
    }
    // ranks strictly ordered, pair support non-increasing is NOT required
    // (merges change pair counts), but every support must be >= 2
    assert(merges.map(_.getInt(0)).toSeq == (1 to merges.length))
    assert(merges.forall(_.getLong(4) >= 2))
  }

  test("t31: segmentation counts equal a plain Scala reference that " +
    "learns and applies the same merges from scratch") {
    val docs = Seq(
      (1L, "aaaa aaaa abab"),
      (2L, "banana bandana"),
      (3L, "abab abab aaaa"),
      (4L, "x"))
    val dir = writeDocs(docs)
    val got = ops.BpeTokenizer.segmentDocs(spark, dir, k = 6)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    // reference: word freqs -> driver BPE -> greedy apply -> doc sums
    val words = docs.flatMap(_._2.split(" ")).filter(_.nonEmpty)
    val freq = words.groupBy(identity).map { case (w, g) => (w, g.size.toLong) }
      .toSeq.sortBy(_._1)
    val (merges, seg) = graft.ops.BpeTokenizer.learnDriver(freq, 6)
    assert(merges.nonEmpty)
    val ntok = seg.toMap
    val want = docs.map { case (id, text) =>
      val ws = text.split(" ").filter(_.nonEmpty)
      id -> (ws.length.toLong, ws.map(w => ntok(w).toLong).sum)
    }.toMap
    assert(got == want, s"engine $got != reference $want")
  }

  test("t31 envelope at sf0.001: n_words <= n_bpe_tokens <= total word " +
    "chars for every doc, and zero merges degenerates to chars") {
    val s = spark
    import s.implicits._
    val seg = SparkEntry.queries("t31_bpe_segment")(spark, sf0001)
      .as[(Long, Long, Long)].collect()
    assert(seg.length > 0)
    val chars = Tables.documents(spark, sf0001)
      .select($"doc_id", explode(split($"text", " ")).as("w"))
      .filter(length($"w") > 0)
      .groupBy("doc_id").agg(sum(length($"w")).as("nc"))
      .as[(Long, Long)].collect().toMap
    seg.foreach { case (id, nw, nb) =>
      assert(nw <= nb && nb <= chars(id),
        s"doc $id: envelope violated ($nw, $nb, ${chars(id)})")
    }
    // k=0 merges: every token is a single char
    val flat = ops.BpeTokenizer.segmentDocs(spark, sf0001, k = 0)
      .as[(Long, Long, Long)].collect()
    flat.foreach { case (id, _, nb) =>
      assert(nb == chars(id), s"doc $id: k=0 gave $nb tokens != ${chars(id)} chars")
    }
  }
}
