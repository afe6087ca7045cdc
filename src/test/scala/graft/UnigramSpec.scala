package graft

import org.apache.spark.sql.functions._

/** Spec weight for the unigram-LM tokenizer (t36/t37). Training now ALSO
  * has a dynamic DuckDB oracle (TokenizerOracles.t36Sql unrolls the
  * fixed-iters hard-EM loop into chained CTEs), so these tests carry the
  * complementary evidence: route equality, from-scratch recounts, and
  * the structural invariants of a correct tokenizer.
  */
class UnigramSpec extends SparkTestBase {

  test("viterbi: pieces concatenate back to the word, ties pick the " +
    "longest last piece, and a cheap whole-word piece wins") {
    val cost = Map("a" -> 100L, "b" -> 100L, "ab" -> 150L, "abab" -> 10L)
    assert(ops.UnigramTokenizer.viterbi("abab", cost) == Seq("abab"))
    // equal-cost split ("ab"+"ab"=300 vs "ab","a","b"=350 ...): check
    // concatenation invariant on a word with no whole-word entry
    val segs = ops.UnigramTokenizer.viterbi("ababa", cost)
    assert(segs.mkString == "ababa", s"must reconstruct: $segs")
    // tie between ("a")("b") chains and "ab": 150 < 200 so "ab" wins
    assert(ops.UnigramTokenizer.viterbi("ab", cost) == Seq("ab"))
    // unknown chars must throw, not silently drop
    intercept[IllegalArgumentException](ops.UnigramTokenizer.viterbi("xyz", cost))
  }

  test("driver and distributed routes are bit-identical on the real " +
    "corpus: same piece table, same per-type segmentation") {
    import ops.UnigramTokenizer.{learnDistributed, learnDriver}
    val s = spark
    import s.implicits._
    val census = ops.Dedup.reuse(ops.UnigramTokenizer.wordCensus(spark, sf0001))
    val rows = census.select("word", "freq").as[(String, Long)]
      .collect().sortBy(_._1).toSeq
    val (driver, segD) = learnDriver(rows)
    val (dist, segX) = learnDistributed(spark, census)
    assert(driver.length == dist.length,
      s"vocab sizes differ: ${driver.length} vs ${dist.length}")
    driver.zip(dist).foreach { case (a, b) =>
      assert(a == b, s"piece-table row diverged: $a vs $b")
    }
    val perTypeX = segX.as[(String, Long)].collect().toMap
    assert(perTypeX.size == rows.size && segD.toMap == perTypeX,
      "per-type segmentation counts diverged between routes")
  }

  test("E-step counts recounted from scratch: Viterbi under the final " +
    "cost table, applied per word type weighted by frequency, " +
    "reproduces n_uses for every non-char piece") {
    val table = SparkEntry.queries("t36_unigram_pieces")(spark, sf0001).collect()
    val cost = table.map(r => r.getString(1) -> r.getLong(3)).toMap
    val census = Tables.documents(spark, sf0001)
      .select(explode(split(col("text"), " ")).as("w"))
      .filter(length(col("w")) > 0)
      .groupBy("w").count().collect()
      .map(r => r.getString(0) -> r.getLong(1))
    val recount = scala.collection.mutable.HashMap.empty[String, Long]
    census.foreach { case (w, f) =>
      ops.UnigramTokenizer.viterbi(w, cost)
        .foreach(p => recount(p) = recount.getOrElse(p, 0L) + f)
    }
    table.foreach { r =>
      val (p, c) = (r.getString(1), r.getLong(2))
      // chars may legitimately have zero uses (closure-only survivors);
      // every reported count must equal the recount
      assert(recount.getOrElse(p, 0L) == c,
        s"piece '$p': reported $c != recount ${recount.getOrElse(p, 0L)}")
    }
  }

  test("t37 envelope on the real corpus: n_words <= n_tokens <= n_chars, " +
    "and the whole corpus is covered") {
    val docs = Tables.documents(spark, sf0001)
      .select(col("doc_id"), col("text")).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    val rows = SparkEntry.queries("t37_unigram_segment")(spark, sf0001).collect()
    assert(rows.length == docs.size, "every doc must be segmented")
    rows.foreach { r =>
      val (id, nw, nt) = (r.getLong(0), r.getLong(1), r.getLong(2))
      val nonSpace = docs(id).count(_ != ' ').toLong
      assert(nw <= nt, s"fewer tokens than words for doc $id: $r")
      assert(nt <= nonSpace, s"more tokens than chars for doc $id: $r")
    }
  }

  test("viterbi is OPTIMAL: for every word up to length 6 over a random " +
    "cost table, the DP cost equals exhaustive enumeration over all " +
    "2^(n-1) segmentations") {
    val rng = new scala.util.Random(42)
    val alphabet = "ab"
    val pieces = (for {
      len <- 1 to 4
      s <- Seq.fill(40)((0 until len).map(_ => alphabet(rng.nextInt(2))).mkString)
    } yield s).distinct
    val cost: Map[String, Long] =
      pieces.map(p => p -> (100L + rng.nextInt(1000)).toLong).toMap
    def bruteBest(w: String): Option[Long] = {
      def go(i: Int): Option[Long] =
        if (i == w.length) Some(0L)
        else (1 to math.min(4, w.length - i)).flatMap { l =>
          cost.get(w.substring(i, i + l))
            .flatMap(c => go(i + l).map(_ + c))
        }.reduceOption(_ min _)
      go(0)
    }
    val words = for {
      n <- 1 to 6
      _ <- 1 to 30
    } yield (0 until n).map(_ => alphabet(rng.nextInt(2))).mkString
    words.distinct.foreach { w =>
      val expected = bruteBest(w)
      expected match {
        case Some(c) =>
          val segs = ops.UnigramTokenizer.viterbi(w, cost)
          assert(segs.mkString == w, s"'$w': segments must concatenate back")
          val got = segs.map(cost).sum
          assert(got == c, s"'$w': viterbi $got != brute-force optimum $c")
        case None =>
          intercept[IllegalArgumentException](ops.UnigramTokenizer.viterbi(w, cost))
      }
    }
  }

  test("t39 fertility report totals equal the sums of t31 and t37's " +
    "own per-doc outputs, and every fertility ratio is >= 1") {
    val rep = SparkEntry.queries("t39_tokenizer_fertility")(spark, sf0001).collect()
    val bpe = SparkEntry.queries("t31_bpe_segment")(spark, sf0001).collect()
    val uni = SparkEntry.queries("t37_unigram_segment")(spark, sf0001).collect()
    assert(rep.map(_.getLong(1)).sum == bpe.map(_.getLong(1)).sum,
      "word totals diverge from t31")
    assert(rep.map(_.getLong(2)).sum == bpe.map(_.getLong(2)).sum,
      "BPE token totals diverge from t31")
    assert(rep.map(_.getLong(3)).sum == uni.map(_.getLong(2)).sum,
      "unigram token totals diverge from t37")
    rep.foreach { r =>
      assert(r.getDouble(4) >= 1.0 && r.getDouble(5) >= 1.0,
        s"a word can never cost less than one token: $r")
    }
  }

  test("d42 overlap fractions are consistent with d13's contamination " +
    "flag: dirty > 0 iff n_hits > 0, fractions in [0, 1]") {
    val rows = SparkEntry.queries("d42_contamination_fraction")(spark, sf001)
      .collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (ng, nh, ov) = (r.getLong(1), r.getLong(2), r.getDouble(3))
      assert(nh <= ng, s"hits exceed grams: $r")
      assert(ov >= 0.0 && ov <= 1.0, s"fraction out of range: $r")
      assert((nh > 0) == (ov > 0.0), s"fraction/hits disagree: $r")
    }
    assert(rows.exists(_.getLong(2) > 0),
      "fixture must contain contaminated docs or the test is vacuous")
    // cross-check the flag aggregate against d13's contaminated bucket
    val d13 = SparkEntry.queries("d13_ngram_decontaminate")(spark, sf001)
      .collect().map(r => r.getBoolean(0) -> r.getLong(1)).toMap
    assert(rows.count(_.getLong(2) > 0).toLong == d13.getOrElse(true, 0L),
      "docs-with-hits must equal d13's contaminated count")
  }

  test("EM actually compresses: after training, the corpus costs no more " +
    "tokens than a chars-only segmentation, and strictly fewer when any " +
    "multi-char piece survives") {
    val table = SparkEntry.queries("t36_unigram_pieces")(spark, sf0001).collect()
    val hasMulti = table.exists(_.getString(1).length > 1)
    val rows = SparkEntry.queries("t37_unigram_segment")(spark, sf0001).collect()
    val totTok = rows.map(_.getLong(2)).sum
    val totChars = Tables.documents(spark, sf0001)
      .select(sum(length(regexp_replace(col("text"), " ", ""))))
      .head().getLong(0)
    assert(totTok <= totChars, "unigram tokens exceed char segmentation")
    if (hasMulti) assert(totTok < totChars,
      "multi-char pieces survived but bought no compression")
  }
}
