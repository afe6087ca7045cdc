package graft

import graft.ops.TextAnalysis
import org.apache.spark.sql.functions._

/** Round-5 depth items: tokenizer parametricity, pipe arg quoting, and
  * multimodal hygiene pinned at the unit level. */
class RoundFiveSpec extends SparkTestBase {
  import spark.implicits._

  test("unicode tokenizer recovers letter/digit runs incl. non-ASCII scripts") {
    val df = Seq(
      "Customer#000000001 (nation#7); ok",
      "héllo wörld-42 ñandú",
      "").toDF("t")
    val got = df.select(TextAnalysis.tokens($"t", "unicode").as("tk"))
      .as[Seq[String]].collect()
    assert(got(0) == Seq("Customer", "000000001", "nation", "7", "ok"))
    assert(got(1) == Seq("héllo", "wörld", "42", "ñandú"))
    assert(got(2) == Seq.empty)
    // whitespace mode keeps punctuation glued — the modes really differ
    val ws = df.select(TextAnalysis.tokens($"t", "whitespace").as("tk"))
      .as[Seq[String]].collect()
    assert(ws(0) == Seq("Customer#000000001", "(nation#7);", "ok"))
  }

  test("unknown tokenizer mode is rejected eagerly") {
    intercept[IllegalArgumentException] {
      TextAnalysis.tokens($"t", "bpe")
    }
  }

  test("sequence packing: bin = starting token offset div window; docs are " +
    "never split and assignment is order-deterministic") {
    // window 512: doc starting below the boundary lands in the earlier
    // bin even when it overflows it (census semantics — bins record where
    // a doc STARTS; the physical packer decides about splitting)
    val docs = Seq(
      (1L, "src", 300L), (2L, "src", 300L), (3L, "src", 300L))
      .toDF("doc_id", "source", "n_tok")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy($"source").orderBy($"doc_id")
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
        org.apache.spark.sql.expressions.Window.currentRow)
    val bins = docs.withColumn("cum", sum($"n_tok").over(w))
      .withColumn("bin", expr("(cum - n_tok) div 512"))
      .select($"doc_id", $"bin").as[(Long, Long)].collect().toMap
    // starts at 0, 300, 600 → bins 0, 0, 1
    assert(bins == Map(1L -> 0L, 2L -> 0L, 3L -> 1L))
  }

  test("minhash_sketch aggregate: partition-independent, equals the " +
    "relational register formulation, rejects bad input") {
    import graft.functions.MinHashSketch
    import graft.ops.Dedup
    val docs = Seq(
      (1L, "s1", "alpha beta gamma delta epsilon zeta"),
      (2L, "s1", "eta theta iota kappa lambda mu"),
      (3L, "s2", "nu xi omicron pi rho sigma")).toDF("doc_id", "source", "text")
    def viaAgg(parts: Int): Map[(String, Int), Long] =
      docs.repartition(parts)
        .select($"source", split($"text", " ").as("ws"))
        .select($"source", expr(
          "transform(sequence(1, greatest(size(ws) - 2, 1)), " +
            "i -> concat_ws(' ', element_at(ws, i), element_at(ws, i + 1), element_at(ws, i + 2)))")
          .as("sh"))
        .select($"source", Dedup.shingleHashPairs($"sh").as("hv"))
        .groupBy("source").agg(MinHashSketch.minhash_sketch($"hv", 8).as("sk"))
        .select($"source", posexplode($"sk").as(Seq("seed", "mh")))
        .as[(String, Int, Long)].collect()
        .map(r => (r._1, r._2) -> r._3).toMap
    // relational formulation: min over h1 + seed*h2 per (source, seed)
    val relational = docs
      .select($"source", split($"text", " ").as("ws"))
      .select($"source", expr(
        "transform(sequence(1, greatest(size(ws) - 2, 1)), " +
          "i -> concat_ws(' ', element_at(ws, i), element_at(ws, i + 1), element_at(ws, i + 2)))")
        .as("sh"))
      .select($"source", explode(Dedup.shingleHashPairs($"sh")).as("p"))
      .select($"source", explode(expr("sequence(0, 7)")).as("seed"),
        ($"p.h1" + col("seed") * $"p.h2").as("h"))
      .groupBy("source", "seed").agg(min($"h").as("mh"))
      .as[(String, Int, Long)].collect().map(r => (r._1, r._2) -> r._3).toMap
    val one = viaAgg(1)
    assert(one == relational, "aggregate must equal the register formulation")
    assert(viaAgg(7) == one, "sketch must be partition-independent")
    // analysis-time rejection of a wrong input type
    val e = intercept[Exception] {
      docs.groupBy("source")
        .agg(MinHashSketch.minhash_sketch($"text", 8)).collect()
    }
    assert(e.getMessage.contains("minhash_sketch") || e.getMessage.contains("DATATYPE"))
  }

  test("jaccardVerifiedPairs matches a scala-reference Jaccard on random corpora") {
    import graft.ops.Dedup
    val rnd = new scala.util.Random(42)
    val vocab = Vector("aa", "bb", "cc", "dd", "ee", "ff", "gg", "hh")
    val docs = (0L until 30L).map { i =>
      (i, Seq.fill(6 + rnd.nextInt(10))(vocab(rnd.nextInt(vocab.size))).mkString(" "))
    }
    val docsDf = docs.toDF("doc_id", "text")
    val pairs = (for (a <- 0L until 30L; b <- a + 1 until 30L if rnd.nextBoolean())
      yield (a, b)).toDF("id_a", "id_b")
    val got = Dedup.jaccardVerifiedPairs(pairs,
      Dedup.wordShingleHashes(docsDf, "doc_id", "text", 2), tau = 0.3)
      .as[(Long, Long, Double)].collect()
      .map(r => (r._1, r._2) -> r._3).toMap
    // scala reference: exact Jaccard over distinct word-bigram sets
    def grams(t: String): Set[String] = {
      val ws = t.split(" ")
      if (ws.length < 2) Set(ws.mkString(" "))
      else ws.sliding(2).map(_.mkString(" ")).toSet
    }
    val byId = docs.toMap
    val expected = pairs.as[(Long, Long)].collect().flatMap { case (a, b) =>
      val (ga, gb) = (grams(byId(a)), grams(byId(b)))
      val j = (ga & gb).size.toDouble / (ga | gb).size
      if (j >= 0.3) Some((a, b) -> j) else None
    }.toMap
    assert(got.keySet == expected.keySet)
    expected.foreach { case (k, j) => assert(math.abs(got(k) - j) < 1e-12) }
  }

  test("minhash sketch merge: sketch of a union == elementwise min of part " +
    "sketches (distributive aggregate), on disjoint synthetic corpora") {
    import graft.ops.Dedup
    val part1 = Seq((1L, "alpha beta gamma delta epsilon zeta"),
      (2L, "eta theta iota kappa lambda mu")).toDF("doc_id", "text")
    val part2 = Seq((3L, "nu xi omicron pi rho sigma")).toDF("doc_id", "text")
    def sketch(df: org.apache.spark.sql.DataFrame): Map[Long, Long] =
      df.select(split($"text", " ").as("ws"))
        .select(expr(
          "transform(sequence(1, greatest(size(ws) - 2, 1)), " +
            "i -> concat_ws(' ', element_at(ws, i), element_at(ws, i + 1), element_at(ws, i + 2)))")
          .as("sh"))
        .select(explode(Dedup.shingleHashPairs($"sh")).as("p"))
        .select(explode(expr("sequence(0L, 7L)")).as("seed"), $"p.h1", $"p.h2")
        .groupBy("seed").agg(min($"h1" + $"seed" * $"h2").as("mh"))
        .as[(Long, Long)].collect().toMap
    val s1 = sketch(part1); val s2 = sketch(part2)
    val direct = sketch(part1.unionAll(part2))
    val merged = s1.map { case (seed, v) => seed -> math.min(v, s2(seed)) }
    assert(merged == direct)
  }
}
