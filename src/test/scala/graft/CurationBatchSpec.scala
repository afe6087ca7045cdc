package graft

import org.apache.spark.sql.classic.ClassicConversions.castToImpl
import org.apache.spark.sql.functions._

/** Contracts for the round-7 curation batch: d38 repeated-segment
  * removal, t25 DSIR importance scoring, t26 perplexity bucketing, t27
  * exact stratified sampling. Each test pins the semantic invariant the
  * DuckDB hash-compare cannot express (planted-case recovery, ranking
  * direction, bucket balance, partitioning invariance).
  */
class CurationBatchSpec extends SparkTestBase {

  private def writeDocs(rows: Seq[(Long, String, String, String)]): String = {
    val dir = java.nio.file.Files.createTempDirectory("graft-curation").toString
    val s = spark
    import s.implicits._
    rows.toDF("doc_id", "text", "lang", "source")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    dir
  }

  test("d38: a segment planted in 3 docs is removed from each; unique docs pass through untouched") {
    val boiler = (1 to 15).map(i => s"b$i").mkString(" ")
    val docs = Seq(
      (1L, s"$boiler alpha beta gamma delta eps", "en", "src0"),
      (2L, s"$boiler zeta eta theta iota kappa", "en", "src0"),
      (3L, s"$boiler lambda mu nu xi omicron", "en", "src0"),
      (4L, "pi rho sigma tau upsilon phi chi psi omega one two three four five six", "en", "src0"))
    val dir = writeDocs(docs)
    val out = SparkEntry.queries("d38_segment_dedup")(spark, dir)
      .collect().map(r => r.getLong(0) -> r).toMap
    // planted docs: 2 segments, the boilerplate one removed, the tail kept
    for (id <- 1L to 3L) {
      val r = out(id)
      assert(r.getLong(1) == 2L, s"doc $id n_seg")
      assert(r.getLong(2) == 1L, s"doc $id n_removed")
    }
    // doc 1's cleaned text is exactly its unique tail
    val tail1 = "alpha beta gamma delta eps"
    assert(out(1L).getLong(3) == tail1.length.toLong)
    assert(out(1L).getString(4) ==
      java.security.MessageDigest.getInstance("MD5")
        .digest(tail1.getBytes("UTF-8")).map("%02x".format(_)).mkString)
    // doc 4 (unique, single 14-word segment < window width): nothing removed
    assert(out(4L).getLong(2) == 0L)
    assert(out(4L).getLong(3) == docs(3)._2.length.toLong)
  }

  test("d38: segment text never crosses a hash shuffle — census and removal ride 8-byte hashes") {
    val prev = spark.conf.get("spark.sql.adaptive.enabled")
    try {
      spark.conf.set("spark.sql.adaptive.enabled", "false")
      val plan = SparkEntry.queries("d38_segment_dedup")(spark, sf0001)
        .queryExecution.executedPlan
      val shuffled = plan.collect {
        case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
            if e.outputPartitioning
              .isInstanceOf[org.apache.spark.sql.catalyst.plans.physical.HashPartitioning] =>
          e.output.map(_.name)
      }
      assert(shuffled.nonEmpty)
      val leaked = shuffled.filter(_.exists(c => c == "seg" || c == "text"))
      assert(leaked.isEmpty, s"segment/document text crosses a shuffle: $leaked")
    } finally spark.conf.set("spark.sql.adaptive.enabled", prev)
  }

  test("t25: docs sharing the target slice's vocabulary outrank out-of-vocab docs") {
    // target sources speak vocab A; src9 speaks vocab B except two probe
    // docs written in vocab A — DSIR must pull the probes to the top of
    // the raw ranking even though their source is non-target.
    val vocabA = (1 to 30).map(i => s"a$i").mkString(" ")
    val vocabB = (1 to 30).map(i => s"z$i").mkString(" ")
    val rows =
      (1L to 20L).map(i => (i, vocabA, "en", s"src${i % 4}")) ++
        (21L to 40L).map(i => (i, vocabB, "en", "src9")) ++
        Seq((41L, vocabA, "en", "src9"), (42L, vocabA, "en", "src9"))
    val dir = writeDocs(rows)
    val ranked = SparkEntry.queries("t25_dsir_importance")(spark, dir)
      .select("rank", "doc_id").collect().map(r => r.getLong(1) -> r.getLong(0)).toMap
    val probeWorst = Seq(41L, 42L).map(ranked).max
    val vocabBBest = (21L to 40L).map(ranked).min
    assert(probeWorst < vocabBBest,
      s"vocab-A probes (worst rank $probeWorst) must outrank every vocab-B doc (best $vocabBBest)")
  }

  test("t25: the log-ratio table enters the scoring join broadcast-side; top-100 rides TakeOrdered") {
    val p = SparkEntry.queries("t25_dsir_importance")(spark, sf0001)
      .queryExecution.executedPlan.toString
    assert(p.contains("BroadcastHashJoin"), s"bucket scoring join not broadcast:\n$p")
    assert(p.contains("TakeOrderedAndProject"), s"top-100 is not the bounded heap:\n$p")
  }

  test("t26: every language splits into thirds — sizes differ by at most 1 and cover all docs") {
    val out = SparkEntry.queries("t26_perplexity_buckets")(spark, sf0001)
      .select("lang", "bucket", "n_docs").collect()
      .groupBy(_.getString(0)).view.mapValues(_.map(r => r.getLong(1) -> r.getLong(2)).toMap)
    val perLang = Tables.documents(spark, sf0001).groupBy("lang").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    for ((lang, buckets) <- out) {
      assert(buckets.keySet.subsetOf(Set(1L, 2L, 3L)), s"$lang buckets: ${buckets.keySet}")
      assert(buckets.values.sum == perLang(lang), s"$lang coverage")
      assert(buckets.values.max - buckets.values.min <= 1L, s"$lang balance: $buckets")
    }
  }

  test("t28: no duplicate cluster ever spans splits, and the repair is non-vacuous") {
    import graft.ops.Dedup
    val docs = Tables.documents(spark, sf0001)
    val (buckets, shingles) = Dedup.lshBucketsAndShingles(docs, "doc_id", "text",
      shingleWords = 3, bands = 4, rowsPerBand = 2)
    val comp = Dedup.connectedComponents(Dedup.jaccardVerifiedPairs(
      Dedup.candidatePairs(buckets, materialize = false), shingles, tau = 0.5))
    def bucketOf(c: org.apache.spark.sql.Column) =
      conv(substring(md5(c.cast("string")), 1, 4), 16, 10).cast("long") % 100
    def splitOf(b: org.apache.spark.sql.Column) =
      when(b < 90, "train").when(b < 95, "val").otherwise("test")
    val assigned = docs.select(col("doc_id"))
      .join(comp.select(col("id").as("doc_id"), col("component")), Seq("doc_id"), "left")
      .withColumn("cluster", coalesce(col("component"), col("doc_id")))
      .withColumn("split", splitOf(bucketOf(col("cluster"))))
      .withColumn("doc_split", splitOf(bucketOf(col("doc_id"))))
    // the contract: cluster → exactly one split
    val spanning = assigned.groupBy("cluster")
      .agg(countDistinct(col("split")).as("ns")).filter(col("ns") > 1).count()
    assert(spanning == 0L, s"$spanning clusters span splits")
    // the doc-keyed rule DOES leak on this fixture — the repair moved docs
    val moved = assigned.filter(col("split") =!= col("doc_split")).count()
    assert(moved > 0L, "expected the cluster-keyed split to move at least one doc")
    // and the leaked clusters are real: some multi-doc cluster had members
    // on both sides of the doc-keyed rule
    val docLeaky = assigned.groupBy("cluster")
      .agg(countDistinct(col("doc_split")).as("ns")).filter(col("ns") > 1).count()
    assert(docLeaky > 0L, "fixture should contain doc-level split leakage")
  }

  test("d39: an embedded document scores containment 1.0 while staying under the Jaccard gate") {
    import graft.ops.Dedup
    val s = spark
    import s.implicits._
    val small = (1 to 30).map(i => s"w$i").mkString(" ")
    val big = small + " " + (31 to 70).map(i => s"w$i").mkString(" ")
    val docs = Seq((1L, small), (2L, big)).toDF("doc_id", "text")
    val shingles = Dedup.wordShingleHashes(docs, "doc_id", "text", k = 3)
    val pairs = Seq((1L, 2L)).toDF("id_a", "id_b")
    val r = Dedup.pairOverlapStats(pairs, shingles)
      .select("ni", "na", "nb").as[(Long, Long, Long)].collect().head
    val (ni, na, nb) = r
    assert(ni == na, s"small doc's shingles must be fully contained: $r")
    val jaccard = ni.toDouble / (na + nb - ni)
    assert(jaccard < 0.5, s"planted pair must sit under the d15 gate: $jaccard")
    // containment = ni / min(na, nb) = 1.0 — the asymmetric dup the
    // symmetric gate misses
    assert(ni.toDouble / math.min(na, nb) == 1.0)
  }

  test("d40: every mined negative sits under the dup gate, and the gate provably bites") {
    val rows = SparkEntry.queries("d40_hard_negatives")(spark, sf0001)
      .select("qid", "cosine", "n_excluded").collect()
    assert(rows.length == 50) // 10 queries × top-5
    assert(rows.forall(_.getDouble(1) < 0.30), "a near-dup leaked into the negative pool")
    assert(rows.exists(_.getLong(2) > 0L), "the dup gate excluded nothing — vacuous fixture")
  }

  /** d15's verified-pair stats over `sf`: the default route (the
    * footer gate's choice) next to the map-side bloom forced by a pair
    * threshold of 0. */
  private def d15PairStatsBothRoutes(sf: String)
      : (Seq[org.apache.spark.sql.Row], Seq[org.apache.spark.sql.Row]) = {
    import ops.Dedup
    val (buckets, shingles) = Dedup.lshBucketsAndShingles(
      Tables.documents(spark, sf), "doc_id", "text",
      shingleWords = 3, bands = 4, rowsPerBand = 2)
    val pairs = Dedup.candidatePairs(buckets, materialize = false)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select("id_a", "id_b", "ni", "na", "nb").orderBy("id_a", "id_b").collect().toSeq
    (rows(Dedup.pairOverlapStats(pairs, shingles)),
      rows(Dedup.pairOverlapStats(pairs, shingles, bloomAbovePairs = Some(0L))))
  }

  test("d15: the bloom candidate-restriction route is bit-identical to the exact semi-join") {
    // a fixture corpus sits under the gate, so the default route is the
    // exact left-semi. False positives must never reach the pair stats.
    val (viaSemi, viaBloom) = d15PairStatsBothRoutes(sf001)
    assert(viaBloom == viaSemi, "bloom route changed the verified pair stats")
    assert(viaBloom.nonEmpty)
  }

  test("d15 auto route: the parquet-footer gate reads the exact corpus " +
    "count without a job, and an auto-engaged bloom cut is bit-identical " +
    "to the default semi-join route") {
    import ops.Dedup.{AutoBloomDocs, AutoBloomPairs, bloomGate, footerRowCount}
    // footer metadata == the true row count (this is the zero-job signal
    // the auto gate routes on)
    val docs = Tables.documents(spark, sf0001)
    assert(footerRowCount(docs).contains(docs.count()))
    // the gate at its constants: shut up to AutoBloomDocs corpus rows,
    // open (at AutoBloomPairs candidate pairs) above them
    assert(bloomGate(footerRowCount(docs)).isEmpty,
      "a fixture corpus must keep the exact semi-join route")
    assert(bloomGate(Some(AutoBloomDocs)).isEmpty)
    assert(bloomGate(Some(AutoBloomDocs + 1)).contains(AutoBloomPairs))
    // a frame with no parquet footers is of unknown size: gate stays shut
    val mem = spark.range(10).toDF("id")
    assert(footerRowCount(mem).isEmpty && bloomGate(footerRowCount(mem)).isEmpty)
    // the engaged bloom cut changes nothing against the default route
    val (base, bloom) = d15PairStatsBothRoutes(sf0001)
    assert(bloom == base, "auto-engaged bloom route changed the output")
  }

  test("t27: exactly ceil(n/5) docs per stratum, identical under any shuffle-partition count") {
    val kept = SparkEntry.queries("t27_stratified_sample")(spark, sf0001)
      .groupBy("source", "lang").agg(count(lit(1)).as("k"), max("smp_rank").as("mx"))
      .collect().map(r => (r.getString(0), r.getString(1)) -> (r.getLong(2), r.getLong(3))).toMap
    val strata = Tables.documents(spark, sf0001).groupBy("source", "lang").count()
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    assert(kept.keySet == strata.keySet.filter { k => (strata(k) + 4) / 5 > 0 })
    for ((k, n) <- strata) {
      val want = (n + 4) / 5
      assert(kept(k) == (want, want), s"stratum $k: got ${kept(k)}, want ceil($n/5)=$want")
    }
    // determinism: the sampled ids must not depend on the partition count
    val prev = spark.conf.get("spark.sql.shuffle.partitions")
    def ids(): Seq[Long] =
      SparkEntry.queries("t27_stratified_sample")(spark, sf0001)
        .select("doc_id").collect().map(_.getLong(0)).toSeq.sorted
    try {
      spark.conf.set("spark.sql.shuffle.partitions", "3")
      val a = ids()
      spark.conf.set("spark.sql.shuffle.partitions", "11")
      val b = ids()
      assert(a == b, "sample changed with shuffle partitioning")
    } finally spark.conf.set("spark.sql.shuffle.partitions", prev)
  }

  test("t29: census-formulated bigram-LM score equals the naive " +
    "per-occurrence formulation, and the count tables reach the plan " +
    "only via the explicit hot/tot broadcasts") {
    val s = spark
    import s.implicits._
    val docs = Seq(
      (1L, "the cat sat on the mat", "en", "src0"),
      (2L, "the cat sat on the mat", "en", "src0"), // exact dup of doc 1
      (3L, "the dog sat on the log the dog", "en", "src0"),
      (4L, "one", "en", "src0"), // <2 tokens: no bigrams, no output row
      (5L, "the the the the the the", "en", "src0")) // hot-stopword run
    val dir = writeDocs(docs)
    val saved = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      // kill auto-broadcast: any BroadcastHashJoin left is an explicit hint
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val df = SparkEntry.queries("t29_bigram_lm")(spark, dir)
      val out = df.collect()
      assert(out.map(_.getLong(0)).toSeq == Seq(1L, 2L, 3L, 5L))
      val got = out.map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2))).toMap
      assert(got(1L) == got(2L), "identical docs scored differently")
      // naive reference: score every bigram OCCURRENCE through the same
      // interpolated model, no census, no hot/tail split
      val dd = spark.read.parquet(s"$dir/documents.parquet")
      val big = dd.select($"doc_id", split($"text", " ").as("w"))
        .filter(size($"w") >= 2)
        .select($"doc_id", explode(expr(
          "transform(sequence(1, size(w)-1), i -> struct(w[i-1] AS u, w[i] AS v))")).as("b"))
        .select($"doc_id", $"b.u".as("u"), $"b.v".as("v"))
      val tok = dd.select(explode(split($"text", " ")).as("term"))
      val uc = tok.groupBy("term").agg(count(lit(1)).as("c"))
      val n = tok.count().toDouble
      val q = big.groupBy("u", "v").agg(count(lit(1)).as("cuv"))
        .join(uc.select($"term".as("u"), $"c".as("cu")), "u")
        .join(uc.select($"term".as("v"), $"c".as("cv")), "v")
        .select($"u", $"v",
          round(-log(lit(0.8) * $"cuv" / $"cu" + lit(0.2) * $"cv" / n) * 1000000)
            .cast("long").as("q"))
      val naive = big.join(q, Seq("u", "v"))
        .groupBy("doc_id")
        .agg(count(lit(1)).as("nb"), sum($"q").as("sq"))
        .select($"doc_id", $"nb",
          round($"sq" / $"nb" / 1000000.0, 4).as("avg"))
        .as[(Long, Long, Double)].collect()
        .map(r => r._1 -> (r._2, r._3)).toMap
      assert(got == naive, s"census/hybrid diverged from naive: $got vs $naive")
      // plan evidence: the explicit broadcasts (hot sets, corpus total) are
      // the ONLY broadcast joins, and they exist
      def allNodes(p: org.apache.spark.sql.execution.SparkPlan): Seq[org.apache.spark.sql.execution.SparkPlan] =
        p +: (p.children ++ (p match {
          case ad: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
            Seq(ad.executedPlan)
          case q: org.apache.spark.sql.execution.adaptive.QueryStageExec => Seq(q.plan)
          case _ => Nil
        })).flatMap(allNodes)
      val nodes = allNodes(castToImpl(df).queryExecution.executedPlan).collect {
        case b: org.apache.spark.sql.execution.joins.BroadcastHashJoinExec => b
        case b: org.apache.spark.sql.execution.joins.BroadcastNestedLoopJoinExec => b
      }
      assert(nodes.nonEmpty,
        "no broadcast join found — hot/tot hints missing from the plan")
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", saved)
  }
}
