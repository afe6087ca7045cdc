package graft

import org.apache.spark.sql.classic.ClassicConversions.castToImpl
import org.apache.spark.sql.functions._

/** Round-2 operators: batch sessionization, deterministic splits,
  * decontamination, bloom prefilter, bucketed-join query, PII scrub. */
class RoundTwoSpec extends SparkTestBase {
  import spark.implicits._

  test("q60: session_window closes exactly at the gap boundary") {
    // Spark merges sessions when next.start <= prev.end: an event at
    // EXACTLY prev + gap still merges; one microsecond past it does not.
    // The q60 oracle encodes the same rule (`> gap` opens a session).
    val mk = (us: Long) => timestamp_micros(lit(us))
    def sessions(gapUs: Long): Long =
      spark.range(1)
        .select(explode(array(mk(0L), mk(gapUs))).as("ts"))
        .groupBy(session_window(col("ts"), "30 minutes"))
        .count().count()
    assert(sessions(1800L * 1000000) == 1, "event at exactly the gap must merge")
    assert(sessions(1800L * 1000000 + 1) == 2, "event past the gap must open a new session")
  }

  test("t07: split is deterministic, disjoint, and covers every doc") {
    val q = SparkEntry.queries("t07_train_split")
    val a = q(spark, sf0001).collect().map(_.toSeq).toSeq
    val b = q(spark, sf0001).collect().map(_.toSeq).toSeq
    assert(a == b, "split must be identical run-to-run")
    val total = a.map(r => r(1).asInstanceOf[Long]).sum
    val nDocs = Tables.documents(spark, sf0001).count()
    assert(total == nDocs, s"splits must partition the corpus ($total != $nDocs)")
    val bySplit = a.map(r => r(0).toString -> r(1).asInstanceOf[Long]).toMap
    assert(bySplit("train") > bySplit("val") && bySplit("train") > bySplit("test"),
      s"train must dominate a 90/5/5 split: $bySplit")
  }

  test("d10: every exact text match with the benchmark set is flagged") {
    val docs = Tables.documents(spark, sf0001)
    val benchTexts = docs.filter(col("doc_id") % 7 === 0).select("text").distinct()
    val expectExact = docs.filter(col("doc_id") % 7 =!= 0)
      .join(benchTexts, Seq("text"), "left_semi").count()
    val verdicts = SparkEntry.queries("d10_decontaminate")(spark, sf0001)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(verdicts.getOrElse("exact_contaminated", 0L) == expectExact,
      s"exact flags ($verdicts) must equal the true overlap ($expectExact)")
    val train = docs.filter(col("doc_id") % 7 =!= 0).count()
    assert(verdicts.values.sum == train, "verdicts must partition the training corpus")
  }

  test("x07: bloom pre-filter passes every true member (no false negatives)") {
    val urgent = Tables.orders(spark, sf0001)
      .filter(col("o_orderpriority") === "1-URGENT").select(col("o_custkey"))
    val bf = urgent.stat.bloomFilter("o_custkey", 100000L, 0.01)
    val missed = urgent.distinct().as[Long].collect().filterNot(bf.mightContainLong)
    assert(missed.isEmpty, s"bloom filter dropped true members: ${missed.take(5).toSeq}")
    // and the query's result equals the plain semi-join (FPs removed)
    val viaBloom = SparkEntry.queries("x07_bloom_prefilter_join")(spark, sf0001)
      .collect().map(_.toSeq).toSeq
    val plain = Tables.customer(spark, sf0001)
      .join(urgent, col("c_custkey") === col("o_custkey"), "left_semi")
      .groupBy("c_mktsegment")
      .agg(count(lit(1)).as("n_urgent_cust"), round(sum("c_acctbal"), 2).as("total_bal"))
      .orderBy("c_mktsegment").collect().map(_.toSeq).toSeq
    assert(viaBloom == plain, "bloom pre-filter must not change join semantics")
  }

  test("src06: bucketed join query shuffles neither join input") {
    val df = SparkEntry.queries("src06_bucketed_join")(spark, sf0001)
    val p = castToImpl(df).queryExecution.executedPlan.toString
    val joinAt = p.indexOf("Join")
    assert(joinAt >= 0, s"no join in plan:\n$p")
    // nothing below the join may re-shuffle: bucket layout IS the
    // distribution (broadcast of the small side is also exchange-free
    // for the big side and acceptable at test SF)
    assert(!p.substring(joinAt).contains("ShuffleExchange"),
      s"bucketed join input was shuffled:\n$p")
  }

  test("d11: 4x16 banding catches every pair within hamming distance 3") {
    // pure pigeonhole property of the banding scheme: flip <= 3 bits of a
    // 64-bit string; at least one 16-bit band must remain identical
    val rnd = new scala.util.Random(42)
    (1 to 500).foreach { _ =>
      val base = Array.fill(64)(rnd.nextInt(2))
      val flipped = base.clone()
      val nFlips = 1 + rnd.nextInt(3)
      rnd.shuffle((0 until 64).toList).take(nFlips).foreach(i => flipped(i) = 1 - flipped(i))
      val shared = (0 until 4).exists(b =>
        base.slice(b * 16, b * 16 + 16).sameElements(flipped.slice(b * 16, b * 16 + 16)))
      assert(shared, s"pair with $nFlips flips missed by banding")
    }
  }

  test("q66: merge branch counts satisfy the upsert invariants") {
    val rows = SparkEntry.queries("q66_merge_upsert")(spark, sf0001)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val nCust = Tables.customer(spark, sf0001).count()
    val nInserted = Tables.orders(spark, sf0001)
      .filter(col("o_orderpriority") === "1-URGENT")
      .filter(col("o_custkey") < 50)
      .select("o_custkey").distinct().count()
    assert(rows.getOrElse("updated", 0L) + rows.getOrElse("unchanged", 0L) == nCust,
      s"target rows must all survive the merge: $rows vs $nCust customers")
    assert(rows.getOrElse("inserted", 0L) == nInserted,
      s"inserted must equal the shifted source keys: $rows vs $nInserted")
  }

  test("results are shuffle-partition-count independent") {
    // the 100 TB correctness property: partitioning is an execution
    // detail. Re-run partition-sensitive queries (salted agg, iterative
    // CC, heap top-k) with a different shuffle width and compare rows.
    val sensitive = Seq("t06_salted_token_count", "q16_topk_per_group", "d08_dedup_groups")
    val saved = spark.conf.get("spark.sql.shuffle.partitions")
    val baseline = sensitive.map(n =>
      n -> SparkEntry.queries(n)(spark, sf0001).collect().map(_.toSeq).toSeq)
    try {
      spark.conf.set("spark.sql.shuffle.partitions", "2")
      baseline.foreach { case (n, expected) =>
        val narrow = SparkEntry.queries(n)(spark, sf0001).collect().map(_.toSeq).toSeq
        assert(narrow == expected, s"$n changed results under 2 shuffle partitions")
      }
    } finally spark.conf.set("spark.sql.shuffle.partitions", saved)
  }

  test("x10: char_shingles plans as a Generate node (flatMap, not UDF)") {
    val df = SparkEntry.queries("x10_custom_generator")(spark, sf0001)
    val p = castToImpl(df).queryExecution.executedPlan.toString
    // the node prints its class name (charshinglesgen), not the
    // registered function name
    assert(p.contains("Generate") && p.toLowerCase.contains("charshingles"),
      s"generator not planned through Generate:\n$p")
  }

  test("x10: char_shingles generator handles short strings and nulls") {
    val df = Seq(("abcdef"), ("abc"), (null: String)).zipWithIndex
      .map { case (t, i) => (i.toLong, t) }
    import spark.implicits._
    val out = df.toDF("id", "t")
      .select(col("id"), graft.functions.CharShinglesGen.char_shingles(col("t"), 5).as("s"))
      .collect().map(r => (r.getLong(0), r.getString(1))).toList.sorted
    // 6-char string → two 5-grams; 3-char string → itself once; null → no rows
    assert(out == List((0L, "abcde"), (0L, "bcdef"), (1L, "abc")), s"got $out")
  }

  test("Engine.install is idempotent (no duplicate rules/strategies)") {
    Engine.install(spark)
    Engine.install(spark)
    val opts = spark.experimental.extraOptimizations
      .count(_ eq graft.plans.TopKRewrite)
    val strats = spark.experimental.extraStrategies
      .count(_ eq graft.plans.TopKStrategy)
    assert(opts == 1 && strats == 1, s"duplicated: $opts rules, $strats strategies")
    // registered functions resolve
    assert(spark.sql("SELECT long_dot(array(2L), array(3L))").head().getLong(0) == 6L)
    assert(spark.sql("SELECT cosine_sim(array(1.0F), array(1.0F))").head().getDouble(0) == 1.0)
    // a re-install keeps every registered entry (same ExpressionInfo
    // instance), so Spark logs no "replaced a previously registered
    // function" warning for it
    val fresh = spark.newSession()
    val ids = graft.functions.GraftExtensions.Functions.map(_._1)
    def infos = ids.map(fresh.sessionState.functionRegistry.lookupFunction(_).orNull)
    Engine.install(fresh)
    val first = infos
    Engine.install(fresh)
    ids.zip(first.zip(infos)).foreach { case (id, (a, b)) =>
      assert(a != null && (a eq b), s"${id.funcName}: a second install replaced its entry")
    }
  }

  test("src05: ORC round-trip scan prunes columns and pushes filters") {
    val dir = java.nio.file.Files.createTempDirectory("orc-plan").toString
    Tables.part(spark, sf0001).write.mode("overwrite").orc(s"$dir/p")
    val df = spark.read.orc(s"$dir/p")
      .filter(col("p_size") > 20)
      .groupBy("p_brand").count()
    val p = castToImpl(df).queryExecution.executedPlan.toString
    assert(p.contains("PushedFilters") && p.contains("GreaterThan(p_size"),
      s"ORC filter not pushed:\n$p")
    assert(!p.contains("p_retailprice"), "ORC scan reads columns the query never uses")
  }

  test("t08: scrub redacts all constructed emails and phones") {
    val out = SparkEntry.queries("t08_pii_scrub")(spark, sf0001)
    val bad = out.filter(!col("emails_gone") || col("n_emails") =!= 1 || col("n_phones") =!= 1)
    assert(bad.isEmpty, s"unredacted rows: ${bad.take(3).toSeq}")
  }
}
