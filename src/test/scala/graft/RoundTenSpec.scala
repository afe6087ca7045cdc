package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.classic.ClassicConversions.castToImpl

/** Round-10 additions: the decontamination family's shared
  * broadcast-by-premise knob (the r9 verdict's task 5 — p01's measured
  * conf-gated fallback inherited by d10/d13/d42/d48). */
class RoundTenSpec extends SparkTestBase {

  private def rows(df: DataFrame): Set[String] =
    df.collect().map(_.toString).toSet

  private def withConfs(confs: (String, String)*)(body: => Unit): Unit = {
    val saved = confs.map { case (k, _) =>
      k -> spark.conf.getOption(k)
    }
    try {
      confs.foreach { case (k, v) => spark.conf.set(k, v) }
      body
    } finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  test("Dedup.benchSide routes the benchmark join by conf: forced " +
    "broadcast by default (the tiny-benchmark premise), a real shuffled " +
    "join under graft.decontam.broadcastBench=false, identical rows on " +
    "both routes") {
    import ops.Dedup
    val corpus = spark.range(0, 2000).select(
      col("id").as("doc_id"), (col("id") % 97).as("gh"))
    val bench = spark.range(0, 12).select((col("id") * 7).as("gh"))

    def planOf(df: DataFrame) = castToImpl(df).queryExecution.executedPlan
    def hasBroadcastJoin(df: DataFrame): Boolean = planOf(df).collectFirst {
      case j: org.apache.spark.sql.execution.joins.BroadcastHashJoinExec => j
      case j: org.apache.spark.sql.execution.joins.BroadcastNestedLoopJoinExec => j
    }.isDefined

    val expected = rows(corpus.join(bench, "gh"))
    assert(expected.nonEmpty, "bench/corpus overlap vacuous")

    // default: the premise holds, the hint forces a broadcast even with
    // size-based auto-broadcast off
    withConfs("spark.sql.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.adaptive.enabled" -> "false") {
      val q = corpus.join(Dedup.benchSide(bench), "gh")
      assert(hasBroadcastJoin(q), "default route lost the forced broadcast")
      assert(rows(q) == expected)

      // corpus-scale-benchmark deployment: the hint is withheld, the
      // planner shuffles both sides on the gram hash
      withConfs("graft.decontam.broadcastBench" -> "false") {
        val q2 = corpus.join(Dedup.benchSide(bench), "gh")
        assert(!hasBroadcastJoin(q2),
          "conf=false still forced a broadcast — the driver-OOM path is back")
        assert(rows(q2) == expected, "shuffled route changed the rows")
      }
    }
  }

  test("p01 stage 3 is audit-gated: on this fixture the router's measured " +
    "precision (43.7%) fails the 50% gate so routing passes everything " +
    "through; lowering the gate to 0 makes the same prediction act") {
    def stage3(census: Array[org.apache.spark.sql.Row]) =
      census.find(_.getAs[String]("name") == "lang_route").get
    val fn = SparkEntry.queries("p01_full_curation")
    val dflt = stage3(fn(spark, sf0001).collect())
    assert(dflt.getAs[Long]("n_out") == dflt.getAs[Long]("n_in"),
      "gate failed open: an uncertified router dropped documents")
    withConfs("graft.pipeline.langGatePrecision" -> "0") {
      spark.catalog.clearCache()
      val acted = stage3(fn(spark, sf0001).collect())
      assert(acted.getAs[Long]("n_out") < acted.getAs[Long]("n_in"),
        "gate at 0 should let the router act — routing never fired")
    }
    spark.catalog.clearCache()
  }

  test("d59 ANN takedown is non-vacuous and complete: tombstoned vectors " +
    "appear in pre-top3 and in NO post phase, the removed query vector's " +
    "result set disappears, rankings re-close over survivors, and the two " +
    "post mechanisms (filtered old index, compacted index) agree") {
    val all = SparkEntry.queries("d59_ann_takedown")(spark, sf0001).collect()
    def phase(p: String) = all.filter(_.getAs[String]("phase") == p)
    val pre = phase("pre")
    val postT = phase("post_tombstone").map(_.toString.replace("post_tombstone", "post")).toSet
    val postC = phase("post_compact").map(_.toString.replace("post_compact", "post")).toSet
    assert(postT == postC,
      "tombstone-filtered probe and compacted-index probe diverged")
    assert(pre.exists(r => r.getAs[Long]("cid") % 7 == 3),
      "no tombstoned vector in pre-top3 — takedown effect vacuous")
    assert(!phase("post_tombstone").exists(r =>
      r.getAs[Long]("cid") % 7 == 3 || r.getAs[Long]("qid") % 7 == 3),
      "a removed vector is still retrievable (or still querying) post-takedown")
    assert(pre.exists(_.getAs[Long]("qid") == 10) &&
      !phase("post_tombstone").exists(_.getAs[Long]("qid") == 10),
      "the removed query vector's results did not disappear")
    // rankings re-close: every surviving query still has a full top-3
    val byQ = phase("post_tombstone").groupBy(_.getAs[Long]("qid")).view.mapValues(_.length)
    assert(byQ.values.forall(_ == 3), s"a survivor lost ranks: ${byQ.toMap}")
    spark.catalog.clearCache()
  }

  test("d59's compacted IVF index still answers the probe join straight " +
    "from its bucketed layout — the d21/d57 exchange-free contract on the " +
    "vector surface") {
    import ops.{Dedup, Similarity}
    import org.apache.spark.sql.classic.ClassicConversions.castToImpl
    // build a compacted-index stand-in the same way d59 does
    val e = Tables.embeddings(spark, sf0001)
      .select(col("vec_id"), Similarity.quantize(col("embedding")).as("v"))
      .withColumn("n2", Similarity.norm2Q(col("v")))
    val assign = Dedup.reuse(Similarity.ivfAssign(e))
    val dir = Scratch.dir("graft_ivf_r10spec")
    val table = "graft_ivf_r10spec_idx"
    assign.filter(col("vec_id") % 7 =!= 3)
      .select(col("cell"), col("vec_id").as("cid"), col("v").as("cv2"),
        col("n2").as("cn2"))
      .write.mode("overwrite").format("parquet")
      .bucketBy(8, "cell").sortBy("cell")
      .option("path", s"$dir/ivf_index").saveAsTable(table)
    val probes = assign.filter(col("vec_id") >= 10 && col("vec_id") < 15)
      .select(col("vec_id").as("qid"), col("cell").as("qcell"))
    val confs = Seq(
      "spark.sql.adaptive.enabled" -> "false",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1")
    val saved = confs.map { case (k, _) => k -> spark.conf.get(k) }
    try {
      confs.foreach { case (k, v) => spark.conf.set(k, v) }
      spark.catalog.clearCache()
      val q = spark.table(table)
        .join(probes, col("cell") === col("qcell") && col("cid") =!= col("qid"))
      val plan = castToImpl(q).queryExecution.executedPlan
      val join = plan.collectFirst {
        case j: org.apache.spark.sql.execution.joins.SortMergeJoinExec => j
        case j: org.apache.spark.sql.execution.joins.ShuffledHashJoinExec => j
      }
      assert(join.isDefined, s"expected a shuffled probe join:\n$plan")
      val indexSide = join.get.children.filter(_.toString.contains("ivf_index"))
      assert(indexSide.size == 1, s"index scan not under the probe join:\n$plan")
      assert(indexSide.head.collect {
        case ex: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => ex
      }.isEmpty, "the compacted IVF index side got re-shuffled")
    } finally saved.foreach { case (k, v) => spark.conf.set(k, v) }
    spark.catalog.clearCache()
  }

  test("d10/d13/d42/d48 produce byte-identical results on the shuffled " +
    "fallback route — the conf flips the plan, never the answer") {
    for (name <- Seq("d10_decontaminate", "d13_ngram_decontaminate",
      "d42_contamination_fraction", "d48_benchmark_exposure")) {
      val fn = SparkEntry.queries(name)
      val expected = rows(fn(spark, sf0001))
      withConfs("graft.decontam.broadcastBench" -> "false",
        "spark.sql.autoBroadcastJoinThreshold" -> "-1") {
        spark.catalog.clearCache()
        assert(rows(fn(spark, sf0001)) == expected,
          s"$name diverged on the shuffled decontamination route")
      }
      spark.catalog.clearCache()
    }
  }
}
