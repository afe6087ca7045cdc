package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.classic.ClassicConversions.castToImpl

/** Round-11 additions: the maintained-store lifecycle carried to the two
  * surfaces that lacked it (the stored IVF index's append path d60 + its
  * catalog-backed streaming ingest s34; the media-fingerprint store m11),
  * plus the round-10 advice hardenings (admitBatch layout validation,
  * per-publish-unique catalog tmp names). */
class RoundElevenSpec extends SparkTestBase {

  private def rows(df: DataFrame): Set[String] =
    df.collect().map(_.toString).toSet

  private def shuffles(df: DataFrame) =
    castToImpl(df).queryExecution.executedPlan.collect {
      case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => e
    }

  test("d60 IVF append: probe-after-append is byte-equal to " +
    "probe-after-rebuild, and the appended table still answers a " +
    "shuffled probe join bucket-aware with no index-side exchange") {
    import ops.{Dedup, Similarity}
    import ops.Similarity.{norm2Q, quantize}
    val e = Tables.embeddings(spark, sf0001)
      .select(col("vec_id"), quantize(col("embedding")).as("v"))
      .withColumn("n2", norm2Q(col("v")))
    val assign = Dedup.reuse(Similarity.ivfAssign(e))
    val isDay1 = col("vec_id") % 7 === 3
    val isWave2 = col("vec_id") % 7 === 5
    val probes = assign.filter(isWave2)
      .select(col("vec_id").as("qid"), col("v").as("qv"),
        col("n2").as("qn2"), col("cell").as("qcell"))

    // maintained route: base write + batch append
    val maintained = Similarity.writeIvfIndex(
      spark, assign.filter(!isDay1 && !isWave2), "ivf_r11_app")
    Similarity.appendIvfIndex(spark, assign.filter(isDay1), maintained)
    // rebuild route: one fresh write over base ∪ day-1
    val rebuilt = Similarity.writeIvfIndex(
      spark, assign.filter(!isWave2), "ivf_r11_reb")

    val viaAppend = rows(Similarity.probeIvfTopK(spark, maintained, probes, k = 3))
    val viaRebuild = rows(Similarity.probeIvfTopK(spark, rebuilt, probes, k = 3))
    assert(viaAppend.nonEmpty, "probe produced no rows — drill is vacuous")
    assert(viaAppend == viaRebuild,
      "append-maintained index diverged from a from-scratch rebuild")
    // the appended rows must actually matter: day-1 vectors appear as
    // neighbors (otherwise the equality above proves nothing)
    assert(Similarity.probeIvfTopK(spark, maintained, probes, k = 3)
      .filter(col("cid") % 7 === 3).count() > 0,
      "no day-1 vector reached any top-3 — append-visibility untested")

    // layout invariant (the d57/IncrementalSpec pattern, on the APPENDED
    // table): a shuffled probe join reads the index side straight from
    // its bucketed files — no exchange, bucket-aware scan
    spark.catalog.clearCache()
    val confs = Seq(
      "spark.sql.adaptive.enabled" -> "false",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1")
    val saved = confs.map { case (k, _) => k -> spark.conf.get(k) }
    try {
      confs.foreach { case (k, v) => spark.conf.set(k, v) }
      val probe = spark.table(maintained)
        .join(probes.hint("shuffle_merge"), col("cell") === col("qcell"))
      val plan = castToImpl(probe).queryExecution.executedPlan
      val join = plan.collectFirst {
        case j: org.apache.spark.sql.execution.joins.SortMergeJoinExec => j
        case j: org.apache.spark.sql.execution.joins.ShuffledHashJoinExec => j
      }
      assert(join.isDefined, s"expected a shuffled probe join:\n$plan")
      val indexSide = join.get.children.filter(_.toString.contains("ivf_index"))
      assert(indexSide.size == 1, s"index scan not under the probe join:\n$plan")
      assert(indexSide.head.collect {
        case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => e
      }.isEmpty, "the appended index side got re-shuffled")
      assert(plan.toString.contains("Bucketed: true") ||
        plan.toString.contains("SelectedBucketsCount"),
        s"appended index scan is not bucket-aware:\n$plan")
    } finally saved.foreach { case (k, v) => spark.conf.set(k, v) }
    spark.catalog.clearCache()
  }

  test("IVF crash-retry idempotence: a re-appended ingest batch (the " +
    "foreachBatch retry after a crash between the append and the batch " +
    "commit) leaves every probe ranking byte-identical, and compaction " +
    "physically collapses the duplicate rows") {
    import ops.{Dedup, Similarity}
    import ops.Similarity.{norm2Q, quantize}
    val e = Tables.embeddings(spark, sf0001)
      .select(col("vec_id"), quantize(col("embedding")).as("v"))
      .withColumn("n2", norm2Q(col("v")))
    val assign = Dedup.reuse(Similarity.ivfAssign(e))
    val isDay1 = col("vec_id") % 7 === 3
    val isWave2 = col("vec_id") % 7 === 5
    val probes = assign.filter(isWave2)
      .select(col("vec_id").as("qid"), col("v").as("qv"),
        col("n2").as("qn2"), col("cell").as("qcell"))
    val clean = Similarity.writeIvfIndex(
      spark, assign.filter(!isDay1 && !isWave2), "ivf_r11_rt1")
    Similarity.appendIvfIndex(spark, assign.filter(isDay1), clean)
    val retried = Similarity.writeIvfIndex(
      spark, assign.filter(!isDay1 && !isWave2), "ivf_r11_rt2")
    Similarity.appendIvfIndex(spark, assign.filter(isDay1), retried)
    // the crash-retry: the SAME batch lands a second time
    Similarity.appendIvfIndex(spark, assign.filter(isDay1), retried)
    assert(spark.table(retried).count() > spark.table(clean).count(),
      "double append left no residue — drill is vacuous")
    val cleanRows = rows(Similarity.probeIvfTopK(spark, clean, probes, k = 3))
    assert(cleanRows.nonEmpty &&
      cleanRows == rows(Similarity.probeIvfTopK(spark, retried, probes, k = 3)),
      "duplicate index rows leaked into the rankings — a retried batch " +
        "would corrupt every top-k that touches its cells")
    // compaction collapses the residue: same rows, same COUNT as a
    // compaction of the clean index (empty tombstone set isolates the
    // residue effect)
    val noTomb = e.select("vec_id").limit(0)
    val cClean = Similarity.compactIvfIndex(spark, clean, noTomb, "ivf_r11_rt1c")
    val cRetried = Similarity.compactIvfIndex(spark, retried, noTomb, "ivf_r11_rt2c")
    assert(spark.table(cRetried).count() == spark.table(cClean).count(),
      "retry residue survived compaction")
    assert(rows(spark.table(cRetried)) == rows(spark.table(cClean)))
    spark.catalog.clearCache()
  }

  test("s34 streaming ANN against the maintained index: a wave-0-ingested " +
    "vector is retrievable from generation 2 through the swap, tombstoned " +
    "corpus vectors leave every post-swap result, and the takedown was " +
    "non-vacuous (tombstoned cids sat in wave-0 top-3s)") {
    val out = SparkEntry.queries("s34_stream_ann_maintained_index")(spark, sf0001)
      .collect()
    val w0 = out.filter(_.getAs[Long]("wave") == 0L)
    val w1 = out.filter(_.getAs[Long]("wave") == 1L)
    assert(w0.nonEmpty && w1.nonEmpty)
    def tombstoned(cid: Long): Boolean = cid % 10 != 5 && cid % 7 == 3
    // pre-takedown: removed vectors were being served (non-vacuous)
    assert(w0.exists(r => tombstoned(r.getAs[Long]("cid"))),
      "no tombstoned cid in wave-0 results — the takedown removes nothing")
    // post-swap: gone from every result, unfiltered
    assert(!w1.exists(r => tombstoned(r.getAs[Long]("cid"))),
      "a tombstoned vector survived the swap into generation 2")
    // cross-batch retrievability: wave-0 arrivals (cid % 20 = 5) were
    // appended in-stream, carried through compaction, and retrieved
    assert(w1.exists(_.getAs[Long]("cid") % 20 == 5),
      "no wave-0-ingested vector retrievable from generation 2")
    // the published catalog resolves to exactly one live handle
    val cat = streaming.StreamingQueries.s34Catalog
    val handles = ops.Incremental.resolveCatalog(cat, expect = 1)
    assert(spark.table(handles.head).count() > 0)
    spark.catalog.clearCache()
  }

  test("m11 media-fingerprint store: tombstone-filtered probing of the " +
    "old generation and unfiltered probing of the compacted one admit " +
    "identically, re-admission is non-vacuous, and no exchange in the " +
    "probe pipeline ever carries a payload column") {
    val census = SparkEntry.queries("m11_media_fingerprint_store")(spark, sf0001)
      .collect().map(r => r.getAs[String]("phase") -> r).toMap
    assert(census.size == 3)
    for (c <- Seq("n_arrived", "n_dropped", "n_admitted", "n_readmitted",
        "sum_admitted_ids"))
      assert(census("post_tombstone").getAs[Long](c) ==
        census("post_compact").getAs[Long](c),
        s"$c diverged between the tombstone filter and the compacted generation")
    assert(census("post_tombstone").getAs[Long]("n_readmitted") > 0,
      "media takedown re-admitted nothing — drill is vacuous")
    assert(census("pre").getAs[Long]("n_dropped") > 0,
      "no duplicate verdicts at all — the store detected nothing")

    // payload-never-shuffles: the full probe pipeline (signature pass →
    // band probe → hamming verification), built from the same helpers
    // m11 uses, must not put `payload` (or the raw byte grid) through
    // any exchange — only ids, band keys, and the 4 packed longs travel
    val docs = Tables.documents(spark, sf0001)
    val corpus = docs.select(col("doc_id").as("id"),
      encode(col("text"), "UTF-8").as("payload"))
    val arrivals = ops.Multimodal.mediaVariants(docs)
    val cS = ops.Multimodal.sigs(corpus)
    val aS = ops.Multimodal.sigs(arrivals)
    val verdicts = ops.Multimodal.bands(cS).as("a")
      .join(ops.Multimodal.bands(aS).as("b"),
        col("a.b") === col("b.b") && col("a.bits") === col("b.bits"))
      .select(col("b.id").as("id_a"), col("a.id").as("id_b"),
        ops.Multimodal.hamming("b.si", "a.si").as("hamming"))
      .filter(col("hamming") <= 4)
    val leaky = shuffles(verdicts).filter(_.output.exists(a =>
      a.name == "payload" || a.name == "hx" || a.name == "px"))
    assert(leaky.isEmpty,
      s"payload bytes crossed an exchange:\n${leaky.mkString("\n")}")
    assert(rows(verdicts).nonEmpty)
    spark.catalog.clearCache()
  }

  test("admitBatch validates the exact-store layout at entry: owned=true " +
    "against an h-only store (and the reverse) fails loudly instead of " +
    "silently reading NULL owners and corrupting the store") {
    import ops.Incremental
    val docs = Incremental.plantedDocs(spark, sf0001)
    val corpus = docs.filter(col("doc_id") % 11 =!= 5).localCheckpoint(true)
    val batch = docs.filter(col("doc_id") % 11 === 5).limit(5)

    val (idxH, exH, shH) = Incremental.initStores(spark, corpus, "r11h")
    val eH = intercept[IllegalArgumentException] {
      Incremental.admitBatch(spark, batch, "k", 0L, idxH, exH, shH, owned = true)
    }
    assert(eH.getMessage.contains("layout"))

    val (idxO, exO, shO) = Incremental.initOwnedStores(spark, corpus, "r11o")
    val eO = intercept[IllegalArgumentException] {
      Incremental.admitBatch(spark, batch, "k", 0L, idxO, exO, shO, owned = false)
    }
    assert(eO.getMessage.contains("layout"))
    spark.catalog.clearCache()
  }

  test("publishCatalog: per-publish-unique tmp names make concurrent " +
    "publishers degrade to last-writer-wins — every read during a " +
    "two-writer race returns one COMPLETE triple, never a blend or a " +
    "NoSuchFileException; resolveCatalog guards the line count") {
    import ops.Incremental
    val cat = graft.Scratch.dir("graft_r11_cat") + "/stores.catalog"
    Incremental.commitCatalogCas(cat)((_, _) => Seq("a0", "b0", "c0"))
    val failures = new java.util.concurrent.atomic.AtomicReference[Throwable]()
    val writers = (1 to 2).map { w =>
      new Thread(() => {
        try (1 to 200).foreach { i =>
          Incremental.commitCatalogCas(cat, maxAttempts = 100)((_, _) =>
            Seq(s"a$w$i", s"b$w$i", s"c$w$i"))
        } catch { case t: Throwable => failures.compareAndSet(null, t) }
      })
    }
    val reader = new Thread(() => {
      try (1 to 400).foreach { _ =>
        val Seq(a, b, c) = Incremental.resolveCatalog(cat, expect = 3)
        // a complete triple shares one (writer, i) suffix — never a blend
        assert(a.stripPrefix("a") == b.stripPrefix("b") &&
          b.stripPrefix("b") == c.stripPrefix("c"), s"torn read: $a/$b/$c")
      } catch { case t: Throwable => failures.compareAndSet(null, t) }
    })
    (writers :+ reader).foreach(_.start())
    (writers :+ reader).foreach(_.join())
    assert(failures.get() == null,
      s"catalog race failed: ${Option(failures.get()).map(_.toString)}")
    // wrong-surface catalog fails loudly
    intercept[IllegalArgumentException] {
      Incremental.resolveCatalog(cat, expect = 1)
    }
  }

  test("s35 streaming media ingest: a wave-1 twin of a wave-0 ADMITTED " +
    "item is caught cross-batch through the in-stream store append, and " +
    "a media takedown landing between batches re-admits in the very " +
    "next one (both non-vacuous)") {
    val out = SparkEntry.queries("s35_stream_media_ingest")(spark, sf0001)
      .collect().map(r => r.getAs[Long]("wave") -> r).toMap
    assert(out.size == 2)
    // cross-batch media dedup: planted twins of wave-0 admissions are
    // dropped by store rows that were APPENDED inside wave 0's
    // micro-batch — this count is 0 if the in-stream append is invisible
    // (the exact staleness failure the refreshTable fix closed)
    assert(out(1L).getAs[Long]("n_twins_dropped") > 0,
      "no twin dropped — wave-0's in-stream store append was not probed")
    // takedown honored mid-stream: some wave-1 arrival is admitted ONLY
    // because its duplicate partner was tombstoned between the waves
    assert(out(1L).getAs[Long]("n_readmitted") > 0,
      "media takedown re-admitted nothing — drill is vacuous")
    // wave 0 ran against an empty tombstone set and carries no twins
    assert(out(0L).getAs[Long]("n_readmitted") == 0)
    assert(out(0L).getAs[Long]("n_twins_dropped") == 0)
    assert(out(0L).getAs[Long]("n_dropped") > 0 &&
      out(0L).getAs[Long]("n_admitted") > 0)
    spark.catalog.clearCache()
  }

  test("s36 media compaction under the live stream: the compacted, " +
    "UNFILTERED generation admits exactly what s35's tombstone-filtered " +
    "probe admits (the d57 invariant across two mechanisms), twins of " +
    "wave-0 in-stream admissions are still caught through the swap, and " +
    "the catalog resolves two live handles") {
    def census(name: String): Map[Long, org.apache.spark.sql.Row] =
      SparkEntry.queries(name)(spark, sf0001).collect()
        .map(r => r.getAs[Long]("wave") -> r).toMap
    val c35 = census("s35_stream_media_ingest")
    val c36 = census("s36_stream_media_compacting_ingest")
    for (w <- Seq(0L, 1L); c <- Seq("n_arrived", "n_dropped", "n_admitted",
        "n_twins_dropped", "sum_admitted_ids"))
      assert(c35(w).getAs[Long](c) == c36(w).getAs[Long](c),
        s"wave $w $c diverged between the tombstone filter (s35) and " +
          "the compacted generation (s36)")
    assert(c36(1L).getAs[Long]("n_twins_dropped") > 0,
      "no twin caught through the swap — wave-0 admissions lost by compaction")
    val handles = ops.Incremental.resolveCatalog(
      streaming.StreamingQueries.s36Catalog, expect = 2)
    assert(spark.table(handles(0)).count() > 0)
    assert(spark.read.parquet(handles(1)).count() > 0)
    spark.catalog.clearCache()
  }

  test("d61 drift census identities: every anchor cell reports, the two " +
    "populations partition base ∪ appended exactly, fits are valid " +
    "cosine micros, and drift is the difference of the reported fits") {
    val rows = SparkEntry.queries("d61_ivf_drift_census")(spark, sf0001).collect()
    assert(rows.length == 8, s"expected one row per anchor cell: ${rows.length}")
    val emb = Tables.embeddings(spark, sf0001)
    val nBase = emb.filter(col("vec_id") % 7 =!= 3 && col("vec_id") % 7 =!= 5).count()
    val nApp = emb.filter(col("vec_id") % 7 === 3).count()
    assert(rows.map(_.getAs[Long]("n_base")).sum == nBase,
      "base population not fully accounted across cells")
    assert(rows.map(_.getAs[Long]("n_app")).sum == nApp,
      "appended population not fully accounted across cells")
    for (r <- rows) {
      val (fb, fa, dr) = (r.getAs[Long]("fit_base_micro"),
        r.getAs[Long]("fit_app_micro"), r.getAs[Long]("drift_micro"))
      assert(math.abs(fb) <= 1000000L && math.abs(fa) <= 1000000L,
        s"fit outside cosine range: $r")
      if (r.getAs[Long]("n_base") > 0 && r.getAs[Long]("n_app") > 0)
        assert(dr == fb - fa, s"drift is not the fit difference: $r")
      else assert(dr == 0L, s"degenerate cell must report zero drift: $r")
    }
    // the signal is non-vacuous on this fixture: some cell actually drifts
    assert(rows.exists(_.getAs[Long]("drift_micro") != 0L),
      "no cell drifted at all — census vacuous")
  }

  test("d62 drift-gated re-train: the measured gate fires on this " +
    "fixture, one Lloyd round strictly improves the population's mean " +
    "own-centroid fit over the frozen anchors, and the population is " +
    "fully accounted") {
    val pre = SparkEntry.queries("d61_ivf_drift_census")(spark, sf0001).collect()
    val post = SparkEntry.queries("d62_drift_retrain")(spark, sf0001).collect()
    assert(post.length == 8 && post.forall(_.getAs[Boolean]("acted")),
      "gate did not fire at sf0.001 — the planted drift vanished")
    val emb = Tables.embeddings(spark, sf0001)
    val popN = emb.filter(col("vec_id") % 7 =!= 5).count()
    assert(post.map(_.getAs[Long]("n_members")).sum == popN,
      "re-assigned population not fully accounted")
    // weighted mean fit, frozen anchors (d61's census covers the same
    // population: base + appended) vs re-trained centroids (d62)
    def wmean(rows: Array[org.apache.spark.sql.Row],
        parts: Seq[(String, String)]): Double = {
      val (s, n) = rows.foldLeft((0.0, 0L)) { case ((ss, nn), r) =>
        val add = parts.map { case (nc, fc) =>
          r.getAs[Long](nc).toDouble * r.getAs[Long](fc) }.sum
        (ss + add, nn + parts.map { case (nc, _) => r.getAs[Long](nc) }.sum)
      }
      s / n
    }
    val fitPre = wmean(pre, Seq("n_base" -> "fit_base_micro", "n_app" -> "fit_app_micro"))
    val fitPost = wmean(post, Seq("n_members" -> "fit_micro"))
    assert(fitPost > fitPre + 20000,
      s"re-training did not materially improve fit: $fitPre -> $fitPost")
    spark.catalog.clearCache()
  }

  test("candidate-edge budget: the bucket-size threshold keeps exactly " +
    "the maximal small-bucket prefix whose pair total fits, drops the " +
    "rest (census verified by brute count), and the default leaves " +
    "every pair intact") {
    import ops.Dedup
    import spark.implicits._
    // planted buckets: sizes 3 (3 pairs), 4 (6 pairs), 10 (45 pairs)
    val buckets = (
      (1 to 3).map(i => (i.toLong, 0, "A")) ++
      (11 to 14).map(i => (i.toLong, 0, "B")) ++
      (21 to 30).map(i => (i.toLong, 0, "C"))
    ).toDF("id", "band", "band_key")
    val allPairs = Dedup.candidatePairs(buckets, materialize = false).count()
    assert(allPairs == 3 + 6 + 45, s"unbudgeted baseline wrong: $allPairs")
    try {
      // budget 10: sizes 3 (cum 3) and 4 (cum 9) fit; size 10 (45) drops
      spark.conf.set(Dedup.EdgeBudgetConf, "10")
      assert(Dedup.candidatePairs(buckets, materialize = false).count() == 9L)
      // budget 2: nothing fits — every multi-bucket drops, zero pairs
      spark.conf.set(Dedup.EdgeBudgetConf, "2")
      assert(Dedup.candidatePairs(buckets, materialize = false).count() == 0L)
      // budget large: no-op
      spark.conf.set(Dedup.EdgeBudgetConf, "1000000")
      assert(Dedup.candidatePairs(buckets, materialize = false).count() == allPairs)
    } finally spark.conf.unset(Dedup.EdgeBudgetConf)
  }

  test("t51 v3 CJK route: char-bigram scoring detects the separator-free " +
    "planted zh docs (F1 = 1.0) that every whitespace/unicode token " +
    "score provably misses, without perturbing any Latin or fixture " +
    "prediction") {
    import ops.TextAnalysis
    val out = SparkEntry.queries("t51_langid_eval")(spark, sf0001).collect()
      .map(r => (r.getAs[String]("audit"), r.getAs[String]("lang")) -> r).toMap
    // the new capability: planted zh now classified perfectly
    assert(out(("planted", "zh")).getAs[Long]("f1_micro") == 1000000L,
      "planted zh F1 != 1.0 — the bigram route failed")
    // Latin planted rows unperturbed (still perfect)
    for (l <- Seq("en", "es", "de", "fr"))
      assert(out(("planted", l)).getAs[Long]("f1_micro") == 1000000L,
        s"planted $l regressed after adding the zh arm")
    // honesty preserved: the fixture's declared labels still carry no
    // text signal, and no fixture doc is suddenly claimed as zh
    assert(out(("fixture", "zh")).getAs[Long]("n_pred") == 0L,
      "a CJK-free fixture doc was predicted zh")
    // the whitespace/unicode blindness claim, proven directly: the
    // planted zh phrase is ONE token to both tokenizers
    val zhText = TextAnalysis.zhFunctionWords.mkString("")
    val toks = spark.range(1).select(
      size(TextAnalysis.tokens(lit(zhText), "whitespace")).as("ws"),
      size(TextAnalysis.tokens(lit(zhText), "unicode")).as("uni"),
      size(filter(TextAnalysis.tokens(lit(zhText), "char_bigram"),
        t => t.isin(TextAnalysis.zhFunctionWords.map(lit(_)): _*))).as("bi"))
      .collect()(0)
    assert(toks.getAs[Int]("ws") == 1 && toks.getAs[Int]("uni") == 1,
      "separator-free zh text was somehow segmented by a token route")
    assert(toks.getAs[Int]("bi") == TextAnalysis.zhFunctionWords.size,
      "bigram route missed a planted zh function word")
  }
}
