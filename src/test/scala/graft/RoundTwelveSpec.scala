package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.classic.ClassicConversions.castToImpl

/** Round-12 additions: the stored IVF-PQ index (d63) — the compressed
  * production layout for the vector surface — with the full lifecycle
  * drill set the raw-vector index already has (append ≡ rebuild,
  * exchange-free appended layout, crash-retry idempotence, compaction
  * probe-equivalence), plus the compression contract itself: the index
  * stores codes only, never raw vectors. */
class RoundTwelveSpec extends SparkTestBase {

  private def rows(df: DataFrame): Set[String] =
    df.collect().map(_.toString).toSet

  /** The d63 fixture family: quantized corpus, cell assignment against
    * the frozen anchors, PQ codes against the frozen codebook, and the
    * probe/queryVec/corpus frames [[ops.Similarity.probeIvfPqTopK]]
    * consumes. */
  private def pqFixture() = {
    import ops.{Dedup, Similarity}
    import ops.Similarity.{norm2Q, quantize}
    graft.functions.LongDot.register(spark)
    graft.functions.LongL2.register(spark)
    val e = Tables.embeddings(spark, sf0001)
      .select(col("vec_id"), quantize(col("embedding")).as("v"))
      .withColumn("n2", norm2Q(col("v")))
    val assign = Dedup.reuse(Similarity.ivfAssign(e))
    val cb = Similarity.pqCodebook(e)
    val encAll = assign.withColumn("codes", Similarity.pqCodesCol(cb))
    val probes = assign.filter(col("vec_id") % 7 === 5)
      .select(col("vec_id").as("qid"), col("cell").as("qcell"),
        Similarity.pqLutCol(cb).as("lut"))
    val queryVecs = assign.filter(col("vec_id") % 7 === 5)
      .select(col("vec_id").as("qid"), col("v").as("qv"), col("n2").as("qn2"))
    val corpus = e.select(col("vec_id").as("cid"), col("v").as("cv"),
      col("n2").as("cn2"))
    (e, encAll, probes, queryVecs, corpus)
  }

  test("d63 IVF-PQ: probe-after-append is byte-equal to probe-after-" +
    "rebuild, day-1 vectors reach the refined top-3, and the index " +
    "schema is codes-only — the compression contract") {
    import ops.Similarity
    val (_, encAll, probes, queryVecs, corpus) = pqFixture()
    val isDay1 = col("vec_id") % 7 === 3
    val isWave2 = col("vec_id") % 7 === 5

    val maintained = Similarity.writeIvfPqIndex(
      spark, encAll.filter(!isDay1 && !isWave2), "ivfpq_r12_app")
    Similarity.appendIvfPqIndex(spark, encAll.filter(isDay1), maintained)
    val rebuilt = Similarity.writeIvfPqIndex(
      spark, encAll.filter(!isWave2), "ivfpq_r12_reb")

    def probe(t: String) = Similarity.probeIvfPqTopK(
      spark.table(t), probes, queryVecs, corpus, kAdc = 10, k = 3)
    val viaAppend = rows(probe(maintained))
    assert(viaAppend.nonEmpty, "probe produced no rows — drill is vacuous")
    assert(viaAppend == rows(probe(rebuilt)),
      "append-maintained IVF-PQ index diverged from a from-scratch rebuild")
    assert(probe(maintained).filter(col("cid") % 7 === 3).count() > 0,
      "no day-1 vector reached any refined top-3 — append-visibility untested")

    // the compression contract: the stored index carries (cell, cid,
    // codes) ONLY — raw vectors live in the corpus and are fetched by id
    // at refine time, never written to (or shuffled through) the index
    val fields = spark.table(maintained).schema.fields
      .map(f => f.name -> f.dataType.simpleString).toMap
    assert(fields.keySet == Set("cell", "cid", "codes"),
      s"index schema is not codes-only: $fields")
    assert(fields("codes") == "array<bigint>" &&
      spark.table(maintained)
        .select(max(size(col("codes")))).head.getInt(0) == 8,
      "codes column is not the 8-subspace PQ encoding")
    spark.catalog.clearCache()
  }

  test("d63 appended IVF-PQ table still answers a shuffled probe join " +
    "bucket-aware with no index-side exchange") {
    import ops.Similarity
    val (_, encAll, probes, _, _) = pqFixture()
    val isDay1 = col("vec_id") % 7 === 3
    val isWave2 = col("vec_id") % 7 === 5
    val maintained = Similarity.writeIvfPqIndex(
      spark, encAll.filter(!isDay1 && !isWave2), "ivfpq_r12_pl")
    Similarity.appendIvfPqIndex(spark, encAll.filter(isDay1), maintained)

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
      val indexSide = join.get.children.filter(_.toString.contains("ivfpq_index"))
      assert(indexSide.size == 1, s"index scan not under the probe join:\n$plan")
      assert(indexSide.head.collect {
        case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => e
      }.isEmpty, "the appended IVF-PQ index side got re-shuffled")
      assert(plan.toString.contains("Bucketed: true") ||
        plan.toString.contains("SelectedBucketsCount"),
        s"appended IVF-PQ index scan is not bucket-aware:\n$plan")
    } finally saved.foreach { case (k, v) => spark.conf.set(k, v) }
    spark.catalog.clearCache()
  }

  test("d63 crash-retry idempotence: a re-appended PQ batch leaves every " +
    "funnel ranking byte-identical, and compaction collapses the residue " +
    "while answering byte-equal to the tombstone-filtered probe") {
    import ops.Similarity
    val (e, encAll, probes, queryVecs, corpus) = pqFixture()
    val isDay1 = col("vec_id") % 7 === 3
    val isWave2 = col("vec_id") % 7 === 5

    val clean = Similarity.writeIvfPqIndex(
      spark, encAll.filter(!isDay1 && !isWave2), "ivfpq_r12_rt1")
    Similarity.appendIvfPqIndex(spark, encAll.filter(isDay1), clean)
    val retried = Similarity.writeIvfPqIndex(
      spark, encAll.filter(!isDay1 && !isWave2), "ivfpq_r12_rt2")
    Similarity.appendIvfPqIndex(spark, encAll.filter(isDay1), retried)
    // the crash-retry: the SAME batch lands a second time
    Similarity.appendIvfPqIndex(spark, encAll.filter(isDay1), retried)
    assert(spark.table(retried).count() > spark.table(clean).count(),
      "double append left no residue — drill is vacuous")
    def probe(idx: DataFrame) =
      Similarity.probeIvfPqTopK(idx, probes, queryVecs, corpus, kAdc = 10, k = 3)
    val cleanRows = rows(probe(spark.table(clean)))
    assert(cleanRows.nonEmpty && cleanRows == rows(probe(spark.table(retried))),
      "duplicate PQ index rows leaked into the funnel rankings")

    // takedown + compaction: tombstone-filtered probe on the old
    // generation ≡ unfiltered probe on the compacted one (the d57/d59
    // invariant on the compressed layout), and the retry residue is
    // physically reclaimed
    val tomb = e.filter(col("vec_id") % 7 === 1).select("vec_id")
    val filtered = spark.table(retried).join(
      broadcast(tomb.select(col("vec_id").as("cid"))), Seq("cid"), "left_anti")
    val compacted = Similarity.compactIvfPqIndex(spark, retried, tomb, "ivfpq_r12_c")
    val viaFilter = rows(probe(filtered))
    assert(viaFilter.nonEmpty && viaFilter != cleanRows,
      "tombstones did not change any ranking — takedown drill is vacuous")
    assert(viaFilter == rows(probe(spark.table(compacted))),
      "compacted IVF-PQ generation diverged from the tombstone-filtered probe")
    val cleanCompact = Similarity.compactIvfPqIndex(
      spark, clean, tomb, "ivfpq_r12_cc")
    assert(spark.table(compacted).count() == spark.table(cleanCompact).count(),
      "retry residue survived IVF-PQ compaction")
    spark.catalog.clearCache()
  }

  test("s37 drift-gated re-train under the live stream: the planted " +
    "skewed ingest fires the gate, the swap publishes a RETRAINED " +
    "geometry (cells actually move), and wave-0's appends are carried " +
    "through the re-train swap") {
    import ops.{Incremental, Similarity}
    import ops.Similarity.{norm2Q, quantize}
    val q = SparkEntry.queries("s37_stream_drift_retrain")
    val out = q(spark, sf0001)
    assert(out.count() > 0)
    assert(streaming.StreamingQueries.s37Acted,
      "the drift gate did not fire on the planted skewed ingest — " +
        "the re-train branch went unexercised")
    val handles = Incremental.resolveCatalog(
      streaming.StreamingQueries.s37Catalog, expect = 2)
    val gen2 = spark.table(handles(0))
    // wave-0 arrivals (ids %20=5) survived into generation 2
    assert(gen2.filter(col("cid") % 20 === 5).count() > 0,
      "wave-0 appends were dropped by the re-train swap")
    // the geometry actually moved: at least one stored vector's cell
    // under the retrained anchors differs from a fresh assignment
    // against the FROZEN anchors
    graft.functions.LongDot.register(spark)
    val e = Tables.embeddings(spark, sf0001)
      .select(col("vec_id"), quantize(col("embedding")).as("v"))
      .withColumn("n2", norm2Q(col("v")))
    val cents0 = e.filter(col("vec_id") < 8)
      .select(col("vec_id").as("cent_id"), col("v").as("cv"))
    val frozen = Similarity.ivfAssignAgainst(
      gen2.select(col("cid").as("vec_id"), col("cv2").as("v"),
        col("cn2").as("n2")), cents0)
      .select(col("vec_id"), col("cell").as("frozen_cell"))
    val moved = gen2.select(col("cid").as("vec_id"), col("cell"))
      .join(frozen, Seq("vec_id"))
      .filter(col("cell") =!= col("frozen_cell")).count()
    assert(moved > 0,
      "no stored vector changed cell — the re-train was a no-op and the " +
        "drill is vacuous")
    spark.catalog.clearCache()
  }

  test("t53 incremental BM25: every phase transition is non-vacuous, " +
    "post_compact equals post_takedown value-for-value, and the query " +
    "vocabulary is pushed down to the bucketed posting scan") {
    val out = SparkEntry.queries("t53_incremental_bm25")(spark, sf0001)
      .collect().groupBy(_.getString(0))
      .map { case (ph, rs) =>
        ph -> rs.map(r => (r.getString(1), r.getLong(2), r.getLong(3),
          r.getDouble(4))).toSet
      }
    assert(out.keySet == Set("pre", "post_append", "post_takedown", "post_compact"))
    assert(out("pre") != out("post_append"),
      "ingest batch changed no ranking — append drill is vacuous")
    assert(out("post_append") != out("post_takedown"),
      "takedown changed no ranking — takedown drill is vacuous")
    assert(out("post_takedown") == out("post_compact"),
      "compacted stores diverged from the delta-folded tombstone-filtered probe")

    // pushdown: the vocabulary IN-filter reaches the posting store scan
    import ops.TextAnalysis
    val docs = Tables.documents(spark, sf0001)
    val table = TextAnalysis.writePostingStore(spark,
      TextAnalysis.postingsOf(docs), "post_r12_pd")
    val vocab = Seq("merge", "sort")
    val plan = castToImpl(spark.table(table)
      .filter(col("term").isin(vocab.map(v => v: Any): _*)))
      .queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters") && plan.contains("In(term"),
      s"vocabulary filter did not reach the posting scan:\n$plan")
    spark.catalog.clearCache()
  }

  test("t53 crash-retry idempotence: a re-run ingest batch (posting " +
    "append doubled, batch-keyed delta overwritten in place) leaves " +
    "every BM25 ranking byte-identical, and compaction collapses the " +
    "posting residue") {
    import ops.TextAnalysis
    import spark.implicits._
    val queryTerms = Seq("q01" -> "merge", "q01" -> "sort",
      "q02" -> "stream", "q02" -> "window")
    val qt = queryTerms.toDF("query_id", "term")
    val vocab = queryTerms.map(_._2).distinct
    val docs = Tables.documents(spark, sf0001)
    val base = TextAnalysis.postingsOf(docs.filter(col("doc_id") % 5 =!= 3))
    val batch = TextAnalysis.postingsOf(docs.filter(col("doc_id") % 5 === 3))

    def build(tag: String, retried: Boolean) = {
      val dfDir = graft.Scratch.dir(s"graft_r12_df_$tag")
      val statsDir = graft.Scratch.dir(s"graft_r12_st_$tag")
      val table = TextAnalysis.writePostingStore(spark, base, s"post_r12_$tag")
      TextAnalysis.logStatDeltas(base, dfDir, statsDir, 0, 1)
      TextAnalysis.appendPostingStore(spark, batch, table)
      TextAnalysis.logStatDeltas(batch, dfDir, statsDir, 1, 1)
      if (retried) { // the crash-retry: the SAME batch lands again
        TextAnalysis.appendPostingStore(spark, batch, table)
        TextAnalysis.logStatDeltas(batch, dfDir, statsDir, 1, 1)
      }
      (table, dfDir, statsDir)
    }
    val (cleanT, cleanDf, cleanSt) = build("c", retried = false)
    val (retryT, retryDf, retrySt) = build("r", retried = true)
    assert(spark.table(retryT).count() > spark.table(cleanT).count(),
      "double append left no residue — drill is vacuous")
    def probe(t: String, df: String, st: String) =
      TextAnalysis.bm25Probe("p", spark.table(t), qt, vocab, df, st, spark)
        .collect().map(_.toString).toSet
    val clean = probe(cleanT, cleanDf, cleanSt)
    assert(clean.nonEmpty && clean == probe(retryT, retryDf, retrySt),
      "a retried ingest batch corrupted the BM25 rankings — the " +
        "batch-keyed delta overwrite or the posting distinct failed")
    // compaction reclaims the posting residue (empty tombstone set
    // isolates the residue effect)
    val noTomb = docs.select("doc_id").limit(0)
    val cClean = TextAnalysis.compactPostingStore(spark, cleanT, noTomb, "post_r12_cc")
    val cRetry = TextAnalysis.compactPostingStore(spark, retryT, noTomb, "post_r12_rc")
    assert(spark.table(cRetry).count() == spark.table(cClean).count(),
      "retry residue survived posting-store compaction")
    spark.catalog.clearCache()
  }

  test("d64 re-bucket migration: content survives the 8→32 rewrite, the " +
    "32-bucket generation answers a shuffled probe bucket-aware with no " +
    "index-side exchange, and an append at the STALE spec is rejected " +
    "loudly") {
    import ops.Dedup
    val docs = Tables.documents(spark, sf0001)
    val (buckets, _) = Dedup.lshBucketsAndShingles(docs, "doc_id", "text",
      shingleWords = 3, bands = 4, rowsPerBand = 2)
    val base = buckets.filter(col("id") % 7 =!= 3 && col("id") % 7 =!= 5)
    val t1 = "graft_band_r12m_" +
      graft.Scratch.dir("graft_band_r12m").replaceAll("[^A-Za-z0-9]", "_").takeRight(24)
    Dedup.writeBandIndex(spark, base, t1, Some(8))
    val t2 = Dedup.migrateBandIndex(spark, t1, nBuckets = 32, "r12m")

    // content-preserving: the migrated generation holds exactly the
    // distinct rows of generation 1
    assert(rows(spark.table(t2)) == rows(spark.table(t1).distinct()),
      "migration changed the index content")

    // the maintenance path works at the NEW spec and fails LOUDLY at
    // the stale one — the reason d64 publishes the spec in the catalog.
    // No library writer takes a count for an existing store, so the
    // stale bucketBy(8) append is issued with a raw writer.
    Dedup.appendBandIndex(spark, buckets.filter(col("id") % 7 === 3), t2)
    val ex = intercept[Exception] {
      buckets.filter(col("id") % 7 === 5)
        .select(concat_ws(":", col("band"), col("band_key")).as("bk"), col("id"))
        .write.mode("append").format("parquet")
        .bucketBy(8, "bk").sortBy("bk").saveAsTable(t2)
    }
    assert(ex.getMessage.toLowerCase.contains("bucket"),
      s"stale-spec append failed for the wrong reason: ${ex.getMessage}")

    // layout: a shuffled probe join reads the 32-bucket side straight
    // from its files — no exchange, bucket-aware scan
    spark.catalog.clearCache()
    val confs = Seq(
      "spark.sql.adaptive.enabled" -> "false",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1")
    val saved = confs.map { case (k, _) => k -> spark.conf.get(k) }
    try {
      confs.foreach { case (k, v) => spark.conf.set(k, v) }
      val probeSide = buckets.filter(col("id") % 7 === 5)
        .select(concat_ws(":", col("band"), col("band_key")).as("bk"),
          col("id").as("new_id"))
      val probe = spark.table(t2)
        .join(probeSide.hint("shuffle_merge"), "bk")
      val plan = castToImpl(probe).queryExecution.executedPlan
      val join = plan.collectFirst {
        case j: org.apache.spark.sql.execution.joins.SortMergeJoinExec => j
        case j: org.apache.spark.sql.execution.joins.ShuffledHashJoinExec => j
      }
      assert(join.isDefined, s"expected a shuffled probe join:\n$plan")
      val indexSide = join.get.children.filter(_.toString.contains("band_index"))
      assert(indexSide.size == 1, s"index scan not under the probe join:\n$plan")
      assert(indexSide.head.collect {
        case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => e
      }.isEmpty, "the migrated 32-bucket index side got re-shuffled")
      assert(plan.toString.contains("Bucketed: true") ||
        plan.toString.contains("SelectedBucketsCount"),
        s"migrated index scan is not bucket-aware:\n$plan")
    } finally saved.foreach { case (k, v) => spark.conf.set(k, v) }
    spark.catalog.clearCache()
  }

  test("s38 streaming BM25 maintenance: a wave-0 arrival is retrievable " +
    "in its own wave's serving probe, the mid-stream takedown removes " +
    "docs that held wave-0 top-5 slots, and wave-0's in-stream posting " +
    "appends survive the compaction swap into generation 2") {
    import ops.Incremental
    val out = SparkEntry.queries("s38_stream_bm25_maintenance")(spark, sf0001)
      .collect()
    val w0 = out.filter(_.getLong(0) == 0L).map(r => r.getLong(2)).toSet
    val w1 = out.filter(_.getLong(0) == 1L).map(r => r.getLong(2)).toSet
    assert(w0.nonEmpty && w1.nonEmpty)
    // append-then-probe: the wave's own docs are immediately retrievable
    assert(w0.exists(_ % 20 == 5),
      "no wave-0 arrival reached its own wave's top-5 — in-stream " +
        "indexing is invisible to serving")
    // the takedown is non-vacuous: tombstoned docs HELD wave-0 slots and
    // are gone from wave 1
    assert(w0.exists(id => id % 10 != 5 && id % 7 == 2),
      "no tombstoned doc held a wave-0 slot — takedown drill is vacuous")
    assert(!w1.exists(id => id % 10 != 5 && id % 7 == 2),
      "a tombstoned doc survived into wave 1's results")
    // wave-0's appends are carried through the compaction swap
    val h = Incremental.resolveCatalog(
      streaming.StreamingQueries.s38Catalog, expect = 3)
    assert(spark.table(h(0)).filter(col("doc_id") % 20 === 5).count() > 0,
      "wave-0's in-stream posting appends were dropped by the swap")
    spark.catalog.clearCache()
  }

  test("d65 growth gate: holds at sf0.001 (catalog keeps generation 1 at " +
    "8 buckets) and fires at sf0.1 (catalog swaps to a REAL 128-bucket " +
    "table) — the physical outcome of both hash-checked branches") {
    import ops.{Dedup, Incremental}
    def bucketCountOf(table: String): Int =
      spark.sessionState.catalog
        .getTableMetadata(org.apache.spark.sql.catalyst.TableIdentifier(table))
        .bucketSpec.get.numBuckets

    val small = SparkEntry.queries("d65_growth_gated_migration")(spark, sf0001)
      .collect().head
    assert(!small.getBoolean(3), "gate fired at sf0.001 — budget mis-pinned")
    val hSmall = Incremental.resolveCatalog(Dedup.d65Catalog, expect = 2)
    assert(hSmall(1) == "8" && bucketCountOf(hSmall(0)) == 8,
      "holding gate still changed the published generation")

    val big = SparkEntry.queries("d65_growth_gated_migration")(
      spark, "/root/testdata/sf0.1").collect().head
    assert(big.getBoolean(3), "gate held at sf0.1 — budget mis-pinned")
    assert(big.getLong(5) == 128L, s"sizing ladder chose ${big.getLong(5)}, not 128")
    val hBig = Incremental.resolveCatalog(Dedup.d65Catalog, expect = 2)
    assert(hBig(1) == "128" && bucketCountOf(hBig(0)) == 128,
      "the published generation is not the 128-bucket table the ladder chose")
    spark.catalog.clearCache()
  }

  test("d66 retention GC: a generation beyond retention is PHYSICALLY " +
    "reclaimed (table dropped, storage deleted, pinned read fails " +
    "loudly) while generations within retention stay pinned-readable") {
    import ops.{Dedup, Incremental}
    // the query run leaves v1 (full index) and v2 (post-takedown)
    assert(SparkEntry.queries("d66_catalog_history_timetravel")(
      spark, sf0001).count() > 0)
    val cat = Dedup.d66Catalog
    assert(Incremental.catalogVersions(cat) == Seq(1, 2))
    val t1 = Incremental.resolveCatalogVersion(cat, 1, expect = 1).head
    val loc1 = new java.io.File(spark.sessionState.catalog.getTableMetadata(
      org.apache.spark.sql.catalyst.TableIdentifier(t1)).location)
    assert(spark.catalog.tableExists(t1) && loc1.exists())

    // a third generation pushes v1 past retain=2; GC reclaims it
    val t2 = Incremental.resolveCatalog(cat, expect = 1).head
    val noTomb = Tables.documents(spark, sf0001)
      .select(col("doc_id").as("id")).limit(0)
    val t3 = Dedup.compactBandIndex(spark, t2, noTomb, "r12gc")
    Incremental.publishCatalogVersioned(cat, Seq(t3))
    val dropped = Incremental.gcCatalogHistory(spark, cat, retain = 2)
    assert(dropped == Seq(1), s"GC reclaimed $dropped, expected Seq(1)")

    // v1 is PHYSICALLY gone: history entry, table registration, storage
    intercept[IllegalArgumentException] {
      Incremental.resolveCatalogVersion(cat, 1, expect = 1)
    }
    assert(!spark.catalog.tableExists(t1), "GC'd generation's table survives")
    assert(!loc1.exists(), "GC'd generation's storage survives")

    // generations within retention keep working: the pin and the pointer
    assert(Incremental.catalogVersions(cat) == Seq(2, 3))
    assert(spark.table(
      Incremental.resolveCatalogVersion(cat, 2, expect = 1).head).count() > 0)
    assert(spark.table(
      Incremental.resolveCatalog(cat, expect = 1).head).count() > 0)
    spark.catalog.clearCache()
  }

  test("d67 reclamation gate: holds at sf0.001 (the catalog keeps the " +
    "residue-carrying store) and fires at sf0.1 (a compacted generation " +
    "is published whose count matches the census arithmetic)") {
    import ops.{Dedup, Incremental}
    val small = SparkEntry.queries("d67_reclamation_gated_compaction")(
      spark, sf0001).collect().head
    assert(!small.getBoolean(4), "gate fired at sf0.001 — volume mis-pinned")
    assert(small.getLong(1) > 0, "planted residue missing — census untested")
    val tSmall = Incremental.resolveCatalog(Dedup.d67Catalog, expect = 1).head
    assert(spark.table(tSmall).count() == small.getLong(0),
      "holding gate still rewrote the store")

    val big = SparkEntry.queries("d67_reclamation_gated_compaction")(
      spark, "/root/testdata/sf0.1").collect().head
    assert(big.getBoolean(4), "gate held at sf0.1 — volume mis-pinned")
    val tBig = Incremental.resolveCatalog(Dedup.d67Catalog, expect = 1).head
    assert(spark.table(tBig).count() == big.getLong(5),
      "compacted generation's physical count diverges from the census")
    assert(big.getLong(5) == big.getLong(0) - big.getLong(3),
      "post count is not rows minus reclaimable — the census lies")
    spark.catalog.clearCache()
  }

  test("t54 tokenizer drift: the planted distribution shift fires the " +
    "gate with a large fertility climb, while an UNDRIFTED batch of the " +
    "same corpus measures far below it — the census separates, not " +
    "rubber-stamps") {
    import ops.{BpeTokenizer, Dedup, TextAnalysis}
    val row = SparkEntry.queries("t54_tokenizer_drift_census")(spark, sf0001)
      .collect().head
    val drift = row.getLong(8)
    assert(row.getBoolean(9) && drift >= 100000,
      s"planted reversal drifted only $drift micros — the plant is weak")

    // hold branch: the SAME batch without the reversal (same
    // distribution as training) must measure far under the gate
    val docs = Tables.documents(spark, sf0001)
    def census(df: org.apache.spark.sql.DataFrame) = Dedup.reuse(
      df.select(explode(TextAnalysis.tokens(col("text"), "whitespace")).as("word"))
        .filter(length(col("word")) > 0)
        .groupBy("word").agg(count(lit(1)).as("cnt")))
    val baseCen = census(docs.filter(col("doc_id") % 5 =!= 3))
    val batchCen = census(docs.filter(col("doc_id") % 5 === 3))
    val (merges, _) = BpeTokenizer.learn(spark,
      baseCen.select(col("word"), col("cnt").as("freq")), 40)
    val segAll = BpeTokenizer.segmentTypes(
      baseCen.select("word").union(batchCen.select("word")).distinct(), merges)
    def tpc(cen: org.apache.spark.sql.DataFrame): Long = {
      val r = cen.join(segAll, "word")
        .agg(sum(col("cnt") * col("n_tok")).as("t"),
          sum(col("cnt") * length(col("word"))).as("c")).head
      math.round(1e6 * r.getLong(0) / r.getLong(1))
    }
    val undrifted = tpc(batchCen) - tpc(baseCen)
    assert(math.abs(undrifted) < 30000,
      s"an in-distribution batch measured $undrifted micros — the gate " +
        "would re-train on noise")
    spark.catalog.clearCache()
  }

  test("d66 GC crash windows: an orphan history version (publish died " +
    "before the pointer swap) cannot push the POINTED generation out of " +
    "retention, and a GC retried after a partial crash converges") {
    import ops.{Dedup, Incremental}
    val docs = Tables.documents(spark, sf0001)
    val (buckets, _) = Dedup.lshBucketsAndShingles(docs, "doc_id", "text", 3, 4, 2)
    def freshTable(tag: String): String = {
      val t = s"graft_band_${tag}_" +
        graft.Scratch.dir(s"graft_band_$tag").replaceAll("[^A-Za-z0-9]", "_").takeRight(24)
      Dedup.writeBandIndex(spark, buckets.limit(50), t)
      t
    }
    val cat = graft.Scratch.dir("graft_r12_gccrash") + "/store.catalog"
    val t1 = freshTable("gcc1")
    Incremental.publishCatalogVersioned(cat, Seq(t1))
    // the crash window: v2's history lands but the pointer swap never
    // ran — the pointer still names v1's generation
    val t2 = freshTable("gcc2")
    val hd = java.nio.file.Paths.get(cat + ".history")
    java.nio.file.Files.write(hd.resolve("v00002"),
      ops.Incremental.versionFileBytes(Seq(t2)))
    assert(Incremental.resolveCatalog(cat, expect = 1).head == t1)
    // retain=1 would otherwise keep only the orphan v2 and reclaim v1 —
    // the generation the only guaranteed reader (the pointer) still uses
    val dropped = Incremental.gcCatalogHistory(spark, cat, retain = 1)
    assert(dropped == Seq(1), s"expected v1's history trimmed, got $dropped")
    assert(spark.catalog.tableExists(t1),
      "GC reclaimed the generation the current pointer references")
    assert(spark.table(t1).count() > 0)

    // partial-crash idempotence: a GC that died after dropping the
    // table but before deleting the history entry converges on retry
    val t3 = freshTable("gcc3")
    Incremental.publishCatalogVersioned(cat, Seq(t3))
    val t4 = freshTable("gcc4")
    Incremental.publishCatalogVersioned(cat, Seq(t4))
    // simulate the torn state for the oldest version: table gone, entry kept
    val victim = Incremental.resolveCatalogVersion(cat,
      Incremental.catalogVersions(cat).head, expect = 1).head
    if (spark.catalog.tableExists(victim)) spark.sql(s"DROP TABLE `$victim`")
    val retried = Incremental.gcCatalogHistory(spark, cat, retain = 1)
    assert(retried.nonEmpty, "retried GC did nothing with a torn version")
    assert(spark.table(
      Incremental.resolveCatalog(cat, expect = 1).head).count() > 0,
      "retried GC broke the current generation")
    spark.catalog.clearCache()
  }

  test("t55 epoch export: the permutation is a pure function of " +
    "(epoch, doc) — invariant to input partitioning, different across " +
    "epochs with identical membership — and the physical sharded write " +
    "streams docs in exactly the fingerprinted order") {
    val q = SparkEntry.queries("t55_epoch_shard_export")
    val out = q(spark, sf0001).collect()
    val byEpoch = out.groupBy(_.getLong(0))
    // same membership per shard-set, different permutation per epoch
    assert(byEpoch(1L).map(r => r.getLong(2)).sum == byEpoch(2L).map(_.getLong(2)).sum,
      "epochs disagree on total membership")
    assert(byEpoch(1L).map(_.getString(4)).toSet
      .intersect(byEpoch(2L).map(_.getString(4)).toSet).isEmpty,
      "an epoch-1 shard has the same order fingerprint as an epoch-2 " +
        "shard — the epochs do not re-permute")
    // partitioning invariance: a differently-partitioned run is byte-equal
    val again = q(spark, sf0001).repartition(13).orderBy("epoch", "shard").collect()
    assert(out.map(_.toString).toSeq == again.map(_.toString).toSeq)

    // the physical export: repartition by shard, sort within partitions
    // by (h, doc_id), one file tree per (epoch, shard) — reading a shard
    // back in file order must reproduce the fingerprint exactly
    val docs = Tables.documents(spark, sf0001)
    val keyed = docs.select(col("doc_id"))
      .withColumn("epoch", lit(1L))
      .withColumn("h",
        conv(substring(md5(concat(col("epoch").cast("string"), lit(":"),
          col("doc_id").cast("string"))), 1, 15), 16, 10).cast("long"))
      .withColumn("shard", col("h") % 8)
    val outDir = graft.Scratch.dir("graft_r12_export")
    keyed.repartition(col("shard"))
      .sortWithinPartitions(col("shard"), col("h"), col("doc_id"))
      .write.partitionBy("shard").mode("overwrite").parquet(outDir)
    val shard0 = spark.read.parquet(s"$outDir/shard=0")
      .collect().map(_.getAs[Long]("doc_id"))
    val fp = java.security.MessageDigest.getInstance("MD5")
      .digest(shard0.mkString(",").getBytes)
      .map("%02x".format(_)).mkString
    val expected = out.find(r => r.getLong(0) == 1L && r.getLong(1) == 0L).get.getString(4)
    assert(fp == expected,
      "the physically exported shard stream is not in the fingerprinted order")
    spark.catalog.clearCache()
  }

  test("t56 PII scrub: the redacted text actually loses the planted " +
    "spans (no residual @ or 555- anywhere), and the scrub is one " +
    "narrow map stage — no exchange before the census sort") {
    val docs = Tables.documents(spark, sf0001)
    val email = "[a-z]+@[a-z]+[.][a-z]+"
    val phone = "555-[0-9]+"
    val scrub = docs.select(col("doc_id"),
      when(col("doc_id") % 6 === 1,
        concat(col("text"), lit(" reach me at "),
          element_at(split(col("text"), " "), 1), lit("@mail.test")))
        .when(col("doc_id") % 6 === 2,
          concat(col("text"), lit(" or call 555-0"),
            (col("doc_id") % 100).cast("string")))
        .otherwise(col("text")).as("t"))
      .select(col("doc_id"),
        regexp_replace(regexp_replace(col("t"), email, "[EMAIL]"),
          phone, "[PHONE]").as("clean"))
    assert(scrub.filter(col("clean").contains("@") ||
      col("clean").rlike("555-[0-9]")).count() == 0,
      "residual PII survived the redaction pass")
    assert(scrub.filter(col("clean").contains("[EMAIL]")).count() > 0 &&
      scrub.filter(col("clean").contains("[PHONE]")).count() > 0,
      "no planted span was redacted — drill is vacuous")
    val shuffles = castToImpl(scrub).queryExecution.executedPlan.collect {
      case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => e
    }
    assert(shuffles.isEmpty, "the scrub pass shuffles corpus text")
  }

  test("t57 drop attribution: every gate actually attributes documents " +
    "(no vacuous stage), first-drop-wins holds (a too-short repetitive " +
    "doc is attributed to too_short), and the corpus is covered exactly " +
    "once") {
    val out = SparkEntry.queries("t57_drop_attribution")(spark, sf0001).collect()
    val byReason = out.groupBy(_.getString(2)).map { case (k, v) => k -> v.length }
    assert(byReason.keySet == Set("kept", "too_short", "repetitive", "low_stopword"),
      s"missing attribution classes: $byReason")
    assert(byReason.values.forall(_ > 0))
    assert(out.length == Tables.documents(spark, sf0001).count(),
      "attribution does not cover the corpus exactly once")
    // first-drop-wins: every too-short doc is attributed too_short even
    // when later gates would also fire
    assert(out.filter(_.getLong(1) < 20).forall(_.getString(2) == "too_short"),
      "a short doc escaped the first gate's attribution")
  }

  test("s39 streaming IVF-PQ: a wave-0 vector ingested as CODES is " +
    "retrievable through the compaction swap, tombstoned vectors held " +
    "wave-0 slots and leave every wave-1 result, and generation 2 " +
    "stays codes-only") {
    import ops.Incremental
    val out = SparkEntry.queries("s39_stream_ivfpq_maintained_index")(
      spark, sf0001).collect()
    val w0 = out.filter(_.getLong(0) == 0L).map(_.getLong(3))
    val w1 = out.filter(_.getLong(0) == 1L).map(_.getLong(3))
    assert(w0.nonEmpty && w1.nonEmpty)
    assert(w1.exists(_ % 20 == 5),
      "no wave-0 ingested vector reached a wave-1 funnel top-3 — " +
        "in-stream code appends are invisible")
    assert(w0.exists(id => id % 10 != 5 && id % 7 == 3),
      "no tombstoned vector held a wave-0 slot — takedown drill vacuous")
    assert(!w1.exists(id => id % 10 != 5 && id % 7 == 3),
      "a tombstoned vector survived into wave 1")
    val gen2 = Incremental.resolveCatalog(
      streaming.StreamingQueries.s39Catalog, expect = 1).head
    assert(spark.table(gen2).schema.fieldNames.toSet == Set("cell", "cid", "codes"),
      "the compacted generation is not codes-only")
    assert(spark.table(gen2).filter(col("cid") % 20 === 5).count() > 0,
      "wave-0 code appends were dropped by the swap")
    spark.catalog.clearCache()
  }
}
