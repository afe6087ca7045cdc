package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** p02 incremental curation: the "never rebuild" contract. After the
  * three delta batches are admitted, every maintained store must be
  * byte-equal to a from-scratch rebuild over (corpus ∪ admitted) — the
  * invariant that lets a 100 TB deployment append to its indexes
  * instead of re-signing the corpus — and every dup-drop path must be
  * non-vacuous (the plant guarantees work for each). */
class IncrementalSpec extends SparkTestBase {

  private def rows(df: DataFrame): Set[String] =
    df.collect().map(_.toString).toSet

  /** Small synthetic planted universe (~150 docs) for the store drills —
    * cheap enough to build several store universes per test. */
  private def smallUniverse(): DataFrame = spark.range(150)
    .select(col("id").as("doc_id"),
      expr("concat_ws(' ', transform(sequence(1, 25), " +
        "i -> substr(md5(concat(cast(doc_id as string), ':', cast(i as string))), 1, 5)))")
        .as("text"))
    .select(col("doc_id"), expr(ops.Incremental.plantSqlForProbe).as("t"))
    .localCheckpoint(true)

  /** Init the three p02 stores over `corpus`, returning their handles. */
  private def initStores(tag: String, corpus: DataFrame): (String, String, String) = {
    val idx = s"graft_band_index_p02spec_$tag"
    val ex = Scratch.dir(s"graft_p02spec_ex_$tag")
    val sh = Scratch.dir(s"graft_p02spec_sh_$tag")
    val (cb, cs) = ops.Dedup.lshBucketsAndShingles(corpus, "doc_id", "t", 3, 4, 2)
    ops.Dedup.writeBandIndex(spark, cb, idx)
    cs.distinct().write.mode("overwrite").parquet(sh)
    corpus.select(md5(col("t")).as("h")).distinct()
      .write.mode("overwrite").parquet(ex)
    (idx, ex, sh)
  }

  test("p02: maintained exact/band/shingle stores equal a from-scratch " +
    "rebuild on corpus + admitted, and all four drop paths fire") {
    val p02 = ops.Incremental.incrementalCuration(spark, sf001)
    val census = p02.census.collect()
    assert(census.length == 3, "one census row per delta")

    def sumCol(c: String): Long =
      census.map(r => r.getLong(r.fieldIndex(c))).sum
    assert(sumCol("n_exact_within") > 0, "within-delta exact path vacuous")
    assert(sumCol("n_exact_store") > 0, "store exact path vacuous")
    assert(sumCol("n_near_store") > 0, "store near-dup path vacuous")
    assert(sumCol("n_near_within") > 0, "within-delta near-dup path vacuous")
    assert(sumCol("n_admitted") > 0 && sumCol("n_admitted") < sumCol("n_arrived"))

    // the reference state: what a full rebuild on (corpus ∪ admitted)
    // would produce, via the same one-digest pipeline
    val surviving = p02.planted.filter(col("doc_id") % 11 =!= 5)
      .select(col("doc_id"), col("t"))
      .unionByName(p02.admitted.select(col("doc_id"), col("t")))
    val (rb, rs) = ops.Dedup.lshBucketsAndShingles(
      surviving, "doc_id", "t", shingleWords = 3, bands = 4, rowsPerBand = 2)

    // band index: maintained table == rebuilt buckets (as (bk, id) rows)
    val maintainedIdx = rows(spark.table(p02.idxTable))
    val rebuiltIdx = rows(rb.select(
      concat_ws(":", col("band"), col("band_key")).as("bk"), col("id")))
    assert(maintainedIdx == rebuiltIdx,
      s"band index diverged from rebuild: ${(maintainedIdx diff rebuiltIdx).take(3)} vs " +
        s"${(rebuiltIdx diff maintainedIdx).take(3)}")

    // shingle store: maintained == rebuilt distinct (id, h) sets
    val maintainedSh = rows(spark.read.schema("id LONG, h LONG").parquet(p02.shDir))
    assert(maintainedSh == rows(rs.distinct()),
      "shingle store diverged from rebuild")

    // exact-hash store: maintained == rebuilt distinct hashes
    val maintainedH = rows(spark.read.schema("h STRING").parquet(p02.exDir))
    assert(maintainedH == rows(surviving.select(md5(col("t")).as("h")).distinct()),
      "exact-hash store diverged from rebuild")

    // admission safety: admitted docs are pairwise non-duplicate at the
    // pipeline's own threshold — verify the admitted set against itself
    val (aB, aS) = ops.Dedup.lshBucketsAndShingles(
      p02.admitted.select(col("doc_id"), col("t")), "doc_id", "t", 3, 4, 2)
    val selfPairs = ops.Dedup.jaccardVerifiedPairs(
      ops.Dedup.candidatePairs(aB, cap = ops.Dedup.DefaultBucketCap,
        materialize = false), aS, tau = 0.5)
    assert(selfPairs.isEmpty, "two admitted docs are near-duplicates")
    spark.catalog.clearCache()
  }

  test("p02 delta retry after a crash between store appends is idempotent: " +
    "re-running the delta against the partial state (bands + shingles " +
    "landed, exact-hash marker did not) admits the identical set and the " +
    "stores converge to the clean run's contents") {
    import ops.{Dedup, Incremental}
    // the crash drill needs two full store universes, so keep each cheap
    val docs = smallUniverse()
    val corpus = docs.filter(col("doc_id") % 11 =!= 5)

    // control universe: delta 0 then delta 1, clean
    val (iB, eB, sB) = initStores("ctl", corpus)
    Incremental.deltaStep(spark, docs, 0, iB, eB, sB)
    val (rowB, adm1B) = Incremental.deltaStep(spark, docs, 1, iB, eB, sB)
    val nAdmB = rowB.collect()(0).getAs[Long]("n_admitted")
    assert(nAdmB > 0, "control delta 1 admitted nothing — drill is vacuous")

    // crashed universe: identical init + delta 0, then the PARTIAL state a
    // crash between appends leaves (admitted docs' bands and shingles in
    // the stores, exact-hash marker absent), then the delta-1 RETRY
    val (iA, eA, sA) = initStores("crash", corpus)
    Incremental.deltaStep(spark, docs, 0, iA, eA, sA)
    val admDocs = adm1B.select(col("doc_id"), col("t"))
    val (pB, pS) = Dedup.lshBucketsAndShingles(admDocs, "doc_id", "t", 3, 4, 2)
    Dedup.appendBandIndex(spark, pB, iA)
    pS.distinct().write.mode("append").parquet(sA)
    val (rowA, adm1A) = Incremental.deltaStep(spark, docs, 1, iA, eA, sA)

    assert(rows(adm1A.select("doc_id")) == rows(adm1B.select("doc_id")),
      "retry admitted a different set than the clean run")
    assert(rowA.collect()(0).getAs[Long]("n_admitted") == nAdmB)
    // stores converge as SETS (the retry re-appends rows the crash already
    // landed — duplicates, absorbed by the probes' distincts)
    assert(rows(spark.table(iA)) == rows(spark.table(iB)),
      "band index diverged after retry")
    assert(rows(spark.read.schema("id LONG, h LONG").parquet(sA)) ==
      rows(spark.read.schema("id LONG, h LONG").parquet(sB)),
      "shingle store diverged after retry")
    assert(rows(spark.read.schema("h STRING").parquet(eA)) ==
      rows(spark.read.schema("h STRING").parquet(eB)),
      "exact-hash store diverged after retry")
    spark.catalog.clearCache()
  }

  test("p02 retry idempotence holds for TRANSITIVE near-dup chains: with " +
    "A~B, B~C, A≁C in one batch, a retry against partial store state " +
    "(bands + shingles landed, marker absent) must not drop B against its " +
    "own residue copy of A — stage 3 must recompute the full chain and " +
    "admit exactly the clean run's set") {
    import ops.{Dedup, Incremental}
    import spark.implicits._
    // chain construction: 30-token docs over a private vocab. Shingle
    // (3-gram) Jaccards by token-run arithmetic: J(X,Y) = J(Y,Z) =
    // 23/33 ≈ 0.70 ≥ τ=0.5; J(X,Z) = 18/38 ≈ 0.47 < τ. The 'cae'
    // vocab prefix is chosen (offline md5 replay of the banding
    // scheme) so BOTH chain edges deterministically band-collide at
    // 4×2 banding while X–Z does not even share a band
    val t = (1 to 30).map(i => f"cae$i%02d")
    val docsB = Seq(
      1001L -> (t.take(25) ++ (1 to 5).map(i => s"xaa$i")),   // X
      1002L -> t,                                             // Y
      1003L -> (t.drop(5) ++ (1 to 5).map(i => s"zqq$i")),    // Z
      1004L -> (1 to 30).map(i => s"fil4t$i"),
      1005L -> (1 to 30).map(i => s"fil5t$i"))
    val batch = docsB.map { case (id, ts) => (id, ts.mkString(" ")) }
      .toDF("doc_id", "t").localCheckpoint(true)
    val corpus = spark.range(1, 41).select(col("id").as("doc_id"),
      expr("concat_ws(' ', transform(sequence(1, 30), " +
        "i -> concat('cor', cast(id as string), '_', cast(i as string))))").as("t"))
      .localCheckpoint(true)

    // non-vacuity: the banded + verified within-batch graph is EXACTLY
    // the open chain X—Y—Z (banding caught both edges; X–Z verified out)
    val (bB, bS) = Dedup.lshBucketsAndShingles(batch, "doc_id", "t", 3, 4, 2)
    val edges = Dedup.jaccardVerifiedPairs(
      Dedup.candidatePairs(bB, cap = Dedup.DefaultBucketCap, materialize = false),
      bS, tau = 0.5)
      .select(least(col("id_a"), col("id_b")), greatest(col("id_a"), col("id_b")))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(edges == Set((1001L, 1002L), (1002L, 1003L)),
      s"chain plant is not the open 3-chain: $edges")

    // control: one clean admission — cluster {X,Y,Z} keeps min-id X
    val (iB2, eB2, sB2) = initStores("chainctl", corpus)
    val (rowB, admB) = Incremental.admitBatch(spark, batch, "delta", 0L, iB2, eB2, sB2)
    assert(rows(admB.select("doc_id")) == Set("[1001]", "[1004]", "[1005]"),
      "clean run did not collapse the chain to its min-id rep")
    assert(rowB.collect()(0).getAs[Long]("n_near_within") == 2L)

    // crash universe: bands + shingles of the clean run's admitted docs
    // landed, exact-hash marker did not; then the batch RETRIES
    val (iA2, eA2, sA2) = initStores("chaincrash", corpus)
    val admDocs = batch.join(admB.select("doc_id"), Seq("doc_id"))
      .select(col("doc_id"), col("t"))
    val (pB, pS) = Dedup.lshBucketsAndShingles(admDocs, "doc_id", "t", 3, 4, 2)
    Dedup.appendBandIndex(spark, pB, iA2)
    pS.distinct().write.mode("append").parquet(sA2)
    val (_, admA) = Incremental.admitBatch(spark, batch, "delta", 0L, iA2, eA2, sA2)

    assert(rows(admA.select("doc_id")) == rows(admB.select("doc_id")),
      "chain retry admitted a different set: B dropped against its own " +
        "residue and C leaked through")
    assert(rows(spark.table(iA2)) == rows(spark.table(iB2)),
      "band index diverged after chain retry")
    assert(rows(spark.read.schema("id LONG, h LONG").parquet(sA2)) ==
      rows(spark.read.schema("id LONG, h LONG").parquet(sB2)),
      "shingle store diverged after chain retry")
    assert(rows(spark.read.schema("h STRING").parquet(eA2)) ==
      rows(spark.read.schema("h STRING").parquet(eB2)),
      "exact-hash store diverged after chain retry")
    spark.catalog.clearCache()
  }

  test("s31 streaming-maintained stores equal a from-scratch rebuild on " +
    "corpus + admitted, and the stream catches a new-vs-new duplicate " +
    "across micro-batches (the case s30's static index cannot see)") {
    import ops.{Dedup, Incremental}
    val census = SparkEntry.queries("s31_stream_incremental_curation")(spark, sf0001)
      .collect()
    assert(census.length == 2, "one census row per micro-batch")
    val (idxTable, exDir, shDir) = streaming.StreamingQueries.s31LastStores

    // admitted ids are exactly the band-index ids beyond the corpus —
    // bands are appended only for admitted docs
    val docs = Incremental.plantedDocs(spark, sf0001)
    val corpus = docs.filter(col("doc_id") % 11 =!= 5)
    val admittedIds = spark.table(idxTable).select(col("id").as("doc_id")).distinct()
      .join(corpus.select("doc_id"), Seq("doc_id"), "left_anti")
    val surviving = corpus.unionByName(docs.join(admittedIds, Seq("doc_id")))

    // maintenance-specific evidence: the planted exact twins at
    // j % 20 in (0,3) share a body that exists NOWHERE in the corpus
    // (the 'exw' namespace is arrival-only), and their id parities put
    // them in OPPOSITE waves — doc 38 (j=3, even id) arrives in batch 0,
    // doc 5 (j=0, odd id) in batch 1. Doc 5 can only drop against state
    // batch 0 appended; a static index (s30's contract) admits both.
    val admitted = rows(admittedIds)
    assert(admitted.contains("[38]") && !admitted.contains("[5]"),
      s"cross-batch exact twin not resolved by maintained state: $admitted")

    val (rb, rs) = Dedup.lshBucketsAndShingles(
      surviving, "doc_id", "t", shingleWords = 3, bands = 4, rowsPerBand = 2)
    assert(rows(spark.table(idxTable)) == rows(rb.select(
      concat_ws(":", col("band"), col("band_key")).as("bk"), col("id"))),
      "streaming band index diverged from rebuild")
    assert(rows(spark.read.schema("id LONG, h LONG").parquet(shDir)) ==
      rows(rs.distinct()), "streaming shingle store diverged from rebuild")
    assert(rows(spark.read.schema("h STRING").parquet(exDir)) ==
      rows(surviving.select(md5(col("t")).as("h")).distinct()),
      "streaming exact-hash store diverged from rebuild")
    spark.catalog.clearCache()
  }

  test("s32 tombstone-aware streaming admission: a takedown landing " +
    "between micro-batches binds the very next batch — the freed arrival " +
    "re-admits, a twin dropped before the takedown stays dropped (no " +
    "resurrection), a twin of a still-live partner stays out, and " +
    "maintained state still catches new-vs-new dups across the takedown") {
    import ops.Incremental
    val census = SparkEntry.queries("s32_stream_takedown_admission")(spark, sf0001)
      .collect()
    assert(census.length == 2, "one census row per micro-batch")
    val (idxTable, _, _) = streaming.StreamingQueries.s32LastStores

    val docs = Incremental.plantedDocs(spark, sf0001)
    val corpus = docs.filter(col("doc_id") % 11 =!= 5)
    val admitted = rows(spark.table(idxTable).select(col("id").as("doc_id"))
      .distinct().join(corpus.select("doc_id"), Seq("doc_id"), "left_anti"))

    // 115 arrives in wave 1 (odd id); its ONLY dup partner, corpus 114
    // (j = 10 ∈ the j%40 takedown group), was tombstoned between waves —
    // the next batch's probes must honor it
    assert(admitted.contains("[115]"),
      s"takedown between micro-batches did not free arrival 115: $admitted")
    // 126 arrives in wave 0, BEFORE the takedown of its partner 125 —
    // it dropped against a then-live claim and is not resurrected
    assert(!admitted.contains("[126]"),
      "a pre-takedown drop was resurrected by the later takedown")
    // 335's partner 334 (j = 30) is still live — stays dropped
    assert(!admitted.contains("[335]"),
      "a twin of a still-live partner was wrongly admitted")
    // the maintained stores survive the takedown: wave-0 admitted doc 38
    // still claims its wave-1 exact twin 5
    assert(admitted.contains("[38]") && !admitted.contains("[5]"),
      s"cross-batch new-vs-new dedup broke across the takedown: $admitted")
    spark.catalog.clearCache()
  }

  test("s33 compaction under a live stream: the generation swap between " +
    "micro-batches is honored by the next batch, wave-0 admissions " +
    "survive into the compacted generation (cross-batch dedup outlives " +
    "the swap), and the drained stores equal a rebuild on live corpus " +
    "+ admitted") {
    import ops.{Dedup, Incremental}
    val census = SparkEntry.queries("s33_stream_compacting_admission")(spark, sf0001)
      .collect()
    assert(census.length == 2, "one census row per micro-batch")
    val cat = streaming.StreamingQueries.s33Catalog
    val Seq(idxTable, _, shDir) = Incremental.resolveCatalog(cat, expect = 3)
    // every catalog a query publishes has a history: the initial
    // generation and the compaction swap, and the pointer mirrors the last
    assert(Incremental.catalogVersions(cat) == Seq(1, 2))
    assert(Incremental.resolveCatalog(cat, expect = 3) ==
      Incremental.readCatalogVersion(cat, Incremental.currentCatalogVersion(cat)))

    val docs = Incremental.plantedDocs(spark, sf0001)
    val corpus = docs.filter(col("doc_id") % 11 =!= 5)
    val removed = corpus.filter(Incremental.removedPred).select("doc_id")
    val live = corpus.join(removed, Seq("doc_id"), "left_anti")
    val admitted = rows(spark.table(idxTable).select(col("id").as("doc_id"))
      .distinct().join(corpus.select("doc_id"), Seq("doc_id"), "left_anti"))

    // the s32 behavioral quartet, now THROUGH the swap: freed arrival
    // re-admits via the compacted generation; no resurrection; live
    // partner keeps its twin out; wave-0 admitted doc 38 still claims
    // its wave-1 exact twin 5 from generation 2
    assert(admitted.contains("[115]"), s"compaction did not free 115: $admitted")
    assert(!admitted.contains("[126]"), "pre-swap drop resurrected")
    assert(!admitted.contains("[335]"), "live partner's twin admitted")
    assert(admitted.contains("[38]") && !admitted.contains("[5]"),
      s"cross-batch dedup did not survive the generation swap: $admitted")

    // drained stores == rebuild on (live corpus ∪ admitted): generation 2
    // dropped the tombstoned docs and CARRIED wave 0's admissions
    val admittedDocs = docs.join(
      spark.table(idxTable).select(col("id").as("doc_id")).distinct()
        .join(corpus.select("doc_id"), Seq("doc_id"), "left_anti"),
      Seq("doc_id"))
    val surviving = live.unionByName(admittedDocs)
    val (rb, rs) = Dedup.lshBucketsAndShingles(
      surviving, "doc_id", "t", shingleWords = 3, bands = 4, rowsPerBand = 2)
    assert(rows(spark.table(idxTable)) == rows(rb.select(
      concat_ws(":", col("band"), col("band_key")).as("bk"), col("id"))),
      "post-swap band index diverged from live rebuild")
    assert(rows(spark.read.schema("id LONG, h LONG").parquet(shDir)) ==
      rows(rs.distinct()), "post-swap shingle store diverged from live rebuild")
    spark.catalog.clearCache()
  }

  test("d56 tombstone takedown equals a from-scratch rebuild on the live " +
    "corpus: the filtered probe admits exactly what stores built without " +
    "the removed docs admit, and the planted twins flip as designed") {
    import ops.{Dedup, Incremental}
    val run = Incremental.takedownRun(spark, sf001)
    val census = run.census.collect().map(r =>
      r.getAs[String]("phase") -> r).toMap
    assert(census("post").getAs[Long]("n_readmitted") >= 2,
      "takedown re-admitted nothing — the compliance effect is vacuous")

    // planted flips: partners of j%40 in (10,11) are removed → arrivals
    // 115 (exact twin of corpus 114) and 126 (near twin of 125) re-admit;
    // partners of j%40 in (30,31) stay live → 335 and 346 stay dropped
    val pre = rows(run.admittedPre)
    val post = rows(run.admittedPost)
    assert(!pre.contains("[115]") && post.contains("[115]"),
      "removed exact partner did not free its arrival twin")
    assert(!pre.contains("[126]") && post.contains("[126]"),
      "removed near partner did not free its arrival twin")
    assert(!post.contains("[335]") && !post.contains("[346]"),
      "a twin of a still-live partner was wrongly re-admitted")

    // rebuild equivalence: stores built on the live corpus only, probed
    // WITHOUT tombstones, must admit the identical set
    val docs = run.planted
    val live = docs.filter(col("doc_id") % 11 =!= 5)
      .join(run.removed, Seq("doc_id"), "left_anti")
    val idx2 = "graft_band_index_d56_rebuild"
    val ex2 = Scratch.dir("graft_d56rb_ex")
    val sh2 = Scratch.dir("graft_d56rb_sh")
    val (lb, ls) = Dedup.lshBucketsAndShingles(live, "doc_id", "t", 3, 4, 2)
    Dedup.writeBandIndex(spark, lb, idx2)
    ls.distinct().write.mode("overwrite").parquet(sh2)
    val arr = docs.filter(col("doc_id") % 11 === 5)
      .select(col("doc_id"), col("t"), md5(col("t")).as("h"))
    val liveH = live.select(md5(col("t")).as("h")).distinct()
    val de = arr.join(liveH, Seq("h")).select("doc_id")
    val (aB, aS) = Dedup.lshBucketsAndShingles(arr, "doc_id", "t", 3, 4, 2)
    val dn = Dedup.jaccardVerifiedPairs(
      Dedup.probeBandIndex(spark, idx2, aB),
      aS.unionAll(spark.read.schema("id LONG, h LONG").parquet(sh2)), tau = 0.5)
      .select(col("id_a").as("doc_id")).distinct()
    val rebuiltAdmitted = arr.join(de, Seq("doc_id"), "left_anti")
      .join(dn, Seq("doc_id"), "left_anti").select("doc_id")
    assert(post == rows(rebuiltAdmitted),
      "tombstone-filtered probe diverged from the live-corpus rebuild")
    spark.catalog.clearCache()
  }

  test("d57 compaction: the rewritten stores hold exactly the live rows " +
    "(tombstoned ids gone, crash residue collapsed), the unfiltered " +
    "probe on the compacted generation admits byte-identically to the " +
    "tombstone-filtered probe on the old one, and the compacted index " +
    "keeps its exchange-free bucketed layout") {
    import org.apache.spark.sql.classic.ClassicConversions.castToImpl
    import ops.{Dedup, Incremental}
    val docs = smallUniverse()
    val corpus = docs.filter(col("doc_id") % 11 =!= 5).localCheckpoint(true)
    val (idx, ex, sh) = Incremental.initOwnedStores(spark, corpus, "d57spec")

    // plant crash-retry residue: duplicate band/shingle rows for 10 live
    // docs — dead weight a probe's distinct absorbs but disk keeps
    val res = corpus.orderBy("doc_id").limit(10)
      .select(col("doc_id"), col("t"))
    val (rB, rS) = Dedup.lshBucketsAndShingles(res, "doc_id", "t", 3, 4, 2)
    Dedup.appendBandIndex(spark, rB, idx)
    rS.distinct().write.mode("append").parquet(sh)

    val removed = corpus.filter(Incremental.removedPred)
      .select("doc_id").localCheckpoint(true)
    assert(removed.count() > 0, "takedown set vacuous on the small universe")
    val preIdxRows = spark.table(idx).count()

    val (cIdx, cEx, cSh) = Incremental.compactStores(
      spark, idx, ex, sh, removed, "d57specc")

    // rewritten stores == from-scratch build on the live corpus, as rows
    // AND counts (count equality proves the residue duplicates collapsed)
    val live = corpus.join(removed, Seq("doc_id"), "left_anti")
    val (lb, ls) = Dedup.lshBucketsAndShingles(live, "doc_id", "t", 3, 4, 2)
    val rebuiltIdx = lb.select(
      concat_ws(":", col("band"), col("band_key")).as("bk"), col("id"))
    assert(rows(spark.table(cIdx)) == rows(rebuiltIdx),
      "compacted band index diverged from live rebuild")
    assert(spark.table(cIdx).count() == rebuiltIdx.count(),
      "residue duplicates survived index compaction")
    assert(preIdxRows > spark.table(cIdx).count(),
      "compaction reclaimed nothing — drill is vacuous")
    assert(rows(spark.read.schema("id LONG, h LONG").parquet(cSh)) ==
      rows(ls.distinct()), "compacted shingle store diverged")
    assert(spark.read.schema("id LONG, h LONG").parquet(cSh).count() ==
      ls.distinct().count(), "residue survived shingle compaction")
    assert(rows(spark.read.schema("doc_id LONG, h STRING").parquet(cEx)) ==
      rows(live.select(col("doc_id"), md5(col("t")).as("h"))),
      "compacted exact store diverged")

    // probe equivalence: old stores + tombstone filter == compacted
    // stores with NO filter
    val arr = docs.filter(col("doc_id") % 11 === 5)
      .select(col("doc_id"), col("t"), md5(col("t")).as("h"))
    val arrC = Dedup.reuse(arr)
    val (aB, aS) = Dedup.lshBucketsAndShingles(arrC, "doc_id", "t", 3, 4, 2)
    val pre = Incremental.admitArrivals(arrC, aS,
      Dedup.probeBandIndex(spark, idx, aB),
      spark.read.schema("doc_id LONG, h STRING").parquet(ex),
      spark.read.schema("id LONG, h LONG").parquet(sh), Some(removed))
    val post = Incremental.admitArrivals(arrC, aS,
      Dedup.probeBandIndex(spark, cIdx, aB),
      spark.read.schema("doc_id LONG, h STRING").parquet(cEx),
      spark.read.schema("id LONG, h LONG").parquet(cSh), None)
    val preSet = rows(pre)
    assert(preSet.nonEmpty && preSet == rows(post),
      "unfiltered probe on compacted stores diverged from the " +
        "tombstone-filtered probe on the old generation")

    // layout invariant: the compacted table still answers the probe
    // join straight from its bucketed files (the d21 contract, re-
    // asserted on the NEW generation). Drop the cached plans first so
    // the assert sees the real scan, not an InMemoryTableScan
    spark.catalog.clearCache()
    val confs = Seq(
      "spark.sql.adaptive.enabled" -> "false",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1")
    val saved = confs.map { case (k, _) => k -> spark.conf.get(k) }
    try {
      confs.foreach { case (k, v) => spark.conf.set(k, v) }
      val plan = castToImpl(Dedup.probeBandIndex(spark, cIdx, aB))
        .queryExecution.executedPlan
      val join = plan.collectFirst {
        case j: org.apache.spark.sql.execution.joins.SortMergeJoinExec => j
        case j: org.apache.spark.sql.execution.joins.ShuffledHashJoinExec => j
      }
      assert(join.isDefined, s"expected a shuffled probe join:\n$plan")
      val indexSide = join.get.children.filter(_.toString.contains("band_index"))
      assert(indexSide.size == 1, s"index scan not under the probe join:\n$plan")
      assert(indexSide.head.collect {
        case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => e
      }.isEmpty, "the compacted index side got re-shuffled")
      assert(plan.toString.contains("Bucketed: true") ||
        plan.toString.contains("SelectedBucketsCount"),
        s"compacted index scan is not bucket-aware:\n$plan")
    } finally saved.foreach { case (k, v) => spark.conf.set(k, v) }
    spark.catalog.clearCache()
  }

  test("d58 generation swap: the catalog publish is atomic under racing " +
    "readers (old or new triple, never a blend), survives a crashed " +
    "publish's tmp residue, and the swapped probe admits exactly what " +
    "the tombstone-filtered pre-swap probe admitted") {
    import ops.Incremental
    // census invariant: both phases answer identically — the swap
    // changes the mechanism, never the answer
    val census = Incremental.swapRun(spark, sf001).collect()
      .map(r => r.getAs[String]("phase") -> r).toMap
    assert(census.size == 2)
    for (c <- Seq("n_arrived", "n_dropped", "n_admitted", "sum_admitted_ids"))
      assert(census("pre_swap").getAs[Long](c) == census("post_swap").getAs[Long](c),
        s"swap changed the answer in $c")
    assert(census("pre_swap").getAs[Long]("n_dropped") > 0 &&
      census("pre_swap").getAs[Long]("n_admitted") > 0, "swap census vacuous")

    // atomicity drill: 4 readers race 200 rapid swaps between two known
    // generations; every resolved triple must be EXACTLY one of them
    val dir = Scratch.dir("graft_d58spec_cat")
    val cat = s"$dir/stores.catalog"
    val genA = Seq("idxA", "exA", "shA")
    val genB = Seq("idxB", "exB", "shB")
    Incremental.commitCatalogCas(cat)((_, _) => genA)
    val bad = new java.util.concurrent.atomic.AtomicReference[String](null)
    val stop = new java.util.concurrent.atomic.AtomicBoolean(false)
    val readers = (1 to 4).map { _ =>
      val t = new Thread(() => {
        while (!stop.get()) {
          val got = Incremental.resolveCatalog(cat, expect = 3)
          if (got != genA && got != genB) bad.compareAndSet(null, got.toString): Unit
        }
      })
      t.setDaemon(true); t.start(); t
    }
    (1 to 200).foreach { i =>
      val g = if (i % 2 == 0) genA else genB
      Incremental.commitCatalogCas(cat)((_, _) => g)
    }
    stop.set(true); readers.foreach(_.join(2000))
    assert(bad.get() == null, s"torn catalog read under racing swaps: ${bad.get()}")

    // crashed-publish residue: a stale tmp must not confuse readers and
    // must not block the next publish
    java.nio.file.Files.write(java.nio.file.Paths.get(s"$cat.tmp"),
      "garbage".getBytes)
    assert(Incremental.resolveCatalog(cat, expect = 3) == genA ||
      Incremental.resolveCatalog(cat, expect = 3) == genB)
    Incremental.commitCatalogCas(cat)((_, _) => genB)
    assert(Incremental.resolveCatalog(cat, expect = 3) == genB,
      "publish after a crashed publish's residue failed")
    spark.catalog.clearCache()
  }

  test("p02 composed sequence is partition-count invariant: all three " +
    "delta censuses are byte-identical under a different cluster shape — " +
    "the same contract p01 and the solo heavy pipelines carry") {
    import ops.Incremental
    val docs = smallUniverse()
    val corpus = docs.filter(col("doc_id") % 11 =!= 5)
    val runs = Seq("4", "7").map { parts =>
      spark.conf.set("spark.sql.shuffle.partitions", parts)
      try {
        spark.catalog.clearCache()
        val (idx, ex, sh) = initStores(s"pinv$parts", corpus)
        (0 to 2).flatMap { k =>
          val (row, _) = Incremental.deltaStep(spark, docs, k, idx, ex, sh)
          row.collect().map(_.toString)
        }
      } finally spark.conf.set("spark.sql.shuffle.partitions", "4")
    }
    assert(runs(0) == runs(1),
      "p02 delta censuses depend on the shuffle partition count")
    assert(runs(0).size == 3, "three delta census rows expected")
    spark.catalog.clearCache()
  }

  test("a steady-state admitBatch hits the generated-code cache: the " +
    "second same-shape owned admit compiles a handful of classes instead " +
    "of recompiling its ~150-class working set (a cache smaller than " +
    "that thrashes on every batch)") {
    import ops.Incremental
    import org.apache.spark.metrics.source.CodegenMetrics
    val docs = smallUniverse()
    val (idx, ex, sh) = Incremental.initOwnedStores(spark,
      docs.filter(col("doc_id") % 11 =!= 5), "p02spec_codegen")
    def compilesOfAdmit(k: Long): Long = {
      val c0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
      val (row, _) = Incremental.admitBatch(spark,
        docs.filter(col("doc_id") % 11 === 5 && col("doc_id") % 3 === lit(k)),
        "delta", k, idx, ex, sh, owned = true)
      assert(row.collect()(0).getAs[Long]("n_arrived") > 0)
      CodegenMetrics.METRIC_COMPILATION_TIME.getCount - c0
    }
    val first = compilesOfAdmit(0)
    val second = compilesOfAdmit(1)
    assert(second <= 10,
      s"second admit compiled $second classes (first: $first): the " +
        "generated-code cache is smaller than one admit's working set")
    spark.catalog.clearCache()
  }
}
