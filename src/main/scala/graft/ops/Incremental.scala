package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

import graft.{Q, Tables}

/** The INCREMENTAL curation pipeline — the third flagship artifact,
  * completing the trio: p01 is the one-shot batch rebuild, s30 is the
  * per-micro-batch streaming admission, and p02 here is what a 100 TB
  * deployment actually runs month over month: ordered DELTA batches
  * admitted against EXTERNAL index state that is MAINTAINED, never
  * rebuilt.
  *
  * Three stores persist across deltas (the d53/d21 stored-index
  * discipline, composed):
  *   - the exact-hash store (distinct md5 of every admitted text),
  *   - the band index (bucketed table — [[Dedup.writeBandIndex]] once
  *     for the corpus, [[Dedup.appendBandIndex]] per delta; the
  *     bucketed layout survives appends, so every probe reads the index
  *     exchange-free),
  *   - the shingle-digest store ((id, 60-bit hash) sets backing exact
  *     Jaccard verification — admitted docs are signed ONCE, when
  *     admitted, and never re-shingled by later deltas).
  *
  * Per delta, in order:
  *   1. exact dedup — min-id keeper per hash WITHIN the delta, then
  *      drop keepers whose hash is already stored. The store is
  *      frontier-scale, so it never shuffles: the delta's tiny hash set
  *      broadcasts INTO the store scan and the delta anti-joins the
  *      broadcast intersection (the s30 frontier route).
  *   2. near-dedup vs the store — the delta's band keys probe the
  *      maintained index ([[Dedup.probeBandIndex]]; index side reads its
  *      bucket files in place), candidates verify at Jaccard ≥ 0.5
  *      against delta ∪ stored shingle sets (the shingle store is cut to
  *      candidate ids before its distinct — non-candidates never move).
  *   3. near-dedup WITHIN the delta — banded self-join (bucket cap
  *      pinned to [[Dedup.DefaultBucketCap]], mirrored by the oracle's
  *      QUALIFY), verified pairs → connected components → min-id
  *      representative per cluster.
  *   4. admission — survivors append their hash / band keys / shingle
  *      sets to the three stores. Everything the appends derive from is
  *      eagerly localCheckpoint'd FIRST: an append invalidates every
  *      cached plan that reads the store path (the s30 lesson), so no
  *      downstream read may reference store lineage across an append.
  *
  * Scale shape: per-delta cost ∝ delta size — the corpus is signed once
  * at store init and NEVER re-scanned by a delta (probes are
  * candidate-restricted; the exact store is scanned narrowly but never
  * shuffled). A rebuild-based pipeline pays the corpus every run;
  * this one pays it once, which at 100 TB is the difference between a
  * nightly job and an impossible one. IncrementalSpec proves the
  * maintained stores stay SET-equal to a from-scratch rebuild on
  * (corpus ∪ admitted) after all deltas — the invariant that makes
  * "never rebuild" safe to claim (set, not byte: a crash-retry may
  * append duplicate band/shingle rows, absorbed by the probes'
  * distincts — see the append-order comment in [[admitBatch]]).
  *
  * Output: one census row per delta — arrivals, drops by path (exact
  * within / exact vs store / near vs store / near within), admissions,
  * and the admitted-id checksum — so the DuckDB oracle (which replays
  * the three deltas as chained CTEs over the same planted corpus)
  * hash-verifies the whole stateful sequence: a wrong store append in
  * delta k shows up as a wrong drop count in delta k+1.
  *
  * Fixture plant: the raw fixture has ZERO duplicate structure touching
  * the arrival split (measured at sf0.01), so — exactly as p01 stage 2
  * does — both engines deterministically override a few texts (pure
  * doc_id/md5 arithmetic, row-local, identical on both sides) to
  * exercise every drop path: same-delta exact twins, same-delta mirror
  * near-dups (27 shared + 3 unique tokens, Jaccard ≈ 0.82), cross-delta
  * exact twins, cross-delta mirrors, and exact/mirror partners planted
  * in the CORPUS.
  *
  * Contract: deltas are ORDERED and admitted one at a time — the
  * stores carry no lock, so two concurrent admissions could each miss
  * the other's in-flight near-dups. A deployment shards ingest into a
  * serial delta queue (the s31 streaming form gets this for free:
  * micro-batches are serialized by the engine). Crash recovery within
  * one delta is handled (append order + retry idempotence, below);
  * concurrency across deltas is deliberately out of contract.
  *
  * Reference scope: the reference engine (Driver.java:1-172,
  * ExecutorMapper.java:1-273) is a stateless one-shot mapper; delta
  * admission against maintained state is part of the capability closure
  * a pretraining-corpus user needs.
  */
object Incremental {

  /** Everything a spec needs to audit the run: the census (the Q
    * output), the three store handles, the admitted set (eagerly
    * materialized), and the planted corpus view the run consumed. */
  final case class P02(census: DataFrame, idxTable: String, exDir: String,
      shDir: String, admitted: DataFrame, planted: DataFrame)

  // ---- deterministic plant (mirrored verbatim in the oracle) ----
  // j = doc_id div 11 (the arrival ordinal when doc_id % 11 = 5 — ids are
  // 5 + 11j, and 5 < 11 makes div exact), r = j % 20 selects the path,
  // g = j div 20 keys the pair's shared body. Same-delta pairs need
  // Δj ≡ 0 (mod 3) (delta = doc_id % 3 and Δdoc_id = 11Δj ≡ 2Δj);
  // cross-delta pairs need Δj ≢ 0. Corpus partners sit at doc_id - 1
  // (% 11 = 4) with the SAME j.
  private def body(key: String): String =
    s"concat_ws(' ', transform(sequence(1, 30), " +
      s"i -> substr(md5(concat($key, '|', cast(i as string))), 1, 6)))"
  private def mirror(key: String): String =
    s"""concat_ws(' ', 'the', 'of', 'a',
       concat_ws(' ', transform(sequence(1, 27),
         i -> substr(md5(concat($key, '|', cast(i as string))), 1, 6))),
       concat_ws(' ', transform(sequence(1, 3),
         i -> substr(md5(concat(cast(doc_id as string), '~', cast(i as string))), 1, 6))))"""
  private def plantSql: String = {
    val j = "(doc_id div 11)"
    val r = s"($j % 20)"
    val g = s"cast(($j div 20) as string)"
    val jl = s"cast($j as string)"
    s"""CASE
      WHEN doc_id % 11 = 5 AND $r IN (0, 3) THEN ${body(s"concat('exw|', $g)")}
      WHEN doc_id % 11 = 5 AND $r IN (1, 4) THEN ${mirror(s"concat('mirw|', $g)")}
      WHEN doc_id % 11 = 5 AND $r IN (2, 8) THEN ${body(s"concat('exy|', $g)")}
      WHEN doc_id % 11 = 5 AND $r IN (5, 6) THEN ${body(s"concat('exx|', $g)")}
      WHEN doc_id % 11 = 5 AND $r IN (7, 9) THEN ${mirror(s"concat('mirx|', $g)")}
      WHEN doc_id % 11 IN (4, 5) AND $r = 10 THEN ${body(s"concat('exc|', $jl)")}
      WHEN doc_id % 11 IN (4, 5) AND $r = 11 THEN ${mirror(s"concat('mirc|', $jl)")}
      ELSE text END"""
  }

  /** The plant expression, exposed for the profile/scale probes. */
  private[graft] def plantSqlForProbe: String = plantSql

  /** The planted corpus view both p02 and its streaming twin s31 run on. */
  private[graft] def plantedDocs(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d).select(col("doc_id"), expr(plantSql).as("t"))

  /** Store init — the once-per-corpus build (the rebuild-equivalent
    * cost): band index, shingle digest, exact-hash store. */
  def initStores(s: SparkSession, corpus: DataFrame,
      prefix: String): (String, String, String) = {
    val idxTable = s"graft_band_index_${prefix}_" +
      graft.Scratch.nameTag()
    val exDir = graft.Scratch.dir(s"graft_${prefix}_exact")
    val shDir = graft.Scratch.dir(s"graft_${prefix}_shingles")
    val (cb, cs) = Dedup.lshBucketsAndShingles(
      corpus, "doc_id", "t", shingleWords = 3, bands = 4, rowsPerBand = 2)
    // the three generation writes share no dependency (band keys and
    // shingles both read the one persisted digest; the exact store
    // re-scans the corpus) — overlap them (guide §2.6) instead of
    // paying three sequential job floors + write tails
    Dedup.inParallel(
      () => Dedup.writeBandIndex(s, cb, idxTable),
      () => cs.distinct().write.mode("overwrite").parquet(shDir),
      () => corpus.select(md5(col("t")).as("h")).distinct()
        .write.mode("overwrite").parquet(exDir))
    (idxTable, exDir, shDir)
  }

  def incrementalCuration(s: SparkSession, d: String): P02 = {
    val docs = plantedDocs(s, d)
    val corpus = docs.filter(col("doc_id") % 11 =!= 5)
    val (idxTable, exDir, shDir) = initStores(s, corpus, "p02")
    val steps = (0 to 2).map { k =>
      deltaStep(s, docs, k, idxTable, exDir, shDir)
    }
    val census = steps.map(_._1).reduce(_ unionByName _).orderBy("delta")
    val admitted = steps.map(_._2).reduce(_ unionByName _)
    P02(census, idxTable, exDir, shDir, admitted, docs)
  }

  /** One delta of the batch pipeline: select the arrival split and admit
    * it. Exposed private[graft] for the scale probe, which times store
    * init and each delta separately. */
  private[graft] def deltaStep(s: SparkSession, docs: DataFrame, k: Int,
      idxTable: String, exDir: String, shDir: String): (DataFrame, DataFrame) =
    admitBatch(s,
      docs.filter(col("doc_id") % 11 === 5 && col("doc_id") % 3 === lit(k.toLong)),
      "delta", k.toLong, idxTable, exDir, shDir)

  /** Admit ONE arriving batch (doc_id, t) against the maintained stores
    * and append its admissions — the shared body of p02's deltas and
    * s31/s32's micro-batches. Returns (census row keyed `keyCol` =
    * `key`, admitted docs).
    *
    * `owned = true` switches the exact store to the attributable
    * (doc_id, h) layout ([[initOwnedStores]]) — the precondition for
    * honoring `tomb`: a tombstone set (removed corpus ids, frontier-tiny
    * — it broadcasts) filters BOTH gates the way d56's batch takedown
    * does, so a takedown landing between micro-batches is honored by
    * the very next admission without touching the stores (s32; the dead
    * rows are d57 compaction's job). */
  def admitBatch(s: SparkSession, batch: DataFrame,
      keyCol: String, key: Long,
      idxTable: String, exDir: String, shDir: String,
      owned: Boolean = false,
      tomb: Option[DataFrame] = None): (DataFrame, DataFrame) = {
    require(tomb.isEmpty || owned,
      "tombstones need the owned (doc_id, h) exact-store layout")
    // Layout validation at entry: both init functions and admitBatch are
    // public API, so an owned=true call against an h-only store (or the
    // reverse) must fail loudly HERE. A forced mismatched schema would
    // instead read NULL doc_id rows, turn the tombstone anti-joins into
    // no-ops, and then append mixed-layout rows — silent store
    // corruption. The parquet footer is the source of truth (read by
    // the Spark driver, no job; footers survive even an empty write).
    val storeHasOwner = Dedup.footerFieldNames(s, exDir).contains("doc_id")
    require(storeHasOwner == owned,
      s"admitBatch(owned=$owned) against an exact store at $exDir with " +
        s"${if (storeHasOwner) "(doc_id, h)" else "(h)"} layout — " +
        "initStores writes (h), initOwnedStores writes (doc_id, h); " +
        "mixing layouts corrupts the store")
    // the arriving batch (tiny vs the corpus) — eager: reused many times
    val delta = batch
      .select(col("doc_id"), col("t"), md5(col("t")).as("h"))
      .localCheckpoint(true)

    // ---- stage 1: exact dedup (within delta, then vs the store) ----
    // lazy: derives only from the delta checkpoint (two tiny shuffles per
    // consumer beat an eager materialization job at every delta)
    val kp = delta.groupBy(col("h")).agg(min(col("doc_id")).as("doc_id"))
      .join(delta, Seq("h", "doc_id"))
    // store scanned narrowly, never shuffled: delta hashes broadcast in,
    // the intersection broadcasts back out for the anti-join; with
    // tombstones only LIVE hash claims count
    val store =
      if (owned) s.read.schema("doc_id LONG, h STRING").parquet(exDir)
      else s.read.schema("h STRING").parquet(exDir)
    val liveStore = tomb.fold(store)(t =>
      store.join(broadcast(t.select("doc_id")), Seq("doc_id"), "left_anti"))
    val hitH = liveStore.join(broadcast(kp.select("h").distinct()), Seq("h"))
      .select("h").distinct()
    val e1 = kp.join(broadcast(hitH), Seq("h"), "left_anti")
      .localCheckpoint(true)

    // ---- stage 2: near-dedup vs the maintained index ----
    // the delta is signed ONCE; buckets and verification sets share the
    // digest (the d15 rule), and the same buckets/shingles later feed
    // the within-delta check and the store appends
    val (dB, dS) = Dedup.lshBucketsAndShingles(
      e1, "doc_id", "t", shingleWords = 3, bands = 4, rowsPerBand = 2)
    val storeSh = s.read.schema("id LONG, h LONG").parquet(shDir)
    // the residue guard is a no-op in a clean run (delta ids are
    // disjoint from everything indexed) but load-bearing on a RETRY: a
    // delta re-run after a crash that landed the band/shingle appends
    // finds its own admitted docs in the index. Filtering only exact
    // self-pairs is NOT enough — in a 3-doc chain A~B~C with A≏C, B
    // would drop at THIS stage against its own delta's residue copy of
    // A, B's within-delta edges would then vanish from stage 3, and C
    // would be wrongly admitted. Any id of the ARRIVING batch can
    // appear on the index side only as retry residue, so anti-joining
    // the batch's full id set restores the clean run's stage-2 input
    // exactly and stage 3 recomputes identically (IncrementalSpec's
    // chain-retry drill proves it)
    val cand0 = Dedup.probeBandIndex(s, idxTable, dB)
      .join(broadcast(delta.select(col("doc_id").as("id_b"))),
        Seq("id_b"), "left_anti")
    // tombstoned ids leave the candidate list BEFORE verification (the
    // d56 discipline): a removed doc can no longer claim an arrival as
    // its duplicate even though its dead index rows are still on disk
    val cand = tomb.fold(cand0)(t =>
      cand0.join(broadcast(t.select(col("doc_id").as("id_b"))),
        Seq("id_b"), "left_anti"))
    // dupStore needs no checkpoint of its own: e2's checkpoint below is
    // the pre-append materialization boundary for the whole store read
    val dupStore = Dedup.jaccardVerifiedPairs(cand, dS.unionAll(storeSh), tau = 0.5)
      .select(col("id_a").as("doc_id")).distinct()
    val e2 = e1.join(dupStore, Seq("doc_id"), "left_anti")
      .localCheckpoint(true)

    // ---- stage 3: near-dedup within the delta ----
    // cap pinned to DefaultBucketCap: the oracle's QUALIFY mirrors it
    val b2 = dB.join(e2.select(col("doc_id").as("id")), Seq("id"))
    val wCand = Dedup.candidatePairs(b2, cap = Dedup.DefaultBucketCap,
      materialize = false)
    val wVer = Dedup.jaccardVerifiedPairs(wCand, dS, tau = 0.5)
    val comp = Dedup.connectedComponents(wVer)
    val keepW = e2
      .join(comp.select(col("id").as("doc_id"), col("component")), Seq("doc_id"), "left")
      .withColumn("cluster", coalesce(col("component"), col("doc_id")))
      .groupBy("cluster").agg(min(col("doc_id")).as("doc_id"))
    val e3 = e2.join(keepW.select("doc_id"), Seq("doc_id"))
      .localCheckpoint(true)

    // ---- stage 4: maintain the stores (all reads above are eager) ----
    // Append ORDER is the crash-recovery contract: the three appends are
    // not one transaction, so a job can die between them. Bands and
    // shingles land FIRST; the exact-hash append is LAST because it is
    // the admission marker — a retry of a partially-appended delta sees
    // unmarked hashes, recomputes the identical admission (its own band
    // residue is anti-joined out of the probe above, and dup rows in
    // the band/shingle stores are absorbed by the probes' distincts),
    // and re-appends the same rows. IncrementalSpec proves the retry
    // admits the identical set and the stores converge. Marker-first
    // would instead drop the whole delta as "already seen" while its
    // bands/shingles never land — silent index corruption.
    // band and shingle appends are BOTH "first" in the contract and
    // share no dependency (each joins the e3 checkpoint against its own
    // digest cache) — overlap them; only the exact-store marker must
    // stay strictly last
    Dedup.inParallel(
      () => Dedup.appendBandIndex(s,
        dB.join(e3.select(col("doc_id").as("id")), Seq("id")), idxTable),
      () => dS.join(e3.select(col("doc_id").as("id")), Seq("id")).distinct()
        .write.mode("append").parquet(shDir))
    if (owned)
      e3.select(col("doc_id"), col("h")).write.mode("append").parquet(exDir)
    else
      // no distinct: h is unique in e3 by construction (stage 1's kp
      // keeps one row per h; e1/e2/e3 are subsets of kp), so the
      // exchange it would add is pure overhead (guide §2.4 — "a
      // distinct on data that is already unique"). Retry residue dups
      // across appends exist either way and are absorbed by the
      // probes' distincts (the stage-4 crash contract above).
      e3.select(col("h")).write.mode("append").parquet(exDir)

    // census row: every input is a checkpointed mini-frame, so the lazy
    // plan stays valid after the appends above. ONE union-aggregation
    // instead of five separate aggs crossJoined through four broadcast
    // exchanges — under AQE each of those exchanges materialized as its
    // own stage-job, pure fixed overhead per delta (the task-6 shave)
    def tagged(df: DataFrame, tag: String): DataFrame =
      df.select(lit(tag).as("st"), col("doc_id"))
    val row = tagged(delta, "arr")
      .unionByName(tagged(kp, "kp"))
      .unionByName(tagged(e1, "e1"))
      .unionByName(tagged(e2, "e2"))
      .unionByName(tagged(e3, "e3"))
      .agg(
        count(when(col("st") === "arr", 1)).as("n_arrived"),
        count(when(col("st") === "kp", 1)).as("n_kp"),
        count(when(col("st") === "e1", 1)).as("n_e1"),
        count(when(col("st") === "e2", 1)).as("n_e2"),
        count(when(col("st") === "e3", 1)).as("n_admitted"),
        coalesce(sum(when(col("st") === "e3", col("doc_id"))), lit(0L))
          .as("sum_admitted_ids"))
      .select(lit(key).as(keyCol),
        col("n_arrived"),
        (col("n_arrived") - col("n_kp")).as("n_exact_within"),
        (col("n_kp") - col("n_e1")).as("n_exact_store"),
        (col("n_e1") - col("n_e2")).as("n_near_store"),
        (col("n_e2") - col("n_admitted")).as("n_near_within"),
        col("n_admitted"), col("sum_admitted_ids"))
    (row, e3)
  }

  // ---------------- oracle ----------------
  // DuckDB replays the full stateful sequence: global shingle/band/hash
  // machinery over the planted corpus (computed once), then the three
  // deltas as chained CTEs — delta k's store sides reference the
  // admitted sets of deltas < k.
  private def oracleBody(key: String): String =
    s"array_to_string(list_transform(generate_series(1, 30), " +
      s"i -> substring(md5($key || '|' || CAST(i AS VARCHAR)), 1, 6)), ' ')"
  private def oracleMirror(key: String): String =
    s"""'the of a ' || array_to_string(list_transform(generate_series(1, 27),
        i -> substring(md5($key || '|' || CAST(i AS VARCHAR)), 1, 6)), ' ')
      || ' ' || array_to_string(list_transform(generate_series(1, 3),
        i -> substring(md5(CAST(doc_id AS VARCHAR) || '~' || CAST(i AS VARCHAR)), 1, 6)), ' ')"""

  private def deltaCtes(k: Int, where: String,
      chName: String = "ch", corpName: String = "corp"): String = {
    val prevH = (0 until k).map(i => s" UNION SELECT h FROM admh$i").mkString
    val prevIds = (0 until k).map(i => s" UNION ALL SELECT doc_id FROM adm$i").mkString
    s"""dl$k AS MATERIALIZED (SELECT doc_id, md5(t) AS h FROM arr WHERE $where),
       kp$k AS MATERIALIZED (SELECT h, min(doc_id) AS doc_id FROM dl$k GROUP BY h),
       e1_$k AS MATERIALIZED (SELECT doc_id, h FROM kp$k
                 WHERE h NOT IN (SELECT h FROM $chName$prevH)),
       old$k AS MATERIALIZED (SELECT doc_id FROM $corpName$prevIds),
       scand$k AS MATERIALIZED (
         SELECT DISTINCT n.doc_id AS id_a, o.doc_id AS id_b
         FROM bands n JOIN bands o
           ON n.band = o.band AND n.band_key = o.band_key
         WHERE n.doc_id IN (SELECT doc_id FROM e1_$k)
           AND o.doc_id IN (SELECT doc_id FROM old$k)),
       sver$k AS MATERIALIZED (
         SELECT DISTINCT i.id_a FROM (
           SELECT c.id_a, c.id_b, count(*) AS ni FROM scand$k c
             JOIN shd a ON a.doc_id = c.id_a
             JOIN shd b ON b.doc_id = c.id_b AND b.h = a.h
           GROUP BY c.id_a, c.id_b) i
           JOIN sz sa ON sa.doc_id = i.id_a
           JOIN sz sb ON sb.doc_id = i.id_b
         WHERE i.ni * 1.0 / (sa.n + sb.n - i.ni) >= 0.5),
       e2_$k AS MATERIALIZED (SELECT doc_id FROM e1_$k
                 WHERE doc_id NOT IN (SELECT id_a FROM sver$k)),
       wb$k AS MATERIALIZED (
         SELECT doc_id, band, band_key FROM bands
         WHERE doc_id IN (SELECT doc_id FROM e2_$k)
         QUALIFY count(*) OVER (PARTITION BY band, band_key) <= ${Dedup.DefaultBucketCap}),
       wc$k AS MATERIALIZED (
         SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
         FROM wb$k a JOIN wb$k b
           ON a.band = b.band AND a.band_key = b.band_key AND a.doc_id < b.doc_id),
       wv$k AS MATERIALIZED (
         SELECT i.id_a, i.id_b FROM (
           SELECT c.id_a, c.id_b, count(*) AS ni FROM wc$k c
             JOIN shd a ON a.doc_id = c.id_a
             JOIN shd b ON b.doc_id = c.id_b AND b.h = a.h
           GROUP BY c.id_a, c.id_b) i
           JOIN sz sa ON sa.doc_id = i.id_a
           JOIN sz sb ON sb.doc_id = i.id_b
         WHERE i.ni * 1.0 / (sa.n + sb.n - i.ni) >= 0.5),
       nd$k AS MATERIALIZED (SELECT DISTINCT id FROM (
         SELECT id_a AS id FROM wv$k UNION ALL SELECT id_b FROM wv$k)),
       eg$k AS MATERIALIZED (SELECT id_a AS src, id_b AS dst FROM wv$k
                UNION ALL SELECT id_b, id_a FROM wv$k),
       rc$k(a, b) AS (
         SELECT id, id FROM nd$k
         UNION
         SELECT r.a, e.dst FROM rc$k r JOIN eg$k e ON r.b = e.src),
       cp$k AS MATERIALIZED (SELECT a AS doc_id, min(b) AS component FROM rc$k GROUP BY a),
       adm$k AS MATERIALIZED (
         SELECT doc_id FROM (
           SELECT e.doc_id, coalesce(c.component, e.doc_id) AS cluster
           FROM e2_$k e LEFT JOIN cp$k c ON c.doc_id = e.doc_id)
         QUALIFY doc_id = min(doc_id) OVER (PARTITION BY cluster)),
       admh$k AS MATERIALIZED (SELECT DISTINCT e.h FROM e1_$k e
                  JOIN adm$k a ON a.doc_id = e.doc_id)"""
  }

  private def censusSelect(k: Int, keyCol: String): String =
    s"""SELECT CAST($k AS BIGINT) AS $keyCol,
        (SELECT count(*) FROM dl$k) AS n_arrived,
        (SELECT count(*) FROM dl$k) - (SELECT count(*) FROM kp$k) AS n_exact_within,
        (SELECT count(*) FROM kp$k) - (SELECT count(*) FROM e1_$k) AS n_exact_store,
        (SELECT count(*) FROM e1_$k) - (SELECT count(*) FROM e2_$k) AS n_near_store,
        (SELECT count(*) FROM e2_$k) - (SELECT count(*) FROM adm$k) AS n_near_within,
        (SELECT count(*) FROM adm$k) AS n_admitted,
        (SELECT CAST(coalesce(sum(doc_id), 0) AS BIGINT) FROM adm$k) AS sum_admitted_ids"""

  /** The full replay oracle, parameterized over the batch partitioning:
    * p02 chains three deltas on `doc_id % 3`; s31 chains two stream
    * micro-batches on `doc_id % 2`. */
  private[graft] def replayOracle(keyCol: String, n: Int,
      where: Int => String): String =
    s"""$oraclePrelude,
       ch AS MATERIALIZED (SELECT DISTINCT md5(t) AS h FROM corp),
       ${(0 until n).map(k => deltaCtes(k, where(k))).mkString(",\n       ")}
       SELECT $keyCol, n_arrived, n_exact_within, n_exact_store,
              n_near_store, n_near_within, n_admitted, sum_admitted_ids
       FROM (${(0 until n).map(k => censusSelect(k, keyCol)).mkString(" UNION ALL ")})
       ORDER BY $keyCol"""

  /** [[replayOracle]] with a takedown landing between batch `tombFrom-1`
    * and batch `tombFrom`: batches before it admit against the full
    * corpus, batches from it on see only LIVE hash claims and LIVE
    * near-dup partners (the d56 tombstone set, verbatim). Admitted
    * arrivals are never tombstoned, so the admh/adm chains carry over
    * unchanged — exactly the Spark-side contract, where the stream's
    * maintained state survives the takedown untouched. */
  private[graft] def replayOracleTomb(keyCol: String, n: Int,
      where: Int => String, tombFrom: Int): String =
    s"""$oraclePrelude,
       ch AS MATERIALIZED (SELECT DISTINCT md5(t) AS h FROM corp),
       tomb AS MATERIALIZED (
         SELECT doc_id FROM corp
         WHERE doc_id % 17 = 3
            OR (doc_id % 11 = 4 AND (doc_id // 11) % 40 IN (10, 11))),
       corplive AS MATERIALIZED (
         SELECT doc_id, t FROM corp
         WHERE doc_id NOT IN (SELECT doc_id FROM tomb)),
       chlive AS MATERIALIZED (SELECT DISTINCT md5(t) AS h FROM corplive),
       ${(0 until n).map(k => deltaCtes(k, where(k),
      if (k >= tombFrom) "chlive" else "ch",
      if (k >= tombFrom) "corplive" else "corp")).mkString(",\n       ")}
       SELECT $keyCol, n_arrived, n_exact_within, n_exact_store,
              n_near_store, n_near_within, n_admitted, sum_admitted_ids
       FROM (${(0 until n).map(k => censusSelect(k, keyCol)).mkString(" UNION ALL ")})
       ORDER BY $keyCol"""

  /** The shared oracle prelude: planted corpus + the full minhash/band/
    * shingle machinery over ALL docs, as chained MATERIALIZED CTEs
    * (DuckDB inlines every CTE per reference; without MATERIALIZED the
    * chained replays re-scan the fixture exponentially). */
  private def oraclePrelude: String = {
    val j = "(doc_id // 11)"
    val r = s"($j % 20)"
    val g = s"CAST(($j // 20) AS VARCHAR)"
    val jl = s"CAST($j AS VARCHAR)"
    s"""WITH RECURSIVE d0 AS MATERIALIZED (
         SELECT doc_id,
           CASE
             WHEN doc_id % 11 = 5 AND $r IN (0, 3) THEN ${oracleBody(s"'exw|' || $g")}
             WHEN doc_id % 11 = 5 AND $r IN (1, 4) THEN ${oracleMirror(s"'mirw|' || $g")}
             WHEN doc_id % 11 = 5 AND $r IN (2, 8) THEN ${oracleBody(s"'exy|' || $g")}
             WHEN doc_id % 11 = 5 AND $r IN (5, 6) THEN ${oracleBody(s"'exx|' || $g")}
             WHEN doc_id % 11 = 5 AND $r IN (7, 9) THEN ${oracleMirror(s"'mirx|' || $g")}
             WHEN doc_id % 11 IN (4, 5) AND $r = 10 THEN ${oracleBody(s"'exc|' || $jl")}
             WHEN doc_id % 11 IN (4, 5) AND $r = 11 THEN ${oracleMirror(s"'mirc|' || $jl")}
             ELSE text END AS t
         FROM documents),
       corp AS MATERIALIZED (SELECT doc_id, t FROM d0 WHERE doc_id % 11 != 5),
       arr AS MATERIALIZED (SELECT doc_id, t FROM d0 WHERE doc_id % 11 = 5),
       ws0 AS MATERIALIZED (SELECT doc_id, string_split(t, ' ') AS ws FROM d0),
       sh AS MATERIALIZED (
         SELECT doc_id, ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] AS sh
         FROM (SELECT doc_id, ws,
                      unnest(generate_series(1, greatest(len(ws) - 2, 1))) AS i
               FROM ws0)),
       hs AS MATERIALIZED (
         SELECT doc_id, ('0x' || substring(md5(sh), 1, 8))::BIGINT AS h1,
                ('0x' || substring(md5(sh), 9, 8))::BIGINT AS h2
         FROM sh),
       sig AS MATERIALIZED (
         SELECT doc_id, seed, min(h1 + seed * h2) AS mh
         FROM hs, (SELECT unnest(generate_series(0, 7)) AS seed) seeds
         GROUP BY doc_id, seed),
       bands AS MATERIALIZED (
         SELECT doc_id, CAST(seed // 2 AS INT) AS band,
                md5(string_agg(CAST(mh AS VARCHAR), '|' ORDER BY seed)) AS band_key
         FROM sig GROUP BY doc_id, CAST(seed // 2 AS INT)),
       shd AS MATERIALIZED (SELECT DISTINCT doc_id, h1 * 134217728 + h2 % 134217728 AS h
               FROM hs),
       sz AS MATERIALIZED (SELECT doc_id, count(*) AS n FROM shd GROUP BY doc_id)"""
  }

  private val p02 = Q("p02_incremental_curation",
    replayOracle("delta", 3, k => s"doc_id % 3 = $k")) { (s, d) =>
    incrementalCuration(s, d).census
  }

  // ======================= d56: takedown =======================

  /** Spec handles for the takedown run: census plus the store/tombstone
    * locations and the post-takedown admitted set. */
  final case class TakedownRun(census: DataFrame, idxTable: String,
      exDir: String, shDir: String, removed: DataFrame,
      admittedPre: DataFrame, admittedPost: DataFrame, planted: DataFrame)

  /** Takedown list: a compliance sweep (%17 = 3) plus the planted corpus
    * partners with even pair-group (j % 40 ∈ {10, 11}) — so SOME of the
    * plant's exact/near corpus partners are removed (their arrival twins
    * must be RE-admitted) and the odd-group partners stay (their twins
    * must stay dropped): both takedown regimes are exercised by
    * construction. Mirrored verbatim in the oracle. */
  private[graft] def removedPred =
    col("doc_id") % 17 === 3 ||
      (col("doc_id") % 11 === 4 && expr("(doc_id div 11) % 40 in (10, 11)"))

  /** d56 — takedown (right-to-be-forgotten / copyright removal) that
    * preserves dedup-index correctness WITHOUT rebuilding the stores.
    *
    * Removing a doc from a 100 TB corpus cannot mean re-signing the
    * corpus: the band index is bucketed files, the shingle store is
    * append-only — neither supports in-place delete. The production
    * answer is a TOMBSTONE set (removed ids — tiny, it broadcasts):
    * probes filter tombstoned ids out of their results BEFORE the
    * expensive verification stage, so a removed doc can no longer
    * claim an arrival as its duplicate, while its dead rows in the
    * stores are never touched (reclaimed by compaction, not by the
    * query path). IncrementalSpec proves the tombstone-filtered probe
    * admits EXACTLY what a from-scratch rebuild on the live corpus
    * admits — the invariant that makes tombstones a correct takedown.
    *
    * The visible compliance effect is RE-ADMISSION: an arrival that was
    * dropped as a duplicate of a now-removed doc is admissible again
    * (the corpus lost that content — the fresh copy is wanted). The
    * census runs the same arrival batch pre- and post-takedown and
    * reports drops by path plus `n_readmitted` (admitted post ∖ pre).
    * Store semantics: the exact store carries (doc_id, h) — each
    * corpus doc owns its hash claim, so removing the owner removes the
    * claim. A doc dropped in an EARLIER run as the removed doc's twin
    * is not resurrected by the takedown (it was never stored);
    * re-admission applies to arrivals probed after the takedown.
    *
    * Scale shape: the takedown list broadcasts (removals are rare
    * relative to the corpus); the two probes share one arrival digest
    * and the index/shingle stores are read exactly as d21/p02 read
    * them — no rebuild, no extra corpus scan. */
  /** d56/d57 store build: the same trio as [[initStores]] but the exact
    * store carries (doc_id, h) — every hash claim is attributable to its
    * owner, the precondition for takedown and compaction. */
  def initOwnedStores(s: SparkSession, corpus: DataFrame,
      tag: String): (String, String, String) = {
    val idxTable = s"graft_band_index_${tag}_" +
      graft.Scratch.nameTag()
    val exDir = graft.Scratch.dir(s"graft_${tag}_exact")
    val shDir = graft.Scratch.dir(s"graft_${tag}_shingles")
    val (cb, cs) = Dedup.lshBucketsAndShingles(
      corpus, "doc_id", "t", shingleWords = 3, bands = 4, rowsPerBand = 2)
    // independent generation writes overlap (guide §2.6; see initStores)
    Dedup.inParallel(
      () => Dedup.writeBandIndex(s, cb, idxTable),
      () => cs.distinct().write.mode("overwrite").parquet(shDir),
      () => corpus.select(col("doc_id"), md5(col("t")).as("h"))
        .write.mode("overwrite").parquet(exDir))
    (idxTable, exDir, shDir)
  }

  /** Shared arrival-admission body of the takedown/compaction family:
    * exact-hash gate against an OWNED exact store, then banded near-dup
    * gate from a precomputed candidate list, each optionally
    * tombstone-filtered. The tombstone set, the arrival hash set, and
    * the broadcast intersections are all frontier-tiny; the stores scan
    * narrowly and never shuffle. */
  private[graft] def admitArrivals(arrC: DataFrame, aS: DataFrame, cand: DataFrame,
      exStore: DataFrame, storeSh: DataFrame,
      tomb: Option[DataFrame]): DataFrame = {
    // exact: live hash claims only
    val liveEx = tomb.fold(exStore)(t =>
      exStore.join(broadcast(t), Seq("doc_id"), "left_anti"))
    val hitH = liveEx.join(broadcast(arrC.select("h").distinct()), Seq("h"))
      .select("h").distinct()
    val de = arrC.join(broadcast(hitH), Seq("h")).select("doc_id")
    // near: tombstoned ids leave the candidate list BEFORE verification
    val candLive = tomb.fold(cand)(t =>
      cand.join(broadcast(t.select(col("doc_id").as("id_b"))),
        Seq("id_b"), "left_anti"))
    val dn = Dedup.jaccardVerifiedPairs(candLive, aS.unionAll(storeSh), tau = 0.5)
      .select(col("id_a").as("doc_id")).distinct()
    Dedup.reuse(arrC
      .join(de, Seq("doc_id"), "left_anti")
      .join(dn, Seq("doc_id"), "left_anti")
      .select("doc_id"))
  }

  private[graft] def takedownRun(s: SparkSession, d: String): TakedownRun = {
    val docs = plantedDocs(s, d)
    val corpus = docs.filter(col("doc_id") % 11 =!= 5)

    // The store build (corpus digest + 3 writes) and the arrival digest
    // read disjoint slices of the corpus and share no store state —
    // overlap them (guide §2.6); both must exist before the probes.
    var stores: (String, String, String) = null
    var arrC: DataFrame = null
    var aBS: (DataFrame, DataFrame) = null
    Dedup.inParallel(
      // stores on the FULL corpus, claims attributable to owners
      () => stores = initOwnedStores(s, corpus, "d56"),
      // ONE arrival digest serves both phases
      () => {
        arrC = Dedup.reuse(docs.filter(col("doc_id") % 11 === 5)
          .select(col("doc_id"), col("t"), md5(col("t")).as("h")))
        aBS = Dedup.lshBucketsAndShingles(
          arrC, "doc_id", "t", shingleWords = 3, bands = 4, rowsPerBand = 2)
      })
    val (idxTable, exDir, shDir) = stores
    val (aB, aS) = aBS

    val removed = corpus.filter(removedPred).select("doc_id")
    val storeSh = s.read.schema("id LONG, h LONG").parquet(shDir)
    val exStore = s.read.schema("doc_id LONG, h STRING").parquet(exDir)
    val cand0 = Dedup.probeBandIndex(s, idxTable, aB)

    def admit(tomb: Option[DataFrame]): DataFrame =
      admitArrivals(arrC, aS, cand0, exStore, storeSh, tomb)

    // the two probe phases read the same immutable generation — their
    // eager verification pipelines overlap too
    var admPre: DataFrame = null
    var admPost: DataFrame = null
    Dedup.inParallel(
      () => admPre = admit(None),
      () => admPost = admit(Some(removed)))
    def row(phase: String, adm: DataFrame, readmit: DataFrame): DataFrame =
      adm.agg(count(lit(1)).as("n_admitted"),
        coalesce(sum(col("doc_id")), lit(0L)).as("sum_admitted_ids"))
        .crossJoin(broadcast(arrC.agg(count(lit(1)).as("n_arrived"))))
        .crossJoin(broadcast(readmit.agg(count(lit(1)).as("n_readmitted"))))
        .select(lit(phase).as("phase"), col("n_arrived"),
          (col("n_arrived") - col("n_admitted")).as("n_dropped"),
          col("n_admitted"), col("n_readmitted"), col("sum_admitted_ids"))
    val census = row("pre", admPre, admPre.limit(0))
      .unionByName(row("post", admPost, admPost.join(admPre, Seq("doc_id"), "left_anti")))
      .orderBy("phase")
    TakedownRun(census, idxTable, exDir, shDir, removed, admPre, admPost, docs)
  }

  private def takedownOracle: String = {
    def phase(p: Int): String = {
      val liveWhere = if (p == 1)
        " WHERE doc_id NOT IN (SELECT doc_id FROM tomb)" else ""
      s"""live$p AS MATERIALIZED (SELECT doc_id FROM corp$liveWhere),
         de$p AS MATERIALIZED (
           SELECT DISTINCT a.doc_id FROM arr a JOIN exall e ON md5(a.t) = e.h
           WHERE e.doc_id IN (SELECT doc_id FROM live$p)),
         cand$p AS MATERIALIZED (
           SELECT DISTINCT n.doc_id AS id_a, o.doc_id AS id_b
           FROM bands n JOIN bands o
             ON n.band = o.band AND n.band_key = o.band_key
           WHERE n.doc_id IN (SELECT doc_id FROM arr)
             AND o.doc_id IN (SELECT doc_id FROM live$p)),
         dn$p AS MATERIALIZED (
           SELECT DISTINCT i.id_a AS doc_id FROM (
             SELECT c.id_a, c.id_b, count(*) AS ni FROM cand$p c
               JOIN shd a ON a.doc_id = c.id_a
               JOIN shd b ON b.doc_id = c.id_b AND b.h = a.h
             GROUP BY c.id_a, c.id_b) i
             JOIN sz sa ON sa.doc_id = i.id_a
             JOIN sz sb ON sb.doc_id = i.id_b
           WHERE i.ni * 1.0 / (sa.n + sb.n - i.ni) >= 0.5),
         adm$p AS MATERIALIZED (
           SELECT doc_id FROM arr
           WHERE doc_id NOT IN (SELECT doc_id FROM de$p)
             AND doc_id NOT IN (SELECT doc_id FROM dn$p))"""
    }
    def row(p: Int, name: String, readmit: String): String =
      s"""SELECT '$name' AS phase,
          (SELECT count(*) FROM arr) AS n_arrived,
          (SELECT count(*) FROM arr) - (SELECT count(*) FROM adm$p) AS n_dropped,
          (SELECT count(*) FROM adm$p) AS n_admitted,
          $readmit AS n_readmitted,
          (SELECT CAST(coalesce(sum(doc_id), 0) AS BIGINT) FROM adm$p) AS sum_admitted_ids"""
    s"""$oraclePrelude,
       exall AS MATERIALIZED (SELECT doc_id, md5(t) AS h FROM corp),
       tomb AS MATERIALIZED (
         SELECT doc_id FROM corp
         WHERE doc_id % 17 = 3
            OR (doc_id % 11 = 4 AND (doc_id // 11) % 40 IN (10, 11))),
       ${phase(0)},
       ${phase(1)}
       SELECT phase, n_arrived, n_dropped, n_admitted, n_readmitted, sum_admitted_ids
       FROM (${row(0, "pre", "CAST(0 AS BIGINT)")}
             UNION ALL
             ${row(1, "post",
      "(SELECT count(*) FROM adm1 WHERE doc_id NOT IN (SELECT doc_id FROM adm0))")})
       ORDER BY phase"""
  }

  private val d56 = Q("d56_takedown_readmission", takedownOracle) { (s, d) =>
    takedownRun(s, d).census
  }

  // ======================= d57: store compaction =======================

  /** Rewrite the three maintained stores keeping only LIVE rows — the
    * reclamation pass d56 defers to. Tombstone filtering keeps takedowns
    * correct on the query path, but the dead rows stay on disk: after
    * months of deltas and takedowns every probe scans past them, and
    * crash-retry residue (duplicate band/shingle rows, absorbed by the
    * probes' distincts) accumulates the same way. Compaction is the
    * OFFLINE maintenance job that rewrites each store dropping
    * tombstoned ids and collapsing duplicate rows, so post-compaction
    * probes need no tombstone filter at all.
    *
    * Generation discipline: the rewrite lands in a NEW table/dirs and
    * the caller swaps handles when it completes — in-place delete does
    * not exist for parquet, and a new generation means a crash mid-
    * compaction leaves the old stores untouched (re-run, don't repair).
    *
    * Scale shape: the band index rewrite keeps the stored bucket spec
    * ([[BucketedStore.rewrite]]), so the exchange-free probe layout
    * survives the generation swap (spec re-asserts it on the compacted
    * table). The tombstone set broadcasts (removals are rare vs the
    * corpus); each store rewrite is one scan → anti-join → write,
    * embarrassingly parallel — the cheapest shape a full rewrite can
    * have, and it runs rarely and offline, never on the ingest path. */
  def compactStores(s: SparkSession, idxTable: String,
      exDir: String, shDir: String, tomb: DataFrame,
      tag: String): (String, String, String) = {
    val t = Dedup.reuse(tomb.select("doc_id"))
    val newExDir = graft.Scratch.dir(s"graft_${tag}_exact")
    val newShDir = graft.Scratch.dir(s"graft_${tag}_shingles")
    // the three rewrites are independent scan→anti-join→write legs over
    // different stores — overlap them (guide §2.6; the tombstone side is
    // already materialized, so each leg broadcasts cached blocks)
    var newIdxTable: String = null
    Dedup.inParallel(
      () => newIdxTable = Dedup.compactBandIndex(s, idxTable,
        t.select(col("doc_id").as("id")), tag),
      () => s.read.schema("id LONG, h LONG").parquet(shDir)
        .join(broadcast(t.select(col("doc_id").as("id"))), Seq("id"), "left_anti")
        .distinct().write.mode("overwrite").parquet(newShDir),
      () => s.read.schema("doc_id LONG, h STRING").parquet(exDir)
        .join(broadcast(t), Seq("doc_id"), "left_anti")
        .distinct().write.mode("overwrite").parquet(newExDir))
    (newIdxTable, newExDir, newShDir)
  }

  /** Spec handles for the compaction run. */
  final case class CompactionRun(census: DataFrame,
      preIdx: String, preEx: String, preSh: String,
      postIdx: String, postEx: String, postSh: String,
      removed: DataFrame, admitted: DataFrame, planted: DataFrame)

  /** d57 — the compaction census: build owned stores on the full
    * corpus, take down the d56 tombstone set, compact, then admit the
    * arrival batch against the COMPACTED stores with NO tombstone
    * filter. The census carries each store's pre/post row count (the
    * reclaimed evidence) plus the admission stats; the oracle recomputes
    * all of it from the live-corpus definition, so a row the rewrite
    * wrongly kept or dropped shows up as a count or admission
    * mismatch. IncrementalSpec additionally proves the probe-equivalence
    * and layout invariants the census cannot see. */
  private[graft] def compactionRun(s: SparkSession, d: String): CompactionRun = {
    val docs = plantedDocs(s, d)
    val corpus = docs.filter(col("doc_id") % 11 =!= 5)
    val (idxTable, exDir, shDir) = initOwnedStores(s, corpus, "d57")
    val removed = Dedup.reuse(corpus.filter(removedPred).select("doc_id"))

    // the offline compaction (reads generation 1, writes generation 2)
    // and the arrival digest are independent — overlap them (guide §2.6)
    var cTrip: (String, String, String) = null
    var arrC: DataFrame = null
    var aBS: (DataFrame, DataFrame) = null
    Dedup.inParallel(
      () => cTrip = compactStores(s, idxTable, exDir, shDir, removed, "d57c"),
      () => {
        arrC = Dedup.reuse(docs.filter(col("doc_id") % 11 === 5)
          .select(col("doc_id"), col("t"), md5(col("t")).as("h")))
        aBS = Dedup.lshBucketsAndShingles(
          arrC, "doc_id", "t", shingleWords = 3, bands = 4, rowsPerBand = 2)
      })
    val (cIdx, cEx, cSh) = cTrip
    val (aB, aS) = aBS
    // post-compaction: the dead rows are GONE — no tombstone filter
    val adm = admitArrivals(arrC, aS, Dedup.probeBandIndex(s, cIdx, aB),
      s.read.schema("doc_id LONG, h STRING").parquet(cEx),
      s.read.schema("id LONG, h LONG").parquet(cSh), None)

    val census = adm
      .agg(count(lit(1)).as("n_admitted"),
        coalesce(sum(col("doc_id")), lit(0L)).as("sum_admitted_ids"))
      .crossJoin(broadcast(s.table(idxTable).agg(count(lit(1)).as("n_idx_pre"))))
      .crossJoin(broadcast(s.table(cIdx).agg(count(lit(1)).as("n_idx_post"))))
      .crossJoin(broadcast(s.read.schema("id LONG, h LONG").parquet(shDir)
        .agg(count(lit(1)).as("n_sh_pre"))))
      .crossJoin(broadcast(s.read.schema("id LONG, h LONG").parquet(cSh)
        .agg(count(lit(1)).as("n_sh_post"))))
      .crossJoin(broadcast(s.read.schema("doc_id LONG, h STRING").parquet(exDir)
        .agg(count(lit(1)).as("n_ex_pre"))))
      .crossJoin(broadcast(s.read.schema("doc_id LONG, h STRING").parquet(cEx)
        .agg(count(lit(1)).as("n_ex_post"))))
      .select(col("n_idx_pre"), col("n_idx_post"), col("n_sh_pre"),
        col("n_sh_post"), col("n_ex_pre"), col("n_ex_post"),
        col("n_admitted"), col("sum_admitted_ids"))
    CompactionRun(census, idxTable, exDir, shDir, cIdx, cEx, cSh,
      removed, adm, docs)
  }

  private def compactionOracle: String =
    s"""$oraclePrelude,
       exall AS MATERIALIZED (SELECT doc_id, md5(t) AS h FROM corp),
       tomb AS MATERIALIZED (
         SELECT doc_id FROM corp
         WHERE doc_id % 17 = 3
            OR (doc_id % 11 = 4 AND (doc_id // 11) % 40 IN (10, 11))),
       live AS MATERIALIZED (
         SELECT doc_id FROM corp
         WHERE doc_id NOT IN (SELECT doc_id FROM tomb)),
       de AS MATERIALIZED (
         SELECT DISTINCT a.doc_id FROM arr a JOIN exall e ON md5(a.t) = e.h
         WHERE e.doc_id IN (SELECT doc_id FROM live)),
       cand AS MATERIALIZED (
         SELECT DISTINCT n.doc_id AS id_a, o.doc_id AS id_b
         FROM bands n JOIN bands o
           ON n.band = o.band AND n.band_key = o.band_key
         WHERE n.doc_id IN (SELECT doc_id FROM arr)
           AND o.doc_id IN (SELECT doc_id FROM live)),
       dn AS MATERIALIZED (
         SELECT DISTINCT i.id_a AS doc_id FROM (
           SELECT c.id_a, c.id_b, count(*) AS ni FROM cand c
             JOIN shd a ON a.doc_id = c.id_a
             JOIN shd b ON b.doc_id = c.id_b AND b.h = a.h
           GROUP BY c.id_a, c.id_b) i
           JOIN sz sa ON sa.doc_id = i.id_a
           JOIN sz sb ON sb.doc_id = i.id_b
         WHERE i.ni * 1.0 / (sa.n + sb.n - i.ni) >= 0.5),
       adm AS MATERIALIZED (
         SELECT doc_id FROM arr
         WHERE doc_id NOT IN (SELECT doc_id FROM de)
           AND doc_id NOT IN (SELECT doc_id FROM dn))
       SELECT
         (SELECT count(*) FROM bands
          WHERE doc_id IN (SELECT doc_id FROM corp)) AS n_idx_pre,
         (SELECT count(*) FROM bands
          WHERE doc_id IN (SELECT doc_id FROM live)) AS n_idx_post,
         (SELECT count(*) FROM shd
          WHERE doc_id IN (SELECT doc_id FROM corp)) AS n_sh_pre,
         (SELECT count(*) FROM shd
          WHERE doc_id IN (SELECT doc_id FROM live)) AS n_sh_post,
         (SELECT count(*) FROM corp) AS n_ex_pre,
         (SELECT count(*) FROM live) AS n_ex_post,
         (SELECT count(*) FROM adm) AS n_admitted,
         (SELECT CAST(coalesce(sum(doc_id), 0) AS BIGINT) FROM adm)
           AS sum_admitted_ids"""

  private val d57 = Q("d57_store_compaction", compactionOracle) { (s, d) =>
    compactionRun(s, d).census
  }

  // ============ d58: generation catalog + atomic swap ============

  /** The store CATALOG: one tiny file naming the current generation's
    * three store handles (band-index table, exact dir, shingle dir).
    * Probes RESOLVE handles through the catalog; maintenance (d57
    * compaction) builds the next generation OFFLINE and publishes it
    * with ONE atomic same-directory move — the ManifestSink tmp+move
    * discipline applied to store management. Readers therefore see the
    * old generation or the new one, NEVER a mix: the three handles
    * travel in one file and ATOMIC_MOVE forbids partial content. A
    * crash mid-publish leaves the old pointer intact, with only a
    * stale tmp file as residue (ignored by readers, overwritten by the
    * next publish). Single publisher by contract — the same serial
    * maintenance queue p02's ordered deltas already require.
    *
    * This is what makes d57 DEPLOYABLE: swapping three stores one by
    * one would expose a concurrent probe to a MIXED generation (e.g.
    * the compacted exact store beside the uncompacted band index),
    * whose admissions match neither generation. */
  def publishStoreCatalog(path: String, idxTable: String,
      exDir: String, shDir: String): Unit =
    publishCatalog(path, Seq(idxTable, exDir, shDir))

  /** Generic atomic catalog publish: any line list, tmp + same-dir
    * ATOMIC_MOVE. The tmp name is unique PER PUBLISH (UUID suffix) so a
    * contract-violating concurrent publisher degrades to last-writer-wins
    * — one whole triple or the other — instead of one publisher's move
    * shipping the other's half-written bytes (or throwing
    * NoSuchFileException when the rival's move already consumed the
    * shared tmp). */
  def publishCatalog(path: String, lines: Seq[String]): Unit = {
    val target = java.nio.file.Paths.get(path)
    val tmp = target.resolveSibling(
      target.getFileName.toString + ".tmp." + java.util.UUID.randomUUID())
    java.nio.file.Files.write(tmp,
      lines.mkString("", "\n", "\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))
    java.nio.file.Files.move(tmp, target,
      java.nio.file.StandardCopyOption.ATOMIC_MOVE,
      java.nio.file.StandardCopyOption.REPLACE_EXISTING): Unit
  }

  /** Everything a FRESH SparkSession — another JVM, another cluster
    * job — needs to serve a bucketed store generation. Catalog handles
    * are metastore-scoped table NAMES: resolvable by every session
    * sharing the publishing metastore (a cluster's jobs normally do),
    * but not by a session with its own metastore. The portable form
    * carries the physical path plus the layout contract (schema, bucket
    * spec, sort spec), from which [[registerHandle]] reconstructs an
    * identical external table — same exchange-free probe plan, same
    * bucket pruning — against the same files. One line, `|`-separated
    * (none of the fields can contain a pipe: identifiers, a
    * path, and a Spark-generated DDL string). */
  final case class PortableHandle(name: String, path: String,
      schemaDdl: String, numBuckets: Int, bucketCols: Seq[String],
      sortCols: Seq[String]) {
    def encoded: String = {
      val fields = Seq(name, path, schemaDdl, numBuckets.toString,
        bucketCols.mkString(","), sortCols.mkString(","))
      require(fields.forall(f => !f.contains("|") && !f.contains("\n")),
        s"unencodable handle field: $fields")
      fields.mkString("|")
    }
  }

  object PortableHandle {
    def decode(line: String): PortableHandle = {
      // limit -1: trailing EMPTY fields survive — a bucketed-but-unsorted
      // table encodes with a trailing '|' (empty sortCols, a shape
      // registerHandle explicitly supports) and must round-trip
      val f = line.split("\\|", -1)
      require(f.length == 6, s"malformed portable handle: $line")
      PortableHandle(f(0), f(1), f(2), f(3).toInt,
        f(4).split(',').toSeq.filter(_.nonEmpty),
        f(5).split(',').toSeq.filter(_.nonEmpty))
    }
  }

  /** Export a store generation's portable handle from the publishing
    * session's own metastore entry. */
  def exportHandle(s: org.apache.spark.sql.SparkSession,
      table: String): PortableHandle = {
    val meta = s.sessionState.catalog.getTableMetadata(
      org.apache.spark.sql.catalyst.TableIdentifier(table))
    val spec = meta.bucketSpec.getOrElse(throw new IllegalArgumentException(
      s"$table is not a bucketed store — nothing to carry portably"))
    PortableHandle(table, meta.location.toString, meta.schema.toDDL,
      spec.numBuckets, spec.bucketColumnNames, spec.sortColumnNames)
  }

  /** Register a portable handle in THIS session's metastore as an
    * external table over the generation's existing files, reproducing
    * the publisher's bucket/sort layout so probes plan exchange-free
    * with bucket pruning, exactly as in the publishing session.
    * Idempotent (IF NOT EXISTS); the generation's files are never
    * touched — dropping the registration later does not drop data.
    * Returns the (unchanged) table name. */
  def registerHandle(s: org.apache.spark.sql.SparkSession,
      h: PortableHandle): String = {
    val sorted = if (h.sortCols.isEmpty) ""
      else s"SORTED BY (${h.sortCols.mkString(", ")}) "
    s.sql(s"""CREATE TABLE IF NOT EXISTS ${h.name} (${h.schemaDdl})
      USING PARQUET
      CLUSTERED BY (${h.bucketCols.mkString(", ")}) ${sorted}INTO ${h.numBuckets} BUCKETS
      LOCATION '${h.path}'"""): Unit
    h.name
  }

  /** Resolve a catalog whose lines may be PORTABLE handles: every line
    * that decodes as a [[PortableHandle]] is registered in THIS session
    * (idempotent) and replaced by its locally-usable table name;
    * metadata lines (cell counts, schema tags — no pipes) pass through
    * untouched. This is the per-batch resolve shape for a consumer
    * serving generations published by OTHER processes: a micro-batch
    * that resolves after a foreign maintainer's CAS publish registers
    * the new generation on the fly and probes it with the full layout
    * contract. */
  def resolvePortableCatalog(s: org.apache.spark.sql.SparkSession,
      path: String, expect: Int): Seq[String] =
    resolveCatalog(path, expect).map { l =>
      try registerHandle(s, PortableHandle.decode(l))
      catch { case scala.util.control.NonFatal(_) => l }
    }

  /** Generic catalog resolve (see [[publishCatalog]]); `expect` guards
    * the line count so a wrong-surface catalog fails loudly. */
  def resolveCatalog(path: String, expect: Int): Seq[String] = {
    val lines = java.nio.file.Files.readAllLines(java.nio.file.Paths.get(path))
    require(lines.size == expect,
      s"corrupt store catalog at $path (expected $expect lines): $lines")
    scala.jdk.CollectionConverters.ListHasAsScala(lines).asScala.toSeq
  }

  /** Resolve the current generation's handles. A read concurrent with a
    * publish returns the old or the new triple — never a blend (spec-
    * drilled with racing reader threads against rapid swaps). */
  def resolveStoreCatalog(path: String): (String, String, String) = {
    val lines = resolveCatalog(path, expect = 3)
    (lines(0), lines(1), lines(2))
  }

  // -------------------------------------------------- versioned catalog
  // d66: the d58 pointer plus an immutable HISTORY — each publish also
  // writes v%05d under `$path.history/`, so a reader can PIN a
  // generation (time travel / session consistency across swaps) and a
  // retention GC can physically reclaim generations nobody may pin any
  // more. The pointer update stays the single ATOMIC_MOVE; the history
  // file is written (tmp+move) BEFORE the pointer, so a crash between
  // the two leaves an orphan history version but never a current
  // pointer without history.

  private def historyDir(path: String): java.nio.file.Path =
    java.nio.file.Paths.get(path + ".history")

  // ----------------------------------------- version-file integrity
  // r13: `resolveCatalogVersion` used to validate line COUNT only — a
  // torn or corrupted version file with the right number of lines would
  // resolve to wrong handles silently. Every version file now carries a
  // trailing checksum line (`#crc32:<hex>` over the content bytes),
  // written with the content in one atomic claim and verified on EVERY
  // read — resolve, pin resolve, GC keep-set, orphan-scan. A torn write
  // (truncated tail, flipped byte, missing trailer) fails loudly at the
  // reader instead of resolving wrong handles; on the conditional-put
  // committer the same trailer is what detects a reader racing the
  // (non-atomic on POSIX) content write.

  private val ChecksumPrefix = "#crc32:"

  private def crcHex(content: String): String = {
    val crc = new java.util.zip.CRC32()
    crc.update(content.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    java.lang.Long.toHexString(crc.getValue)
  }

  /** Bytes of a version file: content lines + checksum trailer. Exposed
    * private[graft] so crash-window drills can fabricate VALID files. */
  private[graft] def versionFileBytes(lines: Seq[String]): Array[Byte] = {
    val body = lines.mkString("", "\n", "\n")
    (body + ChecksumPrefix + crcHex(body) + "\n")
      .getBytes(java.nio.charset.StandardCharsets.UTF_8)
  }

  /** Read a version file, verify its checksum trailer, return the
    * content lines. Fails loudly (IllegalArgumentException) on a
    * missing trailer or a checksum mismatch — a torn/corrupted write,
    * or a read racing an in-flight conditional-put claim. */
  private def parseVersionFile(p: java.nio.file.Path): Seq[String] = {
    val all = scala.jdk.CollectionConverters.ListHasAsScala(
      java.nio.file.Files.readAllLines(p)).asScala.toSeq
    require(all.nonEmpty && all.last.startsWith(ChecksumPrefix),
      s"catalog version file $p has no checksum trailer — torn or truncated write")
    val content = all.dropRight(1)
    val expect = all.last.stripPrefix(ChecksumPrefix)
    require(crcHex(content.mkString("", "\n", "\n")) == expect,
      s"catalog version file $p FAILED its checksum — torn or corrupted write")
    content
  }

  /** Publish a new generation: record it as the next immutable history
    * version, then swap the current pointer. Returns the version
    * number. Single publisher by contract (the d58 premise). */
  def publishCatalogVersioned(path: String, lines: Seq[String]): Int = {
    val hd = historyDir(path)
    java.nio.file.Files.createDirectories(hd)
    val v = catalogVersions(path).lastOption.getOrElse(0) + 1
    val hist = hd.resolve(f"v$v%05d")
    val tmp = hd.resolve(f"v$v%05d.tmp." + java.util.UUID.randomUUID())
    java.nio.file.Files.write(tmp, versionFileBytes(lines))
    java.nio.file.Files.move(tmp, hist,
      java.nio.file.StandardCopyOption.ATOMIC_MOVE): Unit
    publishCatalog(path, lines)
    v
  }

  // ------------------------------------- optimistic-concurrency commit
  // d69: publishCatalogVersioned is single-publisher by contract — two
  // racing publishers degrade to last-writer-wins and one UPDATE IS
  // LOST (ingest's append vanishes under compaction's publish, or vice
  // versa). A 100 TB deployment has ingest, compaction, and re-train
  // jobs publishing concurrently, so the commit must be a COMPARE-AND-
  // SWAP: the publisher carries the version it based its update on, and
  // the commit fails loudly when the catalog moved — the caller
  // re-reads the new current generation, re-applies its change ON TOP,
  // and retries (the Iceberg optimistic-commit protocol). The atomic
  // claim primitive is a [[SlotCommitter]] — no lock file, no
  // coordinator, works across JVMs sharing the catalog (drilled with
  // real child JVMs racing the suite JVM in CasCrossJvmSpec).

  /** The atomic version-slot claim, extracted behind a seam so the
    * commit protocol is PORTABLE beyond a POSIX shared filesystem: of N
    * concurrent claimants of one slot, exactly one returns true; the
    * losers return false having left the slot untouched. Two shipped
    * shapes, selectable per call or globally via
    * `-Dgraft.catalog.committer=hardlink|createnew`; both run the full
    * RoundThirteenSpec race drills (same-slot races, publisher storm,
    * real-store race) and the cross-JVM drill. */
  sealed trait SlotCommitter {
    def name: String
    def claim(slot: java.nio.file.Path, bytes: Array[Byte]): Boolean
  }

  /** POSIX shape: write the content to a temp sibling, then hard-link it
    * onto the slot. Link creation is atomic AND makes the full content
    * visible atomically — a reader can never observe a partial file.
    * Hard links do not exist on object stores; there this committer is
    * the wrong choice and [[CreateNewCommitter]] is the shape to port. */
  case object HardLinkCommitter extends SlotCommitter {
    val name = "hardlink"
    def claim(slot: java.nio.file.Path, bytes: Array[Byte]): Boolean = {
      val tmp = slot.resolveSibling(
        slot.getFileName.toString + ".tmp." + java.util.UUID.randomUUID())
      java.nio.file.Files.write(tmp, bytes)
      try { java.nio.file.Files.createLink(slot, tmp); true }
      catch { case _: java.nio.file.FileAlreadyExistsException => false }
      finally { java.nio.file.Files.deleteIfExists(tmp): Unit }
    }
  }

  /** Conditional-put shape: create the slot file itself with CREATE_NEW
    * — the put-if-absent an object store (S3 `If-None-Match: *`, GCS
    * `ifGenerationMatch=0`) or HDFS `create(overwrite=false)` offers,
    * where the whole object lands atomically or not at all. The POSIX
    * emulation's one divergence is that the content write AFTER the
    * exclusive create is not atomic — a reader racing that window sees
    * a partial file, which the checksum trailer turns into a LOUD
    * retryable failure (never wrong handles); [[commitCatalogCas]]
    * treats it as a conflict and re-reads. */
  case object CreateNewCommitter extends SlotCommitter {
    val name = "createnew"
    def claim(slot: java.nio.file.Path, bytes: Array[Byte]): Boolean = {
      val ch =
        try java.nio.channels.FileChannel.open(slot,
          java.nio.file.StandardOpenOption.CREATE_NEW,
          java.nio.file.StandardOpenOption.WRITE)
        catch { case _: java.nio.file.FileAlreadyExistsException => return false }
      try { ch.write(java.nio.ByteBuffer.wrap(bytes)); ch.force(true) }
      finally ch.close()
      true
    }
  }

  /** The DEPLOYABLE Hadoop-filesystem port of the conditional-put
    * shape: the slot claim is `FileSystem.create(path, overwrite =
    * false)` — on HDFS a single atomic namenode operation (the
    * `create(overwrite=false)` contract [[CreateNewCommitter]]'s doc
    * names), so of N racing claimants exactly one wins. This is the
    * committer a cluster deployment selects for an `hdfs://` catalog;
    * it goes through `org.apache.hadoop.fs.FileSystem`, so the same
    * code serves any Hadoop-API store whose exclusive-create is atomic.
    *
    * Honest scope of what is DRILLED here vs claimed: this container
    * ships only the hadoop-CLIENT jars (no NameNode/DataNode/
    * MiniDFSCluster classes exist on the classpath, and the build has
    * zero egress to fetch them), so a real-HDFS drill is not runnable —
    * the drills run this committer against the LOCAL Hadoop filesystem
    * (`file://`, raw, no .crc sidecars), which exercises the full API
    * path (create-exclusive exception taxonomy, stream write/close
    * ordering, byte-compatibility of version files written through the
    * Hadoop stack with the java.nio readers and checksum trailers) but
    * NOT namenode atomicity: `RawLocalFileSystem.create(overwrite =
    * false)` is an exists-check-then-create with a TOCTOU window, so on
    * `file://` two racing claimants can BOTH win (RoundSixteenSpec
    * measures exactly that divergence). Select this committer for
    * Hadoop filesystems whose exclusive-create is atomic (HDFS); on a
    * shared POSIX filesystem use [[HardLinkCommitter]] /
    * [[CreateNewCommitter]], which are race-proven locally. */
  case object HadoopFsCommitter extends SlotCommitter {
    val name = "hadoopfs"
    def claim(slot: java.nio.file.Path, bytes: Array[Byte]): Boolean = {
      val conf = new org.apache.hadoop.conf.Configuration()
      val p = new org.apache.hadoop.fs.Path(slot.toUri)
      // unwrap the checksumming local wrapper: a local drill must not
      // strew .crc sidecars through the history dir (HDFS checksums
      // are server-side and unaffected)
      val fs = p.getFileSystem(conf) match {
        case l: org.apache.hadoop.fs.LocalFileSystem => l.getRawFileSystem
        case other => other
      }
      val out =
        try fs.create(p, false)
        catch {
          // HDFS and RawLocalFileSystem both signal a held slot with
          // FileAlreadyExistsException; older Hadoop FSes used a bare
          // IOException with an "already exists" message
          case _: org.apache.hadoop.fs.FileAlreadyExistsException => return false
          case e: java.io.IOException
              if e.getMessage != null && e.getMessage.contains("already exists") =>
            return false
        }
      try { out.write(bytes); out.hflush() } finally out.close()
      true
    }
  }

  /** Session-wide committer choice (hardlink unless overridden). */
  def defaultCommitter: SlotCommitter =
    sys.props.get("graft.catalog.committer") match {
      case Some(CreateNewCommitter.name) => CreateNewCommitter
      case Some(HadoopFsCommitter.name) => HadoopFsCommitter
      case _ => HardLinkCommitter
    }

  /** A CAS publish lost its race: the catalog moved past the version the
    * publisher based its update on. Re-read, re-apply, retry. */
  final class CatalogCasConflict(val path: String, val expected: Int, val found: Int)
    extends RuntimeException(
      s"catalog $path moved: publish expected current version v$expected, found v$found")

  /** Current committed version (0 = never published). The HISTORY is the
    * authority — the pointer file is a read-optimized cache of it. */
  def currentCatalogVersion(path: String): Int =
    catalogVersions(path).lastOption.getOrElse(0)

  /** Raw line list of a recorded generation (no `expect` guard — CAS
    * callers re-apply structural updates and validate themselves).
    * Checksum-verified: a torn file fails loudly, never wrong lines. */
  def readCatalogVersion(path: String, version: Int): Seq[String] = {
    val hist = historyDir(path).resolve(f"v$version%05d")
    require(java.nio.file.Files.exists(hist),
      s"catalog generation v$version at $path is gone")
    parseVersionFile(hist)
  }

  /** Compare-and-swap publish: commits `lines` as generation
    * `expectedVersion + 1` IFF the catalog is still at
    * `expectedVersion`; throws [[CatalogCasConflict]] otherwise. The
    * slot claim is the committer's atomic primitive, so of N racing
    * publishers exactly one wins each version — a lost update is
    * impossible, only a retried one. Returns the committed version. */
  def publishCatalogCas(path: String, expectedVersion: Int, lines: Seq[String],
      committer: SlotCommitter = defaultCommitter): Int = {
    val hd = historyDir(path)
    java.nio.file.Files.createDirectories(hd)
    val current = currentCatalogVersion(path)
    if (current != expectedVersion)
      throw new CatalogCasConflict(path, expectedVersion, current)
    val v = expectedVersion + 1
    // a rival may claim v between our check and our claim — same
    // conflict, detected one step later
    if (!committer.claim(hd.resolve(f"v$v%05d"), versionFileBytes(lines)))
      throw new CatalogCasConflict(path, expectedVersion, v)
    syncCatalogPointer(path)
    v
  }

  /** Re-derives the pointer file from the LATEST history version, looping
    * until the write landed for the version that is still latest. The
    * pointer is a convergent cache: two CAS winners syncing out of order
    * both re-check and the later content wins; legacy
    * [[resolveCatalog]] readers stay at most one converging write behind,
    * while version-aware readers never see a torn state at all. */
  private def syncCatalogPointer(path: String): Unit = {
    var settled = false
    var tries = 0
    while (!settled && tries < 1000) {
      tries += 1
      val latest = currentCatalogVersion(path)
      try {
        publishCatalog(path, readCatalogVersion(path, latest))
        settled = currentCatalogVersion(path) == latest
      } catch {
        // the latest slot is a rival's in-flight conditional-put write
        // (checksum trailer not landed yet) or was reclaimed mid-loop —
        // yield and re-check. The pointer is a convergent CACHE: if we
        // lose every race the rival's own sync converges it, and the
        // bounded give-up leaves version-aware readers unaffected.
        case _: IllegalArgumentException => Thread.sleep(1)
      }
    }
  }

  /** The full optimistic-commit loop: reads the current generation, asks
    * `update(currentVersion, currentLines)` for the successor lines,
    * CAS-publishes, and on conflict re-reads and RE-APPLIES — so the
    * update composes with whatever the rival committed instead of
    * clobbering it. Returns (committedVersion, attempts). `update` must
    * be safe to re-run (it may materialize a new store generation per
    * attempt; an abandoned attempt's table is dead weight for the GC,
    * never corruption — new-table discipline). */
  def commitCatalogCas(path: String, maxAttempts: Int = 10,
      committer: SlotCommitter = defaultCommitter)(
      update: (Int, Seq[String]) => Seq[String]): (Int, Int) = {
    var attempts = 0
    var lastRead: Throwable = null
    while (attempts < maxAttempts) {
      attempts += 1
      // The retryable-IllegalArgumentException catch is scoped to the
      // basis READ alone: `update` may itself throw
      // IllegalArgumentException (require failures, .toInt,
      // PortableHandle.decode), and retrying a DETERMINISTIC caller bug
      // maxAttempts times would materialize a full store generation of
      // debris per attempt and then surface as a misleading "livelock".
      // Those propagate unswallowed from the block below.
      val basis =
        try {
          val cur = currentCatalogVersion(path)
          val curLines =
            if (cur == 0) Seq.empty[String] else readCatalogVersion(path, cur)
          Some((cur, curLines))
        } catch {
          case e: IllegalArgumentException =>
            // the basis READ failed: either retention GC reclaimed our
            // basis between the version list and the read (two newer
            // versions landed mid-loop — the same "catalog moved" fact
            // as a conflict), or the latest slot is a rival's in-flight
            // conditional-put write (checksum not landed), or a rival
            // DIED mid-conditional-put and left a torn slot behind.
            // The first two heal themselves; the third never does —
            // repair it once it is old enough to rule out an in-flight
            // writer, then retry with a small backoff.
            lastRead = e
            repairTornCatalogSlot(path)
            Thread.sleep(math.min(5L * attempts, 50L))
            None
        }
      basis match {
        case Some((cur, curLines)) =>
          val next = update(cur, curLines) // caller bugs propagate from here
          try return (publishCatalogCas(path, cur, next, committer), attempts)
          catch { case _: CatalogCasConflict => () }
        case None => ()
      }
    }
    throw new IllegalStateException(
      s"catalog $path: CAS commit lost $maxAttempts straight races — livelock " +
        "(or the current version file is persistently unreadable; see cause)",
      lastRead)
  }

  /** Crash recovery for the conditional-put committer's one
    * unrecoverable window: a publisher dying between its CREATE_NEW
    * slot claim and the content write/force leaves an empty/torn file
    * permanently holding the LATEST version slot — every reader fails
    * the checksum, every CAS basis read fails, and (absent this rule)
    * the catalog wedges for all writers forever. The repair: a
    * checksum-failing latest slot whose mtime is older than `graceMs`
    * cannot be an in-flight writer (a claim's content write is
    * milliseconds; the window is generous anyway) — it is crash
    * debris, and the trailer distinguishes it from every valid file,
    * so deleting it re-opens the slot for the next claimant. Scoped
    * deliberately: ONLY the latest slot (a torn DEAD version stays as
    * the investigation record the retention sweep preserves), ONLY a
    * checksum failure (a valid file is never touched), ONLY past the
    * grace window (a racing in-flight write is left to finish).
    * Invoked automatically by [[commitCatalogCas]]'s failed-basis
    * path and available directly as the operator repair procedure.
    * Returns the reclaimed slot's version, if any. */
  def repairTornCatalogSlot(path: String, graceMs: Long = 60000L): Option[Int] =
    catalogVersions(path).lastOption.flatMap { v =>
      val slot = historyDir(path).resolve(f"v$v%05d")
      val torn =
        try { parseVersionFile(slot); false }
        catch {
          case _: IllegalArgumentException => true
          case _: java.nio.file.NoSuchFileException => false // rival repaired it
        }
      val old =
        try torn && java.nio.file.Files.getLastModifiedTime(slot).toMillis <
          System.currentTimeMillis() - graceMs
        catch { case _: java.io.IOException => false } // gone mid-check
      if (old && java.nio.file.Files.deleteIfExists(slot)) Some(v) else None
    }

  /** Orphan reclamation for CAS retry debris: a publisher whose commit
    * lost its race abandons the generation it materialized (the
    * new-table discipline — never corruption, but real storage). An
    * orphan is a registered table carrying the store's naming `prefix`
    * that NO recorded history version and not even the current pointer
    * references — absent from every version file, nothing can ever
    * resolve it again, pinned or not. Prefix scoping keeps the sweep
    * from ever touching another store's tables; reclamation is the GC
    * loop's drop-table + storage-delete. Returns the reclaimed table
    * names (drilled against a real lost race in RoundThirteenSpec).
    *
    * `graceMs` is the in-flight-publisher guard (Iceberg's older-than
    * cutoff): a table a publisher materialized but has NOT YET
    * CAS-published is indistinguishable from lost-race debris — only
    * AGE separates them. Candidates younger than the grace window are
    * skipped; set it well above the fleet's worst publish latency. A
    * torn (checksum-failing) version file aborts the sweep loudly — its
    * references are unknowable, so reclaiming anything would gamble. */
  def gcOrphanTables(s: org.apache.spark.sql.SparkSession,
      path: String, prefix: String,
      graceMs: Long = 10L * 60 * 1000): Seq[String] = {
    val referenced = catalogVersions(path)
      .flatMap { v =>
        // absent = a rival sweep reclaimed it (its references are moot);
        // a TORN file propagates parseVersionFile's loud failure instead
        try parseVersionFile(historyDir(path).resolve(f"v$v%05d"))
        catch { case _: java.nio.file.NoSuchFileException => Seq.empty[String] }
      }
      .toSet ++ (
        if (java.nio.file.Files.exists(java.nio.file.Paths.get(path)))
          scala.jdk.CollectionConverters.ListHasAsScala(java.nio.file.Files
            .readAllLines(java.nio.file.Paths.get(path))).asScala.toSeq
        else Seq.empty[String])
    val cutoff = System.currentTimeMillis() - graceMs
    val candidates = s.catalog.listTables().collect()
      .map(_.name).filter(_.startsWith(prefix)).filterNot(referenced)
    candidates.flatMap { t =>
      try {
        val meta = s.sessionState.catalog.getTableMetadata(
          org.apache.spark.sql.catalyst.TableIdentifier(t))
        if (meta.createTime > cutoff) None // maybe an in-flight publisher's
        else {
          s.sql(s"DROP TABLE `$t`")
          graft.Scratch.deleteRecursively(new java.io.File(meta.location))
          Some(t)
        }
      } catch { case scala.util.control.NonFatal(_) => None } // lost a race
    }.toSeq
  }

  /** File-level orphan reclamation for CROSS-PROCESS maintainer
    * debris: a maintainer in another JVM lands its generation
    * DIRECTORY at a durable shared path BEFORE its CAS commit, and its
    * metastore dies with its process — so a lost race or a crashed
    * maintainer leaks a directory that [[gcOrphanTables]] (which
    * sweeps THIS metastore's registered tables) can never see. The
    * referenced set is every path named by a portable-handle line of
    * any recorded version (plus the current pointer); candidates are
    * the direct subdirectories of `baseDir`, the store's agreed
    * generation area (the catalog's own history directory is always
    * kept). The [[gcOrphanTables]] disciplines carry over: an
    * older-than grace window keeps an in-flight maintainer's landing
    * zone, and a torn version file aborts the sweep loudly — its
    * references are unknowable, so reclaiming anything would gamble.
    * A candidate is kept if ANY referenced path sits at or under it.
    * Returns the reclaimed directory paths. */
  def gcOrphanGenerationDirs(catalogPath: String, baseDir: String,
      graceMs: Long = 10L * 60 * 1000): Seq[String] = {
    import java.nio.file.{Files, Paths}
    def norm(s: String): String = {
      val p =
        if (s.contains(":/")) Paths.get(java.net.URI.create(s))
        else Paths.get(s)
      p.toAbsolutePath.normalize.toString
    }
    def handlePaths(lines: Seq[String]): Seq[String] =
      lines.flatMap { l =>
        try Some(norm(PortableHandle.decode(l).path))
        catch { case scala.util.control.NonFatal(_) => None }
      }
    val rawLines = catalogVersions(catalogPath)
      .flatMap { v =>
        // absent = a rival retention sweep reclaimed it; TORN propagates
        // parseVersionFile's loud failure and aborts this sweep
        try parseVersionFile(historyDir(catalogPath).resolve(f"v$v%05d"))
        catch { case _: java.nio.file.NoSuchFileException => Seq.empty[String] }
      } ++ (
        if (Files.exists(Paths.get(catalogPath)))
          scala.jdk.CollectionConverters.ListHasAsScala(
            Files.readAllLines(Paths.get(catalogPath))).asScala.toSeq
        else Seq.empty[String])
    val referenced = handlePaths(rawLines).toSet
    // Guard: a catalog whose recorded versions carry NO decodable
    // portable-handle line (the plain-table-name flow, e.g. d73/s43's
    // writeIvfIndex catalogs) yields an EMPTY referenced set — running
    // the sweep against such a store's data area would reclaim every
    // aged subdirectory INCLUDING the live serving generation. This
    // sweep only governs portable-handle stores: no handles → no-op.
    if (referenced.isEmpty) return Seq.empty
    val hist = historyDir(catalogPath).toAbsolutePath.normalize.toString
    val cutoff = System.currentTimeMillis() - graceMs
    // a store whose generation area was never created has no debris
    if (!Files.isDirectory(Paths.get(baseDir))) return Seq.empty
    val listing = Files.list(Paths.get(baseDir))
    val candidates =
      try scala.jdk.CollectionConverters.IteratorHasAsScala(listing.iterator())
        .asScala.filter(Files.isDirectory(_)).map(_.toAbsolutePath.normalize)
        .toSeq
      finally listing.close()
    candidates.filter { c =>
      val cs = c.toString
      cs != hist &&
        !referenced.exists(r => r == cs || r.startsWith(cs + "/")) &&
        Files.getLastModifiedTime(c).toMillis < cutoff
    }.map { c =>
      graft.Scratch.deleteRecursively(c.toFile)
      c.toString
    }
  }

  /** All recorded history versions, ascending. */
  def catalogVersions(path: String): Seq[Int] = {
    val hd = historyDir(path)
    if (!java.nio.file.Files.isDirectory(hd)) Seq.empty
    else {
      val s = java.nio.file.Files.list(hd)
      try scala.jdk.CollectionConverters.IteratorHasAsScala(s.iterator()).asScala
        .map(_.getFileName.toString)
        // {5,}: %05d pads to AT LEAST five digits, so v100000 is six wide
        // — an exactly-five filter would make every version ≥ 100000
        // invisible (currentCatalogVersion stuck at 99999, every CAS a
        // livelock); at the drilled 60-72 commits/s that is ~25 minutes
        // of production commits (CatalogVolumeProbe drills the boundary)
        .filter(_.matches("v\\d{5,}"))
        .map(_.drop(1).toInt).toSeq.sorted
      finally s.close()
    }
  }

  /** Resolve a PINNED generation by version — fails loudly if the
    * version was never published or has been GC'd past retention. */
  def resolveCatalogVersion(path: String, version: Int, expect: Int): Seq[String] = {
    val hist = historyDir(path).resolve(f"v$version%05d")
    require(java.nio.file.Files.exists(hist),
      s"catalog generation v$version at $path is gone (never published, " +
        "or reclaimed by retention GC)")
    val lines = parseVersionFile(hist) // checksum-verified: torn → loud
    require(lines.size == expect,
      s"corrupt catalog history v$version at $path (expected $expect lines): $lines")
    lines
  }

  // ----------------------------------------------------- pin registry
  // s40: d66's pinned reads were BATCH-only and the GC trusted "pins are
  // safe within retention by contract". A long-running consumer (a
  // training-export stream) needs a pin the GC actually SEES: a LEASE
  // file per holder next to the history dir. An active lease protects
  // its generation from retention GC even outside the retain window; an
  // expired or released lease protects nothing, and a read through it
  // fails loudly — never a silent fallback to the current generation
  // (session consistency would be silently broken).

  private def pinsDir(path: String): java.nio.file.Path =
    java.nio.file.Paths.get(path + ".pins")

  /** Take (or renew — a holder overwrites its own lease) a lease on a
    * published generation. The lease is the GC contract: `version`
    * cannot be reclaimed while the lease is unexpired. */
  def acquireCatalogPin(path: String, version: Int, holder: String,
      leaseMs: Long): Unit = {
    require(java.nio.file.Files.exists(historyDir(path).resolve(f"v$version%05d")),
      s"cannot pin unpublished generation v$version at $path")
    val pd = pinsDir(path)
    java.nio.file.Files.createDirectories(pd)
    val tmp = pd.resolve(holder + ".tmp." + java.util.UUID.randomUUID())
    java.nio.file.Files.write(tmp,
      s"$version ${System.currentTimeMillis() + leaseMs}\n"
        .getBytes(java.nio.charset.StandardCharsets.UTF_8))
    java.nio.file.Files.move(tmp, pd.resolve(holder),
      java.nio.file.StandardCopyOption.ATOMIC_MOVE,
      java.nio.file.StandardCopyOption.REPLACE_EXISTING): Unit
  }

  /** Release a lease (idempotent — releasing an absent pin is a no-op:
    * the consumer may have crashed past its own release). */
  def releaseCatalogPin(path: String, holder: String): Unit =
    java.nio.file.Files.deleteIfExists(pinsDir(path).resolve(holder)): Unit

  /** holder → pinned version for every UNEXPIRED lease. Expired leases
    * are invisible here (the GC may already have reclaimed their
    * generation) but their files are left for [[resolvePinnedCatalog]]
    * to fail loudly on. */
  def activeCatalogPins(path: String,
      now: Long = System.currentTimeMillis()): Map[String, Int] = {
    val pd = pinsDir(path)
    if (!java.nio.file.Files.isDirectory(pd)) Map.empty
    else {
      val s = java.nio.file.Files.list(pd)
      try scala.jdk.CollectionConverters.IteratorHasAsScala(s.iterator()).asScala
        .filterNot(_.getFileName.toString.contains(".tmp."))
        .flatMap { p =>
          // per-file guard: a holder releasing CONCURRENTLY makes the
          // read throw NoSuchFile, and a torn/malformed lease parses
          // wrong — both mean "this lease protects nothing", exactly
          // what a released pin means. Guarding per file keeps one
          // racing release from aborting a whole retention sweep. ONLY
          // those two shapes are treated as released: an unexpected
          // I/O error on a live lease propagates and aborts the caller
          // (GC is best-effort by contract, so aborting is safe) —
          // defaulting a transiently-unreadable pin to "unpinned"
          // would let retention reclaim a generation a reader holds.
          try {
            val parts = new String(java.nio.file.Files.readAllBytes(p),
              java.nio.charset.StandardCharsets.UTF_8).trim.split(" ")
            if (parts.length == 2 && parts(1).toLong > now)
              Some(p.getFileName.toString -> parts(0).toInt)
            else None
          } catch {
            case _: java.nio.file.NoSuchFileException => None // racing release
            case _: NumberFormatException => None // torn/malformed lease shape
          }
        }.toMap
      finally s.close()
    }
  }

  /** Resolve the generation a holder's pin names — loudly failing when
    * the pin is absent or its lease EXPIRED (the consumer outlived its
    * lease; its generation may be gone, and pretending otherwise would
    * silently break session consistency). */
  def resolvePinnedCatalog(path: String, holder: String, expect: Int,
      now: Long = System.currentTimeMillis()): Seq[String] = {
    val pin = pinsDir(path).resolve(holder)
    require(java.nio.file.Files.exists(pin),
      s"no pin '$holder' at $path — acquire a lease before pinned reads")
    val parts = new String(java.nio.file.Files.readAllBytes(pin),
      java.nio.charset.StandardCharsets.UTF_8).trim.split(" ")
    require(parts(1).toLong > now,
      s"pin '$holder' at $path EXPIRED (lease deadline ${parts(1)}) — " +
        "renew the lease; its generation may already be reclaimed")
    resolveCatalogVersion(path, parts(0).toInt, expect)
  }

  /** Retention GC: physically reclaim every generation older than the
    * newest `retain` — EXCEPT generations held by an active pin lease
    * (s40: a pinned streaming consumer keeps its generation alive past
    * the retain window; the lease expiring re-exposes it to the next
    * GC). Per reclaimed line: a registered table is dropped AND its
    * storage deleted; an absolute directory path is deleted; anything
    * else is scalar metadata and skipped. A handle still referenced by
    * a RETAINED (or pinned) generation is kept (generations may share
    * stores across metadata-only publishes). Returns the reclaimed
    * versions. */
  def gcCatalogHistory(s: org.apache.spark.sql.SparkSession,
      path: String, retain: Int): Seq[Int] = {
    require(retain >= 1, "retention must keep at least the current generation")
    val versions = catalogVersions(path)
    val pinned = activeCatalogPins(path).values.toSet
    val (deadByAge, live0) = versions.splitAt(math.max(versions.size - retain, 0))
    val (deadPinned, dead) = deadByAge.partition(pinned)
    val live = (deadPinned ++ live0).sorted
    // The CURRENT pointer's handles are always kept, independent of the
    // history window: a publish that crashed between its history write
    // and the pointer swap leaves the ORPHAN as the newest version, and
    // without this the pointed-at generation could fall out of the
    // retain window and be reclaimed under the only reader guaranteed
    // to exist (drilled in RoundTwelveSpec).
    val pointer =
      if (java.nio.file.Files.exists(java.nio.file.Paths.get(path)))
        scala.jdk.CollectionConverters.ListHasAsScala(java.nio.file.Files
          .readAllLines(java.nio.file.Paths.get(path))).asScala.toSet
      else Set.empty[String]
    val keep = live.flatMap { v =>
      // checksum-verified: a TORN live version aborts the sweep loudly —
      // what it references is unknowable, so reclaiming would gamble
      parseVersionFile(historyDir(path).resolve(f"v$v%05d"))
    }.toSet ++ pointer

    // Reclamation is IDEMPOTENT under concurrent sweeps (overlapping GC
    // crons are normal ops): a version another sweep already reclaimed
    // reads as absent — skip it; per-line reclamation tolerates losing
    // a DROP race (the loser's handle is simply gone — the next sweep
    // has nothing left to do); the history delete is deleteIfExists.
    // GC is best-effort by contract: a line skipped on a race stays for
    // the next sweep, never corrupts (drilled with 3 concurrent sweeps
    // under a 6-publisher storm in RoundThirteenSpec).
    //
    // Reclaims a HANDLE line; returns false only when the attempt FAILED
    // and the handle still exists (a transient FS/metastore error) — a
    // handle that is simply gone (rival sweep won the drop race) counts
    // reclaimed. The distinction is what keeps the version's history
    // file around: deleting it after a failed line would erase the only
    // record of the leaked handle (not even gcOrphanTables could find an
    // unregistered directory again), so the version is left for the
    // next sweep to retry — exactly what the in-code contract promises.
    def reclaimLine(h: String): Boolean = {
      def stillThere: Boolean =
        (try s.catalog.tableExists(h) catch { case _: Exception => false }) ||
          (new java.io.File(h).isAbsolute && new java.io.File(h).isDirectory)
      try {
        // a metadata line need not even PARSE as a table identifier
        // (e.g. "schema-v2") — any parse failure means "not a table"
        val isTable =
          try s.catalog.tableExists(h) catch { case _: Exception => false }
        if (isTable) {
          val loc = s.sessionState.catalog.getTableMetadata(
            org.apache.spark.sql.catalyst.TableIdentifier(h)).location
          s.sql(s"DROP TABLE `$h`")
          graft.Scratch.deleteRecursively(new java.io.File(loc))
        } else if (new java.io.File(h).isAbsolute) {
          // Only an ABSOLUTE path is a filesystem handle; anything else
          // is scalar metadata (d64's bucket counts "8"/"32", schema
          // tags) and must be skipped — `File("8").isDirectory` against
          // the process CWD was the ADVICE-r11 deletion hazard.
          val f = new java.io.File(h)
          if (f.isDirectory) graft.Scratch.deleteRecursively(f)
        }
        true
      } catch {
        case scala.util.control.NonFatal(_) => !stillThere // lost a race?
      }
    }
    dead.filter { v =>
      val hist = historyDir(path).resolve(f"v$v%05d")
      val linesOpt =
        try Some(parseVersionFile(hist))
        catch {
          case _: java.io.IOException => None // rival sweep got it
          // torn DEAD version: its handles are unknowable — keep the
          // file as the investigation record, reclaim nothing from it
          case _: IllegalArgumentException => None
        }
      // attempt EVERY line (no short-circuit): one failed handle must not
      // stop the others from being reclaimed this sweep
      val allReclaimed =
        linesOpt.forall(_.filterNot(keep).map(reclaimLine).forall(identity))
      // a failed line keeps the version file: "stays for the next sweep"
      linesOpt.isDefined && allReclaimed && java.nio.file.Files.deleteIfExists(hist)
    }
  }

  /** d58 — the full takedown→compaction lifecycle driven THROUGH the
    * catalog: generation 1 serves tombstone-filtered probes while
    * compaction builds generation 2 offline; one atomic publish swaps;
    * the SAME probe code path (re-resolving the catalog) then runs
    * unfiltered. The census's invariant is that both phases admit the
    * identical set — the swap changes the mechanism, never the answer —
    * and the oracle computes the live-corpus admission once and demands
    * it from both rows. */
  private[graft] def swapRun(s: SparkSession, d: String): DataFrame = {
    val docs = plantedDocs(s, d)
    val corpus = docs.filter(col("doc_id") % 11 =!= 5)
    // store build and arrival digest are independent — overlap (§2.6)
    var gen1: (String, String, String) = null
    var arrC: DataFrame = null
    var aBS: (DataFrame, DataFrame) = null
    Dedup.inParallel(
      () => gen1 = initOwnedStores(s, corpus, "d58"),
      () => {
        arrC = Dedup.reuse(docs.filter(col("doc_id") % 11 === 5)
          .select(col("doc_id"), col("t"), md5(col("t")).as("h")))
        aBS = Dedup.lshBucketsAndShingles(
          arrC, "doc_id", "t", shingleWords = 3, bands = 4, rowsPerBand = 2)
      })
    val (idx1, ex1, sh1) = gen1
    val (aB, aS) = aBS
    val cat = graft.Scratch.dir("graft_d58_cat") + "/stores.catalog"
    publishStoreCatalog(cat, idx1, ex1, sh1)
    val removed = Dedup.reuse(corpus.filter(removedPred).select("doc_id"))

    def probePhase(phase: String, gen: Long, tomb: Option[DataFrame]): DataFrame = {
      val (idx, ex, sh) = resolveStoreCatalog(cat)
      val adm = admitArrivals(arrC, aS, Dedup.probeBandIndex(s, idx, aB),
        s.read.schema("doc_id LONG, h STRING").parquet(ex),
        s.read.schema("id LONG, h LONG").parquet(sh), tomb)
      adm.agg(count(lit(1)).as("n_admitted"),
          coalesce(sum(col("doc_id")), lit(0L)).as("sum_admitted_ids"))
        .crossJoin(broadcast(arrC.agg(count(lit(1)).as("n_arrived"))))
        .select(lit(phase).as("phase"), lit(gen).as("generation"),
          col("n_arrived"),
          (col("n_arrived") - col("n_admitted")).as("n_dropped"),
          col("n_admitted"), col("sum_admitted_ids"))
    }
    // generation 1 serves, tombstone-filtered (the operational state
    // between a takedown and its compaction); handles bind at plan
    // construction, so the later swap cannot retarget this phase.
    // The serving probe and the OFFLINE compaction overlap — literally
    // the d58 story (generation 1 serves WHILE generation 2 builds):
    // both only read generation 1, and the publish waits for both.
    var pre: DataFrame = null
    var gen2: (String, String, String) = null
    Dedup.inParallel(
      () => pre = probePhase("pre_swap", 1L, Some(removed)),
      () => gen2 = compactStores(s, idx1, ex1, sh1, removed, "d58c"))
    val (idx2, ex2, sh2) = gen2
    publishStoreCatalog(cat, idx2, ex2, sh2)
    // the same probe path re-resolves the catalog: new generation, no
    // tombstone filter — the dead rows are physically gone
    val post = probePhase("post_swap", 2L, None)
    pre.unionByName(post).orderBy("phase")
  }

  private def swapOracle: String = {
    def row(phase: String, gen: Int): String =
      s"""SELECT '$phase' AS phase, CAST($gen AS BIGINT) AS generation,
          (SELECT count(*) FROM arr) AS n_arrived,
          (SELECT count(*) FROM arr) - (SELECT count(*) FROM adm) AS n_dropped,
          (SELECT count(*) FROM adm) AS n_admitted,
          (SELECT CAST(coalesce(sum(doc_id), 0) AS BIGINT) FROM adm) AS sum_admitted_ids"""
    s"""$oraclePrelude,
       exall AS MATERIALIZED (SELECT doc_id, md5(t) AS h FROM corp),
       tomb AS MATERIALIZED (
         SELECT doc_id FROM corp
         WHERE doc_id % 17 = 3
            OR (doc_id % 11 = 4 AND (doc_id // 11) % 40 IN (10, 11))),
       live AS MATERIALIZED (
         SELECT doc_id FROM corp
         WHERE doc_id NOT IN (SELECT doc_id FROM tomb)),
       de AS MATERIALIZED (
         SELECT DISTINCT a.doc_id FROM arr a JOIN exall e ON md5(a.t) = e.h
         WHERE e.doc_id IN (SELECT doc_id FROM live)),
       cand AS MATERIALIZED (
         SELECT DISTINCT n.doc_id AS id_a, o.doc_id AS id_b
         FROM bands n JOIN bands o
           ON n.band = o.band AND n.band_key = o.band_key
         WHERE n.doc_id IN (SELECT doc_id FROM arr)
           AND o.doc_id IN (SELECT doc_id FROM live)),
       dn AS MATERIALIZED (
         SELECT DISTINCT i.id_a AS doc_id FROM (
           SELECT c.id_a, c.id_b, count(*) AS ni FROM cand c
             JOIN shd a ON a.doc_id = c.id_a
             JOIN shd b ON b.doc_id = c.id_b AND b.h = a.h
           GROUP BY c.id_a, c.id_b) i
           JOIN sz sa ON sa.doc_id = i.id_a
           JOIN sz sb ON sb.doc_id = i.id_b
         WHERE i.ni * 1.0 / (sa.n + sb.n - i.ni) >= 0.5),
       adm AS MATERIALIZED (
         SELECT doc_id FROM arr
         WHERE doc_id NOT IN (SELECT doc_id FROM de)
           AND doc_id NOT IN (SELECT doc_id FROM dn))
       SELECT phase, generation, n_arrived, n_dropped, n_admitted, sum_admitted_ids
       FROM (${row("pre_swap", 1)} UNION ALL ${row("post_swap", 2)})
       ORDER BY phase"""
  }

  private val d58 = Q("d58_generation_swap", swapOracle) { (s, d) =>
    swapRun(s, d)
  }

  val defs: Seq[Q] = Seq(p02, d56, d57, d58)
}
