package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

import graft.{Q, Tables}

/** The COMPOSED end-to-end curation pipeline — the artifact a real
  * pretraining-data user runs, assembled from the operator library's
  * verified stages (each cites its solo-verified operator):
  *
  *   1. URL dedup            (d46  — canonicalize, keep min-id per URL)
  *   2. Corruption plant + mojibake repair (t40 — the harness plants
  *                                   deterministic crawler artifacts on
  *                                   BOTH engines: mojibake arms
  *                                   (doc_id%5) and near-dup mirror
  *                                   pairs (doc_id%25<2 — ids 25g and
  *                                   25g+1 share a 30-token body plus 3
  *                                   doc-unique tokens, Jaccard≈0.82),
  *                                   then repairs; the REPAIRED text
  *                                   flows downstream. Without the
  *                                   mirror plant the fixture has ZERO
  *                                   verified near-dup pairs at sf0.01,
  *                                   leaving stages 6 and 8 untestable)
  *   3. Language routing     (t01  — stopword-argmax lang-ID, keep 'en')
  *   4. Quality gate         (t02  — token/uniq floors)
  *   5. Exact dedup          (d01  — md5 grouping, keep min id)
  *   6. Verified near-dedup  (d15/d44 — LSH band → exact-Jaccard≥0.5
  *                                   edges → CC, keep the min-id
  *                                   representative per (cluster,
  *                                   SOURCE): within-source near-dups
  *                                   collapse, cross-source siblings
  *                                   survive — the production choice
  *                                   that keeps the best copy per
  *                                   provenance and exactly the case a
  *                                   cluster-keyed split exists for)
  *   7. Decontamination      (d13/d42 — 13-gram overlap vs benchmark;
  *                                   drop benchmark members + docs with
  *                                   >5% contaminated grams)
  *   8. Leakage-free split   (t28  — split by CLUSTER key, not doc key:
  *                                   cross-source siblings from stage 6
  *                                   land in the SAME split; a doc-keyed
  *                                   split would leak them across
  *                                   train/val/test. `detail` counts the
  *                                   docs whose cluster split differs
  *                                   from their doc-keyed split — the
  *                                   rows the property actually moves)
  *   9. Sequence packing     (t12  — 512-token bins per split via the
  *                                   distributed prefix sum)
  *
  * The output is the per-stage census — (stage, name, n_in, n_out,
  * sum_ids, detail) — so the DuckDB oracle hash-verifies the whole
  * COMPOSITION: every stage's survivor set (checksummed by `sum_ids`)
  * must match an independent engine running the same nine stages, which
  * catches stage-ordering and stage-coupling bugs no solo operator test
  * can see.
  *
  * Digest-reuse discipline (the d15 single-digest rule, cross-stage):
  *   - the annotated corpus snapshot (`ann`: repaired text + language
  *     scores + token counts, stages 2-4 fused into one projection) is
  *     persisted ONCE; the stage-2-4 census rows and stages 5-9 all read
  *     its blocks — the corpus is never re-repaired or re-tokenized.
  *   - the shingle digest behind near-dedup is computed ONCE by
  *     [[Dedup.lshBucketsAndShingles]] (banding and verification sets
  *     from the same md5 pass — `Dedup.scala`'s hv cache).
  *   - the component table `comp` is persisted and consumed TWICE:
  *     stage 6 (canonical survivors) and stage 8 (cluster split keys) —
  *     the split never re-runs the dedup graph. PipelineSpec asserts all
  *     three reuses on the executed plan.
  *
  * Scale shape: stages 1-5 are scans + key-only shuffles (ids, 16-byte
  * hashes); stage 6 is d15's banded pipeline (never all-pairs); stage 7
  * broadcasts only the benchmark gram set (benchmarks are small by
  * premise — d10's contract) so the corpus never shuffles its grams for
  * the join; stages 8-9 move ids + 8-byte keys, and packing avoids the
  * one-task-per-split window via [[TextAnalysis.distributedPrefixSum]].
  *
  * Reference scope: the reference engine (Driver.java:1-172,
  * ExecutorMapper.java:1-273) has no curation pipeline; this composes
  * the SURVEY §2 B9 capability rows into the product a 100 TB
  * pretraining corpus actually needs.
  */
object Pipeline {

  // Mojibake constants (t40's plant/repair pairs), written as \uXXXX
  // escapes so the source bytes really are editor-proof (an
  // encoding-mangling editor cannot corrupt pure-ASCII escapes); the
  // oracle SQL interpolates the SAME constants, so both engines
  // transform identical strings either way.
  private val MA = "\u00C3\u00A1" // mojibake a-acute (UTF-8 read as Latin-1)
  private val RA = "\u00E1"       // repaired a-acute
  private val MD = "\u00E2\u20AC\u201D" // mojibake em-dash
  private val RD = "\u2014"       // repaired em-dash

  /** Pipeline internals exposed for the digest-reuse spec: the persisted
    * annotated corpus snapshot (`base` — the ONE repair/score/tokenize
    * pass, stages 2-4 fused; everything downstream is a filter of it),
    * the verified near-dup pairs (the plan that consumes the shingle
    * digest — banding AND verification read the one `hv` cache), the
    * persisted component table, and the census. */
  final case class Stages(base: DataFrame, verified: DataFrame,
      comp: DataFrame, census: DataFrame)

  def fullCuration(s: SparkSession, d: String): Stages = {
    val docs = Tables.documents(s, d)
      .select(col("doc_id"), col("source"), col("lang"), col("text"))

    // ---------------- stage 1: URL dedup (d46)
    val urls = docs.select(col("doc_id"), col("source"), CurationExtra.synthUrl.as("url"))
      .withColumn("cu", CurationExtra.canonicalUrl(col("url")))
    // keeper ids only — tiny relative to the corpus; persisted because
    // stage 1's census and stage 2's input both consume it
    val keep1 = Dedup.reuse(urls.groupBy("cu").agg(min(col("doc_id")).as("doc_id")))
    val f1 = docs.join(keep1.select("doc_id"), "doc_id")

    // ---------------- stage 2: mojibake repair (t40); repaired text `rt`
    val rep = (c: Column, from: String, to: String) =>
      call_function("replace", c, lit(from), lit(to))
    val marksRe = s"$MA|$MD"
    // near-dup mirror plant: members 25g and 25g+1 share 3 stopwords
    // (so language routing keeps them) + 27 group-keyed hex tokens, and
    // differ only in 3 doc-keyed tokens — 28 of each member's 31 word
    // 3-shingles are shared, Jaccard = 28/34 ≈ 0.82 ≥ tau. Pure md5
    // integer/hex derivation, so the oracle replays it exactly.
    val mirrorPlant = expr(
      """concat_ws(' ', 'the', 'of', 'a',
           concat_ws(' ', transform(sequence(1, 27),
             i -> substr(md5(concat(cast(doc_id div 25 as string), '|', cast(i as string))), 1, 6))),
           concat_ws(' ', transform(sequence(1, 3),
             i -> substr(md5(concat(cast(doc_id as string), '~', cast(i as string))), 1, 6))))""")
    // ---------------- stages 2-4 fused: ONE corpus pass (t40+t01+t02)
    // `ann` is THE persisted per-doc snapshot: repair, language scores and
    // token counts are all narrow per-row work, so computing them in one
    // projection costs one scan instead of one per census row. Every
    // stage-2-4 census aggregate and every downstream stage (5-9) reads
    // this cache — the raw corpus is repaired/scored/tokenized exactly
    // once in the executed plan (RoundEightSpec asserts the repair
    // signature, regexp_extract_all, appears in no other plan fragment).
    // One cache, not two: `base` below is a filter-projection OF this
    // cache rather than a second persisted copy of the text — at 100 TB
    // the ~1.4x wider columnar scans per consumer are cheaper than
    // doubling the cache/spill footprint of the corpus text.
    val ts = split(col("rt"), " ")
    val ann = Dedup.reuse(f1
      .withColumn("dtxt",
        when(col("doc_id") % 25 < 2, mirrorPlant)
          .when(col("doc_id") % 5 === 0, rep(col("text"), "a", MA))
          .when(col("doc_id") % 5 === 1, concat(col("text"), lit(s" $MD fin")))
          .otherwise(col("text")))
      .withColumn("n_marks",
        size(regexp_extract_all(col("dtxt"), lit(marksRe), lit(0))).cast(LongType))
      .withColumn("rt", rep(rep(col("dtxt"), MA, RA), MD, RD))
      .withColumn("sc_en", TextAnalysis.tokenSetCount("rt", TextAnalysis.langStopwords("en")))
      .withColumn("sc_es", TextAnalysis.tokenSetCount("rt", TextAnalysis.langStopwords("es")))
      .withColumn("sc_de", TextAnalysis.tokenSetCount("rt", TextAnalysis.langStopwords("de")))
      .withColumn("sc_fr", TextAnalysis.tokenSetCount("rt", TextAnalysis.langStopwords("fr")))
      .withColumn("predicted",
        when(col("sc_en") >= greatest(col("sc_es"), col("sc_de"), col("sc_fr"))
          && col("sc_en") > 0, "en")
          .when(col("sc_es") >= greatest(col("sc_de"), col("sc_fr")) && col("sc_es") > 0, "es")
          .when(col("sc_de") >= col("sc_fr") && col("sc_de") > 0, "de")
          .when(col("sc_fr") > 0, "fr")
          .otherwise("unknown"))
      .withColumn("n_tok", size(ts).cast(LongType))
      .withColumn("n_uniq", size(array_distinct(ts)).cast(LongType))
      .select(col("doc_id"), col("source"), col("lang"), col("n_marks"),
        col("rt"), col("predicted"), col("n_tok"), col("n_uniq")))

    // ---------------- stage 3: language routing, AUDIT-GATED (t51)
    // The router may only ACT when its own measured precision clears
    // the gate: predicted-vs-declared precision for 'en' (floor-divided
    // micros, one tiny agg of the ann cache — a bounded driver-side
    // branch, like the decontamination knob but data-driven). On a
    // corpus whose declared labels the classifier cannot reproduce —
    // this fixture: 43.7%, because the synthetic vocabulary carries no
    // language signal (the t51 finding) — acting on the prediction
    // would silently drop over half the corpus on a coin flip, so the
    // stage falls back to pass-through. On a corpus where the audit
    // clears (e.g. the all-English synth probes: ~100%), routing acts.
    // The oracle computes the identical gate, so the acted/passed
    // decision is hash-checked, not trusted; the conf changes the
    // threshold for deployments, never for verification (oracles pin
    // the default).
    val gateMicro = s.conf.getOption("graft.pipeline.langGatePrecision")
      .map(_.toLong).getOrElse(500000L)
    // Oracles pin the 500000 default; a session that runs p01 with the
    // conf set (e.g. leaked from an earlier test) would fail verification
    // with a confusing census diff — say WHY loudly, up front.
    if (gateMicro != 500000L)
      Console.err.println(
        s"[graft] WARNING: graft.pipeline.langGatePrecision=$gateMicro deviates from the " +
          "default 500000 that every p01 oracle pins — oracle-verified runs WILL mismatch; " +
          "unset the conf unless this is a deployment-tuned (non-verified) run")
    val enAudit = ann.filter(col("predicted") === "en")
      .agg(count(lit(1)).as("n_pred"),
        coalesce(sum(when(col("lang") === "en", 1L).otherwise(0L)), lit(0L)).as("n_hit"))
      .collect()(0)
    val nPred = enAudit.getAs[Long]("n_pred")
    val enPrecMicro = if (nPred == 0L) 0L else 1000000L * enAudit.getAs[Long]("n_hit") / nPred
    // stage views over the one cache (filters/projections, no recompute)
    val f3 =
      if (enPrecMicro >= gateMicro) ann.filter(col("predicted") === "en") else ann
    val base = f3.filter(col("n_tok") >= 20 && col("n_uniq") >= 10)
      .select(col("doc_id"), col("source"), col("rt"), col("n_tok"))

    // ---------------- stage 5: exact dedup (d01) on repaired text
    val ex = Dedup.reuse(base.groupBy(md5(col("rt")).as("h"))
      .agg(min(col("doc_id")).as("doc_id"), count(lit(1)).as("n_copies")))
    val f5 = base.join(ex.select("doc_id"), "doc_id")

    // ---------------- stage 6: verified near-dedup (d15/d44)
    // ONE digest pass: banding buckets AND exact verification sets from
    // the same md5 job (lshBucketsAndShingles' persisted hv table)
    val (buckets, shingles) = Dedup.lshBucketsAndShingles(
      f5, "doc_id", "rt", shingleWords = 3, bands = 4, rowsPerBand = 2)
    // the oracle's QUALIFY mirror below interpolates the same
    // DefaultBucketCap that candidatePairs applies
    val verified = Dedup.jaccardVerifiedPairs(
      Dedup.candidatePairs(buckets, materialize = false),
      shingles, tau = 0.5)
    val comp = Dedup.reuse(Dedup.connectedComponents(verified))
    val compAsDoc = comp.select(col("id").as("doc_id"), col("component"))
    // keep ONE representative per (cluster, SOURCE): within-source
    // near-dups collapse to the min id; cross-source siblings survive.
    // The group-by moves only (cluster, source, id) triples — keys, not
    // text — and the keeper set joins back by id, so the corpus blocks
    // never shuffle.
    val keep6 = f5.join(compAsDoc, Seq("doc_id"), "left")
      .withColumn("cluster", coalesce(col("component"), col("doc_id")))
      .groupBy("cluster", "source").agg(min(col("doc_id")).as("doc_id"))
    // f6 is the POST-DEDUP survivor corpus — the pipeline's natural
    // output artifact — and fans out to decontamination's gram explode,
    // the split chain, and three census rows; persisting it stops each
    // consumer from re-running the base⋈ex⋈keep6 join stack against the
    // ann cache. Its build READS the ann cache (no re-repair — the
    // RoundEightSpec sweep pins the repair signature to ann alone).
    val f6 = Dedup.reuse(f5.join(keep6.select("doc_id"), "doc_id"))

    // ---------------- stage 7: decontamination (d13/d42)
    def grams13(df: DataFrame, textC: String): DataFrame = df
      .withColumn("ws", split(col(textC), " "))
      .select(col("doc_id"), explode(expr(
        "transform(sequence(1, greatest(size(ws) - 12, 1)), i -> array_join(slice(ws, i, 13), ' '))"))
        .as("g"))
      .select(col("doc_id"), md5(col("g")).as("gh"))
    // the benchmark is EXTERNAL: built from the original corpus's %7
    // members (raw text), regardless of what earlier stages dropped
    val bench = grams13(docs.filter(col("doc_id") % 7 === 0), "text")
      .select("gh").distinct().withColumn("hit", lit(1L))
    val corpusG = grams13(f6.filter(col("doc_id") % 7 =!= 0), "rt").distinct()
    // BROADCAST-BY-PREMISE via the family-shared knob
    // ([[Dedup.benchSide]]): a real benchmark suite is tiny relative to
    // the corpus, so its gram set rides a broadcast and the corpus
    // grams never shuffle. The FIXTURE synthesizes the benchmark FROM
    // the corpus (1/7 of it), so the broadcast grows with the input
    // here — fine at test SFs, wrong for a deployment whose
    // "benchmark" is actually corpus-scale; such a deployment sets
    // graft.decontam.broadcastBench=false for the shuffled hash join
    // (identical rows, AQE picks the build side, measured 0.97×).
    val benchSide = Dedup.benchSide(bench)
    // ONE gram pass: a left join against the (at-most-one-match) distinct
    // benchmark set tags each corpus gram in place, so n_g and n_h come
    // from the SAME doc-keyed aggregation — the explode+distinct over the
    // survivor corpus (the stage's expensive narrow work) runs once in
    // the executed plan, not once per census leg (gsz + hits previously
    // re-evaluated corpusG, which is deliberately NOT persisted: at
    // 100 TB the (doc_id, gh) stream is bigger than the corpus text).
    val dec = Dedup.reuse(corpusG.join(benchSide, Seq("gh"), "left")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_g"), count(col("hit")).as("n_h"))
      .select(col("doc_id"),
        (col("n_h") * lit(1.0) / col("n_g") > 0.05).as("dirty")))
    val f7 = f6.join(dec.filter(!col("dirty")).select("doc_id"), "doc_id")

    // ---------------- stage 8: leakage-free split (t28) — REUSES comp
    def bucketOf(c: Column): Column =
      conv(substring(md5(c.cast("string")), 1, 4), 16, 10).cast(LongType) % 100
    def splitOf(c: Column): Column =
      when(bucketOf(c) < 90, "train").when(bucketOf(c) < 95, "val").otherwise("test")
    val f8 = Dedup.reuse(f7
      .join(compAsDoc, Seq("doc_id"), "left")
      .withColumn("cluster", coalesce(col("component"), col("doc_id")))
      .withColumn("split", splitOf(col("cluster")))
      .withColumn("doc_split", splitOf(col("doc_id")))
      .select(col("doc_id"), col("n_tok"), col("split"), col("doc_split")))

    // ---------------- stage 9: packing (t12) per split
    val packed = TextAnalysis.distributedPrefixSum(
      f8.select(col("doc_id"), col("split"), col("n_tok")),
      "split", "doc_id", "n_tok", "cum")
      .withColumn("bin", expr("(cum - n_tok) div 512"))
    val bins = packed.groupBy("split", "bin").agg(count(lit(1)).as("n_docs"))

    // ---------------- census
    def cnt(df: DataFrame): DataFrame =
      df.agg(count(lit(1)).cast(LongType).as("n_in"))
    def stats(df: DataFrame): DataFrame =
      df.agg(count(lit(1)).cast(LongType).as("n_out"),
        coalesce(sum(col("doc_id")), lit(0L)).as("sum_ids"))
    def row(stage: Int, name: String, nIn: DataFrame, st: DataFrame,
        detail: DataFrame): DataFrame =
      st.crossJoin(broadcast(nIn)).crossJoin(broadcast(detail))
        .select(lit(stage.toLong).as("stage"), lit(name).as("name"),
          col("n_in"), col("n_out"), col("sum_ids"),
          coalesce(col("detail"), lit(0L)).as("detail"))

    val census = Seq(
      row(1, "url_dedup", cnt(docs), stats(keep1),
        urls.agg(coalesce(sum(when(col("url").contains("utm_"), 1L).otherwise(0L)),
          lit(0L)).as("detail"))),
      row(2, "mojibake_repair", cnt(f1), stats(ann),
        ann.agg(coalesce(sum(when(col("n_marks") > 0, 1L).otherwise(0L)),
          lit(0L)).as("detail"))),
      row(3, "lang_route", cnt(ann), stats(f3),
        ann.agg(coalesce(sum(when(col("predicted") =!= col("lang"), 1L).otherwise(0L)),
          lit(0L)).as("detail"))),
      row(4, "quality_gate", cnt(f3), stats(base),
        base.agg(coalesce(sum(col("n_tok")), lit(0L)).as("detail"))),
      row(5, "exact_dedup", cnt(base), stats(f5),
        ex.agg(coalesce(sum(when(col("n_copies") > 1, 1L).otherwise(0L)),
          lit(0L)).as("detail"))),
      row(6, "verified_near_dedup", cnt(f5), stats(f6),
        comp.agg(count_distinct(col("component")).cast(LongType).as("detail"))),
      row(7, "decontaminate", cnt(f6), stats(f7),
        dec.agg(coalesce(sum(when(col("dirty"), 1L).otherwise(0L)),
          lit(0L)).as("detail"))),
      row(8, "leakage_free_split", cnt(f7), stats(f8),
        f8.agg(coalesce(sum(when(col("split") =!= col("doc_split"), 1L).otherwise(0L)),
          lit(0L)).as("detail"))),
      row(9, "sequence_pack", cnt(f8), stats(f8),
        bins.agg(count(lit(1)).cast(LongType).as("detail"))))
      .reduce(_ unionByName _)
      .orderBy("stage")

    Stages(ann, verified, comp, census)
  }

  private def oracle: String =
    s"""WITH RECURSIVE raw AS MATERIALIZED (
         SELECT doc_id,
                'https://' || (CASE WHEN doc_id % 3 = 0 THEN upper(source) ELSE source END)
                  || '.example.com/article/' || CAST(doc_id // 140 AS VARCHAR)
                  || (CASE WHEN doc_id % 8 = 0 THEN '/' ELSE '' END)
                  || (CASE doc_id % 4 WHEN 0 THEN '?utm_source=rss&utm_id=' || CAST(doc_id % 9 AS VARCHAR)
                                      WHEN 1 THEN '?ref=home' ELSE '' END)
                  || (CASE WHEN doc_id % 6 = 0 THEN '#sec-' || CAST(doc_id % 5 AS VARCHAR) ELSE '' END) AS url
         FROM documents),
       canon AS MATERIALIZED (
         SELECT doc_id, url,
                lower(regexp_replace(regexp_replace(regexp_replace(regexp_replace(
                  url, '#.*$$', ''), '\\?utm_[^#]*$$', ''), '/\\?', '?'), '/$$', '')) AS cu
         FROM raw),
       k1 AS MATERIALIZED (SELECT cu, min(doc_id) AS doc_id FROM canon GROUP BY cu),
       f1 AS MATERIALIZED (SELECT d.doc_id, d.source, d.lang, d.text
              FROM documents d JOIN k1 ON k1.doc_id = d.doc_id),
       f2 AS MATERIALIZED (
         SELECT doc_id, source, lang,
                CAST(len(regexp_extract_all(dtxt, '$MA|$MD')) AS BIGINT) AS n_marks,
                replace(replace(dtxt, '$MA', '$RA'), '$MD', '$RD') AS rt
         FROM (SELECT doc_id, source, lang,
                      CASE WHEN doc_id % 25 < 2 THEN
                             'the of a '
                             || array_to_string(list_transform(generate_series(1, 27),
                                  i -> substring(md5(CAST(doc_id // 25 AS VARCHAR) || '|' || CAST(i AS VARCHAR)), 1, 6)), ' ')
                             || ' '
                             || array_to_string(list_transform(generate_series(1, 3),
                                  i -> substring(md5(CAST(doc_id AS VARCHAR) || '~' || CAST(i AS VARCHAR)), 1, 6)), ' ')
                           WHEN doc_id % 5 = 0 THEN replace(text, 'a', '$MA')
                           WHEN doc_id % 5 = 1 THEN text || ' $MD fin'
                           ELSE text END AS dtxt
               FROM f1)),
       sc AS MATERIALIZED (
         SELECT doc_id, source, lang, n_marks, rt,
                CASE WHEN sc_en >= greatest(sc_es, sc_de, sc_fr) AND sc_en > 0 THEN 'en'
                     WHEN sc_es >= greatest(sc_de, sc_fr) AND sc_es > 0 THEN 'es'
                     WHEN sc_de >= sc_fr AND sc_de > 0 THEN 'de'
                     WHEN sc_fr > 0 THEN 'fr'
                     ELSE 'unknown' END AS predicted
         FROM (SELECT doc_id, source, lang, n_marks, rt,
                      len(list_filter(string_split(rt, ' '), t -> t IN ('the','a','of'))) AS sc_en,
                      len(list_filter(string_split(rt, ' '), t -> t IN ('el','la','de'))) AS sc_es,
                      len(list_filter(string_split(rt, ' '), t -> t IN ('der','und','das'))) AS sc_de,
                      len(list_filter(string_split(rt, ' '), t -> t IN ('le','et','les'))) AS sc_fr
               FROM f2)),
       aud AS MATERIALIZED (
         SELECT count(*) AS n_pred,
                CAST(coalesce(sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END), 0) AS BIGINT) AS n_hit
         FROM sc WHERE predicted = 'en'),
       f3 AS MATERIALIZED (
         -- audit-gated routing: act on the prediction only when its
         -- measured precision clears the gate (mirrors the engine's
         -- default graft.pipeline.langGatePrecision = 500000 micros)
         SELECT doc_id, source, rt FROM sc
         WHERE predicted = 'en'
            OR (SELECT CASE WHEN n_pred = 0 THEN 0
                       ELSE (1000000 * n_hit) // n_pred END FROM aud) < 500000),
       f4 AS MATERIALIZED (
         SELECT doc_id, source, rt, CAST(len(string_split(rt, ' ')) AS BIGINT) AS n_tok
         FROM f3
         WHERE len(string_split(rt, ' ')) >= 20
           AND len(list_distinct(string_split(rt, ' '))) >= 10),
       ex AS MATERIALIZED (SELECT md5(rt) AS h, min(doc_id) AS keep_id, count(*) AS n_copies
              FROM f4 GROUP BY md5(rt)),
       f5 AS MATERIALIZED (SELECT f4.doc_id, f4.source, f4.rt, f4.n_tok
              FROM f4 JOIN ex ON ex.keep_id = f4.doc_id),
       shw AS MATERIALIZED (SELECT doc_id, string_split(rt, ' ') AS ws FROM f5),
       sh AS MATERIALIZED (
         SELECT doc_id, ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] AS sh
         FROM (SELECT doc_id, ws,
                      unnest(generate_series(1, greatest(len(ws) - 2, 1))) AS i
               FROM shw)),
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
       bandc AS MATERIALIZED (
         -- mirrors Dedup.dropOversizedBuckets' cap (the shared
         -- DefaultBucketCap constant on the Spark side): a band bucket
         -- above the cap emits no pairs
         SELECT doc_id, band, band_key FROM bands
         QUALIFY count(*) OVER (PARTITION BY band, band_key) <= ${Dedup.DefaultBucketCap}),
       prs AS MATERIALIZED (
         SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
         FROM bandc a JOIN bandc b
           ON a.band = b.band AND a.band_key = b.band_key AND a.doc_id < b.doc_id),
       shd AS MATERIALIZED (SELECT DISTINCT doc_id, h1 * 134217728 + h2 % 134217728 AS h
               FROM hs),
       sz AS MATERIALIZED (SELECT doc_id, count(*) AS n FROM shd GROUP BY doc_id),
       inter AS MATERIALIZED (
         SELECT p.id_a, p.id_b, count(*) AS ni
         FROM prs p
           JOIN shd a ON a.doc_id = p.id_a
           JOIN shd b ON b.doc_id = p.id_b AND b.h = a.h
         GROUP BY p.id_a, p.id_b),
       vpairs AS MATERIALIZED (
         SELECT i.id_a, i.id_b FROM inter i
           JOIN sz sa ON sa.doc_id = i.id_a
           JOIN sz sb ON sb.doc_id = i.id_b
         WHERE i.ni * 1.0 / (sa.n + sb.n - i.ni) >= 0.5),
       nds AS MATERIALIZED (
         SELECT DISTINCT id FROM (
           SELECT id_a AS id FROM vpairs UNION ALL SELECT id_b AS id FROM vpairs)),
       edges AS MATERIALIZED (
         SELECT id_a AS src, id_b AS dst FROM vpairs
         UNION ALL SELECT id_b AS src, id_a AS dst FROM vpairs),
       reach(a, b) AS (
         SELECT id, id FROM nds
         UNION
         SELECT r.a, e.dst FROM reach r JOIN edges e ON r.b = e.src),
       comp AS (SELECT a AS doc_id, min(b) AS component FROM reach GROUP BY a),
       f6 AS MATERIALIZED (
         SELECT doc_id, source, rt, n_tok FROM (
           SELECT f5.doc_id, f5.source, f5.rt, f5.n_tok,
                  coalesce(c.component, f5.doc_id) AS cluster
           FROM f5 LEFT JOIN comp c ON c.doc_id = f5.doc_id)
         QUALIFY doc_id = min(doc_id) OVER (PARTITION BY cluster, source)),
       bench AS MATERIALIZED (
         SELECT DISTINCT md5(array_to_string(ws[i:i+12], ' ')) AS gh
         FROM (SELECT string_split(text, ' ') AS ws FROM documents WHERE doc_id % 7 = 0) t,
              unnest(generate_series(1, greatest(len(t.ws) - 12, 1))) AS u(i)),
       cg AS MATERIALIZED (
         SELECT DISTINCT doc_id, md5(array_to_string(ws[i:i+12], ' ')) AS gh
         FROM (SELECT doc_id, string_split(rt, ' ') AS ws FROM f6 WHERE doc_id % 7 != 0) t,
              unnest(generate_series(1, greatest(len(t.ws) - 12, 1))) AS u(i)),
       gsz AS MATERIALIZED (SELECT doc_id, count(*) AS n_g FROM cg GROUP BY doc_id),
       hits AS MATERIALIZED (SELECT c.doc_id, count(*) AS n_h
                FROM cg c JOIN bench b ON b.gh = c.gh GROUP BY c.doc_id),
       dec AS MATERIALIZED (
         SELECT g.doc_id,
                (coalesce(h.n_h, 0) * 1.0 / g.n_g) > 0.05 AS dirty
         FROM gsz g LEFT JOIN hits h ON h.doc_id = g.doc_id),
       f7 AS MATERIALIZED (
         SELECT f6.doc_id, f6.n_tok
         FROM f6 JOIN dec ON dec.doc_id = f6.doc_id AND NOT dec.dirty),
       f8 AS MATERIALIZED (
         SELECT doc_id, n_tok,
                CASE WHEN ('0x' || substring(md5(CAST(cluster AS VARCHAR)), 1, 4))::BIGINT % 100 < 90 THEN 'train'
                     WHEN ('0x' || substring(md5(CAST(cluster AS VARCHAR)), 1, 4))::BIGINT % 100 < 95 THEN 'val'
                     ELSE 'test' END AS split,
                CASE WHEN ('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 4))::BIGINT % 100 < 90 THEN 'train'
                     WHEN ('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 4))::BIGINT % 100 < 95 THEN 'val'
                     ELSE 'test' END AS doc_split
         FROM (SELECT f7.doc_id, f7.n_tok, coalesce(c.component, f7.doc_id) AS cluster
               FROM f7 LEFT JOIN comp c ON c.doc_id = f7.doc_id)),
       pk AS MATERIALIZED (
         SELECT split, doc_id, n_tok,
                sum(n_tok) OVER (PARTITION BY split ORDER BY doc_id
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
         FROM f8),
       bins AS MATERIALIZED (
         SELECT split, CAST((cum - n_tok) // 512 AS BIGINT) AS bin, count(*) AS n_docs
         FROM pk GROUP BY split, CAST((cum - n_tok) // 512 AS BIGINT))
       SELECT CAST(stage AS BIGINT) AS stage, name, n_in, n_out, sum_ids, detail
       FROM (
         SELECT 1 AS stage, 'url_dedup' AS name,
                (SELECT count(*) FROM documents) AS n_in,
                (SELECT count(*) FROM k1) AS n_out,
                (SELECT CAST(coalesce(sum(doc_id), 0) AS BIGINT) FROM k1) AS sum_ids,
                (SELECT CAST(coalesce(sum(CASE WHEN url LIKE '%utm_%' THEN 1 ELSE 0 END), 0) AS BIGINT) FROM raw) AS detail
         UNION ALL
         SELECT 2, 'mojibake_repair',
                (SELECT count(*) FROM f1), (SELECT count(*) FROM f2),
                (SELECT CAST(coalesce(sum(doc_id), 0) AS BIGINT) FROM f2),
                (SELECT CAST(coalesce(sum(CASE WHEN n_marks > 0 THEN 1 ELSE 0 END), 0) AS BIGINT) FROM f2)
         UNION ALL
         SELECT 3, 'lang_route',
                (SELECT count(*) FROM f2), (SELECT count(*) FROM f3),
                (SELECT CAST(coalesce(sum(doc_id), 0) AS BIGINT) FROM f3),
                (SELECT CAST(coalesce(sum(CASE WHEN predicted <> lang THEN 1 ELSE 0 END), 0) AS BIGINT) FROM sc)
         UNION ALL
         SELECT 4, 'quality_gate',
                (SELECT count(*) FROM f3), (SELECT count(*) FROM f4),
                (SELECT CAST(coalesce(sum(doc_id), 0) AS BIGINT) FROM f4),
                (SELECT CAST(coalesce(sum(n_tok), 0) AS BIGINT) FROM f4)
         UNION ALL
         SELECT 5, 'exact_dedup',
                (SELECT count(*) FROM f4), (SELECT count(*) FROM f5),
                (SELECT CAST(coalesce(sum(doc_id), 0) AS BIGINT) FROM f5),
                (SELECT CAST(coalesce(sum(CASE WHEN n_copies > 1 THEN 1 ELSE 0 END), 0) AS BIGINT) FROM ex)
         UNION ALL
         SELECT 6, 'verified_near_dedup',
                (SELECT count(*) FROM f5), (SELECT count(*) FROM f6),
                (SELECT CAST(coalesce(sum(doc_id), 0) AS BIGINT) FROM f6),
                (SELECT CAST(count(DISTINCT component) AS BIGINT) FROM comp)
         UNION ALL
         SELECT 7, 'decontaminate',
                (SELECT count(*) FROM f6), (SELECT count(*) FROM f7),
                (SELECT CAST(coalesce(sum(doc_id), 0) AS BIGINT) FROM f7),
                (SELECT CAST(coalesce(sum(CASE WHEN dirty THEN 1 ELSE 0 END), 0) AS BIGINT) FROM dec)
         UNION ALL
         SELECT 8, 'leakage_free_split',
                (SELECT count(*) FROM f7), (SELECT count(*) FROM f8),
                (SELECT CAST(coalesce(sum(doc_id), 0) AS BIGINT) FROM f8),
                (SELECT CAST(coalesce(sum(CASE WHEN split <> doc_split THEN 1 ELSE 0 END), 0) AS BIGINT) FROM f8)
         UNION ALL
         SELECT 9, 'sequence_pack',
                (SELECT count(*) FROM f8), (SELECT count(*) FROM f8),
                (SELECT CAST(coalesce(sum(doc_id), 0) AS BIGINT) FROM f8),
                (SELECT count(*) FROM bins)
       ) ORDER BY stage"""

  private val p01 = Q("p01_full_curation", oracle) { (s, d) =>
    fullCuration(s, d).census
  }

  val defs: Seq[Q] = Seq(p01)
}
