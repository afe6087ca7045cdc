package graft.ops

import graft.{Q, Tables}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** B9 similarity search over embedding columns (`Array[Float]`).
  *
  * Numeric design for oracle parity AND reproducibility: vectors are
  * quantized to integer micro-units (round(x * 1e6) as BIGINT) before any
  * arithmetic. Dot products and norms are then exact integer sums
  * (order-independent), and the final cosine is a single fp divide of
  * identical inputs — bit-identical across engines, partitionings, and
  * runs. At 100 TB this also halves the shuffle width vs raw doubles and
  * keeps the hot loop in primitive longs.
  *
  * Scale path: brute-force top-k broadcasts the (small) query set against
  * the corpus — one narrow pass, per-partition top-k via window; the LSH
  * variant buckets the corpus by 8 random-hyperplane signs so candidate
  * search touches only same-bucket vectors (1/256th of the corpus on
  * average per probe).
  */
object Similarity {

  /** Quantize a float-array column to integer micro-units. */
  def quantize(vec: Column): Column =
    transform(vec, x => round(x.cast("double") * 1000000).cast("long"))

  /** Exact integer dot product of two quantized vectors — the fused
    * codegen Expression (graft.functions.LongDot); same integers as the
    * zip_with+aggregate composition, no per-row array allocation.
    * Resolves through the session's function registry, so the session
    * must carry `Engine.install` (every query entry does). */
  def dotQ(a: Column, b: Column): Column =
    graft.functions.LongDot.long_dot(a, b)

  /** Squared L2 norm of a quantized vector (exact integer). */
  def norm2Q(a: Column): Column = dotQ(a, a)

  /** Cosine similarity from quantized vectors. */
  def cosineQ(a: Column, b: Column): Column =
    dotQ(a, b) / (sqrt(norm2Q(a)) * sqrt(norm2Q(b)))

  /** Brute-force cosine top-k: for each query vector, the k nearest corpus
    * vectors (excluding itself). Queries are broadcast; corpus streams.
    *
    * Ranking goes through the engine's heap top-k operator
    * (graft.plans.TopKPerGroup): the rank filter sits directly on the bare
    * row_number so the rewrite fires, replacing the full shuffle+sort of
    * all N·M scored pairs with a bounded per-partition heap (k rows per
    * query survive the map side — the partial-aggregation shape). The
    * schema-parity cast to long happens AFTER the filter. */
  def bruteForceTopK(corpus: DataFrame, queries: DataFrame, k: Int): DataFrame = {
    graft.Engine.install(corpus.sparkSession)
    val c = corpus.select(col("vec_id").as("cid"), quantize(col("embedding")).as("cv"))
      .withColumn("cn", norm2Q(col("cv")))
    val q = queries.select(col("vec_id").as("qid"), quantize(col("embedding")).as("qv"))
      .withColumn("qn", norm2Q(col("qv")))
    val scored = c.crossJoin(broadcast(q))
      .filter(col("cid") =!= col("qid"))
      .withColumn("cos", dotQ(col("qv"), col("cv")) / (sqrt(col("qn")) * sqrt(col("cn"))))
    val w = Window.partitionBy(col("qid")).orderBy(col("cos").desc, col("cid"))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("qid"), col("cid"), col("rank").cast("long").as("rank"),
        round(col("cos"), 6).as("cosine"))
  }

  /** Deterministic ±1 hyperplane weights for (plane, dim), derived from
    * the first hex digit of md5("plane_dim") — reproducible everywhere.
    * Computed ONCE on the driver and shipped as a literal: the weights
    * are row-constant, so deriving them in the expression tree would
    * digest planes×dim md5s per ROW (512/row at the defaults) for values
    * that never change. The oracle keeps the in-SQL md5 derivation —
    * identical values, different (per-engine-sensible) evaluation site. */
  private def planeWeightArrays(planes: Int, dim: Int): Seq[Seq[Long]] = {
    val digest = java.security.MessageDigest.getInstance("MD5")
    (0 until planes).map { p =>
      (1 to dim).map { i =>
        val hex = digest.digest(s"${p}_$i".getBytes("UTF-8"))
        // first hex digit = high nibble of byte 0; MSB set → -1 else +1
        if (((hex(0) >> 4) & 0xF) >= 8) -1L else 1L
      }
    }
  }

  /** Random-hyperplane LSH bucket signature (`planes` sign bits) for each
    * vector — the ANN scale path's partitioning key. `vec` should be an
    * ATTRIBUTE (not a recomputed expression): it is referenced once per
    * plane in the sign loop. */
  def lshBucket(vec: Column, planes: Int, dim: Int): Column = {
    val w = typedLit(planeWeightArrays(planes, dim))
    array_join(
      transform(sequence(lit(0), lit(planes - 1)), p =>
        when(dotQ(vec, element_at(w, (p + 1).cast("int"))) >= 0, "1").otherwise("0")),
      "")
  }

  // ---------------------------------------------------------------- queries

  private val d05 = Q(
    "d05_embed_cosine_topk",
    """WITH e AS (
         SELECT vec_id,
                list_transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) * 1000000) AS BIGINT)) AS v
         FROM embeddings),
       n AS (
         SELECT vec_id, v, CAST(list_sum(list_transform(v, x -> x * x)) AS BIGINT) AS n2
         FROM e),
       pairs AS (
         SELECT q.vec_id AS qid, c.vec_id AS cid,
                CAST(list_sum(list_transform(generate_series(1, 64), i -> q.v[i] * c.v[i])) AS BIGINT)
                  / (sqrt(q.n2) * sqrt(c.n2)) AS cos
         FROM n q JOIN n c ON q.vec_id < 10 AND c.vec_id <> q.vec_id),
       ranked AS (
         SELECT qid, cid, cos,
                row_number() OVER (PARTITION BY qid ORDER BY cos DESC, cid) AS rank
         FROM pairs)
       SELECT qid, cid, rank, round(cos, 6) AS cosine
       FROM ranked WHERE rank <= 10
       ORDER BY qid, rank""") { (s, d) =>
    val emb = Tables.embeddings(s, d)
    bruteForceTopK(emb, emb.filter(col("vec_id") < 10), 10)
      .orderBy("qid", "rank")
  }

  private val d06 = Q(
    "d06_embed_lsh_buckets",
    """WITH e AS (
         SELECT vec_id,
                list_transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) * 1000000) AS BIGINT)) AS v
         FROM embeddings),
       sig AS (
         SELECT vec_id,
                array_to_string(list_transform(generate_series(0, 7), p ->
                  CASE WHEN CAST(list_sum(list_transform(generate_series(1, 64), i ->
                    v[i] * (CASE WHEN substring(md5(p || '_' || i), 1, 1)
                                 IN ('8','9','a','b','c','d','e','f')
                            THEN -1 ELSE 1 END))) AS BIGINT) >= 0
                  THEN '1' ELSE '0' END), '') AS bucket
         FROM e)
       SELECT bucket, count(*) AS n_vecs, min(vec_id) AS first_vec
       FROM sig GROUP BY bucket ORDER BY bucket""") { (s, d) =>
    Tables.embeddings(s, d)
      .select(col("vec_id"), quantize(col("embedding")).as("qv"))
      .select(col("vec_id"), lshBucket(col("qv"), planes = 8, dim = 64).as("bucket"))
      .groupBy("bucket")
      .agg(count(lit(1)).as("n_vecs"), min(col("vec_id")).as("first_vec"))
      .orderBy("bucket")
  }

  /** IVF-style ANN: 8 fixed centroids (vec_id < 8), every vector assigned
    * to its max-dot cell, queries probe only their own cell — the
    * coarse-quantization scale path (touches ~1/8 of the corpus per
    * probe). All dots are exact integer math; ties break on centroid id.
    */
  private val d07 = Q(
    "d07_embed_ivf_topk",
    """WITH e AS (
         SELECT vec_id,
                list_transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) * 1000000) AS BIGINT)) AS v
         FROM embeddings),
       n AS (SELECT vec_id, v, CAST(list_sum(list_transform(v, x -> x * x)) AS BIGINT) AS n2 FROM e),
       cents AS (SELECT vec_id AS cent_id, v AS cv FROM e WHERE vec_id < 8),
       scored AS (
         SELECT n.vec_id, n.v, n.n2, c.cent_id,
                CAST(list_sum(list_transform(generate_series(1, 64), i -> n.v[i] * c.cv[i])) AS BIGINT) AS dot,
                row_number() OVER (PARTITION BY n.vec_id
                  ORDER BY CAST(list_sum(list_transform(generate_series(1, 64), i -> n.v[i] * c.cv[i])) AS BIGINT) DESC,
                           c.cent_id) AS rn
         FROM n, cents c),
       assign AS (SELECT vec_id, v, n2, cent_id AS cell FROM scored WHERE rn = 1),
       probes AS (
         SELECT q.vec_id AS qid, q.cell, c.vec_id AS cid,
                CAST(list_sum(list_transform(generate_series(1, 64), i -> q.v[i] * c.v[i])) AS BIGINT)
                  / (sqrt(q.n2) * sqrt(c.n2)) AS cos
         FROM assign q JOIN assign c ON q.cell = c.cell AND c.vec_id <> q.vec_id
         WHERE q.vec_id >= 10 AND q.vec_id < 15),
       ranked AS (
         SELECT qid, cell, cid, cos,
                row_number() OVER (PARTITION BY qid ORDER BY cos DESC, cid) AS rank
         FROM probes)
       SELECT qid, cell, cid, rank, round(cos, 6) AS cosine
       FROM ranked WHERE rank <= 3 ORDER BY qid, rank""") { (s, d) =>
    val e = Tables.embeddings(s, d)
      .select(col("vec_id"), quantize(col("embedding")).as("v"))
      .withColumn("n2", norm2Q(col("v")))
    val cents = e.filter(col("vec_id") < 8)
      .select(col("vec_id").as("cent_id"), col("v").as("cv"))
    val wc = Window.partitionBy(col("vec_id")).orderBy(col("dot").desc, col("cent_id"))
    val assign = e.crossJoin(broadcast(cents))
      .withColumn("dot", dotQ(col("v"), col("cv")))
      .withColumn("rn", row_number().over(wc))
      .filter(col("rn") === 1)
      .select(col("vec_id"), col("v"), col("n2"), col("cent_id").as("cell"))
    val probes = assign.filter(col("vec_id") >= 10 && col("vec_id") < 15)
      .select(col("vec_id").as("qid"), col("v").as("qv"), col("n2").as("qn2"), col("cell"))
    val wr = Window.partitionBy(col("qid")).orderBy(col("cos").desc, col("cid"))
    assign.select(col("vec_id").as("cid"), col("v").as("cv2"), col("n2").as("cn2"),
        col("cell").as("ccell"))
      .join(broadcast(probes), col("ccell") === col("cell") && col("cid") =!= col("qid"))
      .withColumn("cos", dotQ(col("qv"), col("cv2")) / (sqrt(col("qn2")) * sqrt(col("cn2"))))
      .withColumn("rank", row_number().over(wr))
      .filter(col("rank") <= 3)
      .select(col("qid"), col("cell"), col("cid"), col("rank").cast("long").as("rank"),
        round(col("cos"), 6).as("cosine"))
      .orderBy("qid", "rank")
  }

  /** ANN quality, measured: recall@10 of the IVF probe (d07's index, one
    * cell probed) against the exact brute-force top-10 (d05's method),
    * per query. Both algorithms are deterministic integer math, so the
    * recall numbers themselves hash-match the oracle — the
    * approximation/speed tradeoff is a measured, verified quantity, not
    * a hope. */
  private val d12 = Q(
    "d12_ann_recall",
    """WITH e AS (
         SELECT vec_id,
                list_transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) * 1000000) AS BIGINT)) AS v
         FROM embeddings),
       n AS (SELECT vec_id, v, CAST(list_sum(list_transform(v, x -> x * x)) AS BIGINT) AS n2 FROM e),
       exact_pairs AS (
         SELECT q.vec_id AS qid, c.vec_id AS cid,
                CAST(list_sum(list_transform(generate_series(1, 64), i -> q.v[i] * c.v[i])) AS BIGINT)
                  / (sqrt(q.n2) * sqrt(c.n2)) AS cos
         FROM n q JOIN n c ON q.vec_id >= 10 AND q.vec_id < 25 AND c.vec_id <> q.vec_id),
       exact_top AS (
         SELECT qid, cid FROM (
           SELECT qid, cid,
                  row_number() OVER (PARTITION BY qid ORDER BY cos DESC, cid) AS rank
           FROM exact_pairs) t WHERE rank <= 10),
       cents AS (SELECT vec_id AS cent_id, v AS cv FROM e WHERE vec_id < 8),
       scored AS (
         SELECT n.vec_id, n.v, n.n2, c.cent_id,
                row_number() OVER (PARTITION BY n.vec_id
                  ORDER BY CAST(list_sum(list_transform(generate_series(1, 64), i -> n.v[i] * c.cv[i])) AS BIGINT) DESC,
                           c.cent_id) AS rn
         FROM n, cents c),
       assign AS (SELECT vec_id, v, n2, cent_id AS cell FROM scored WHERE rn = 1),
       ivf_pairs AS (
         SELECT q.vec_id AS qid, c.vec_id AS cid,
                CAST(list_sum(list_transform(generate_series(1, 64), i -> q.v[i] * c.v[i])) AS BIGINT)
                  / (sqrt(q.n2) * sqrt(c.n2)) AS cos
         FROM assign q JOIN assign c ON q.cell = c.cell AND c.vec_id <> q.vec_id
         WHERE q.vec_id >= 10 AND q.vec_id < 25),
       ivf_top AS (
         SELECT qid, cid FROM (
           SELECT qid, cid,
                  row_number() OVER (PARTITION BY qid ORDER BY cos DESC, cid) AS rank
           FROM ivf_pairs) t WHERE rank <= 10),
       overlap AS (
         SELECT e.qid, count(i.cid) AS n_overlap
         FROM exact_top e LEFT JOIN ivf_top i ON e.qid = i.qid AND e.cid = i.cid
         GROUP BY e.qid)
       SELECT qid, n_overlap, round(n_overlap / 10.0, 4) AS recall_at_10
       FROM overlap ORDER BY qid""") { (s, d) =>
    val emb = Tables.embeddings(s, d)
    val isQuery = col("vec_id") >= 10 && col("vec_id") < 25
    val exactTop = bruteForceTopK(emb, emb.filter(isQuery), 10)
      .select(col("qid"), col("cid"))
    // IVF side: same 8-centroid index as d07, k=10, one probed cell
    val e = emb.select(col("vec_id"), quantize(col("embedding")).as("v"))
      .withColumn("n2", norm2Q(col("v")))
    val cents = e.filter(col("vec_id") < 8)
      .select(col("vec_id").as("cent_id"), col("v").as("cv"))
    val wc = Window.partitionBy(col("vec_id")).orderBy(col("dot").desc, col("cent_id"))
    val assign = e.crossJoin(broadcast(cents))
      .withColumn("dot", dotQ(col("v"), col("cv")))
      .withColumn("rn", row_number().over(wc))
      .filter(col("rn") === 1)
      .select(col("vec_id"), col("v"), col("n2"), col("cent_id").as("cell"))
    val probes = assign.filter(isQuery)
      .select(col("vec_id").as("qid"), col("v").as("qv"), col("n2").as("qn2"), col("cell"))
    val wr = Window.partitionBy(col("qid")).orderBy(col("cos").desc, col("cid"))
    val ivfTop = assign.select(col("vec_id").as("cid"), col("v").as("cv2"),
        col("n2").as("cn2"), col("cell").as("ccell"))
      .join(broadcast(probes), col("ccell") === col("cell") && col("cid") =!= col("qid"))
      .withColumn("cos", dotQ(col("qv"), col("cv2")) / (sqrt(col("qn2")) * sqrt(col("cn2"))))
      .withColumn("rank", row_number().over(wr))
      .filter(col("rank") <= 10)
      .select(col("qid").as("iqid"), col("cid").as("icid"))
    exactTop
      .join(ivfTop, col("qid") === col("iqid") && col("cid") === col("icid"), "left")
      .groupBy("qid")
      .agg(count(col("icid")).as("n_overlap"))
      .select(col("qid"), col("n_overlap"),
        round(col("n_overlap") / 10.0, 4).as("recall_at_10"))
      .orderBy("qid")
  }

  /** SemDeDup-style semantic deduplication (Abbas et al. 2023): cluster
    * embeddings by nearest centroid, compare pairs ONLY within a cluster,
    * and drop all but the lowest-id member of each above-threshold pair.
    * The cluster partitioning is what makes this tractable at 100 TB —
    * pair work is Σ n_c² over cells, and k (the centroid count) is the
    * knob that bounds n_c (k ~ N / target cell size; the fixture uses the
    * d07 centroids). The 0.45 threshold is fixture-calibrated: the
    * random-Gaussian pair extreme measures 0.479/0.513/0.601 at the
    * three SFs (growing with pair count, invariant-pinned < 0.7 in
    * RoundSixSpec), so 0.45 flags only the extreme random tail here —
    * real corpora deduplicate at ~0.95+.
    * Quantized integer dots keep the threshold comparison bit-exact
    * cross-engine. Output: per-cell dedup census. */
  private val d14 = Q(
    "d14_semantic_dedup",
    """WITH e AS (
         SELECT vec_id,
                list_transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) * 1000000) AS BIGINT)) AS v
         FROM embeddings),
       n AS (SELECT vec_id, v, CAST(list_sum(list_transform(v, x -> x * x)) AS BIGINT) AS n2 FROM e),
       cents AS (SELECT vec_id AS cent_id, v AS cv FROM e WHERE vec_id < 8),
       scored AS (
         SELECT n.vec_id, n.v, n.n2, c.cent_id,
                row_number() OVER (PARTITION BY n.vec_id
                  ORDER BY CAST(list_sum(list_transform(generate_series(1, 64), i -> n.v[i] * c.cv[i])) AS BIGINT) DESC,
                           c.cent_id) AS rn
         FROM n, cents c),
       assign AS (SELECT vec_id, v, n2, cent_id AS cell FROM scored WHERE rn = 1),
       dup_pairs AS (
         SELECT a.cell, a.vec_id AS id_a, b.vec_id AS id_b
         FROM assign a JOIN assign b ON a.cell = b.cell AND a.vec_id < b.vec_id
         WHERE CAST(list_sum(list_transform(generate_series(1, 64), i -> a.v[i] * b.v[i])) AS BIGINT)
               / (sqrt(a.n2) * sqrt(b.n2)) > 0.45),
       removed AS (SELECT cell, id_b FROM dup_pairs GROUP BY cell, id_b),
       cells AS (SELECT cell, count(*) AS n_vecs FROM assign GROUP BY cell),
       pair_n AS (SELECT cell, count(*) AS n_dup_pairs FROM dup_pairs GROUP BY cell),
       rem_n AS (SELECT cell, count(*) AS n_removed FROM removed GROUP BY cell)
       SELECT c.cell AS cell, c.n_vecs,
              coalesce(p.n_dup_pairs, 0) AS n_dup_pairs,
              coalesce(r.n_removed, 0) AS n_removed,
              c.n_vecs - coalesce(r.n_removed, 0) AS n_kept
       FROM cells c
       LEFT JOIN pair_n p ON c.cell = p.cell
       LEFT JOIN rem_n r ON c.cell = r.cell
       ORDER BY c.cell""") { (s, d) =>
    val e = Tables.embeddings(s, d)
      .select(col("vec_id"), quantize(col("embedding")).as("v"))
      .withColumn("n2", norm2Q(col("v")))
    val cents = e.filter(col("vec_id") < 8)
      .select(col("vec_id").as("cent_id"), col("v").as("cv"))
    val wc = Window.partitionBy(col("vec_id")).orderBy(col("dot").desc, col("cent_id"))
    val assign = e.crossJoin(broadcast(cents))
      .withColumn("dot", dotQ(col("v"), col("cv")))
      .withColumn("rn", row_number().over(wc))
      .filter(col("rn") === 1)
      .select(col("vec_id"), col("v"), col("n2"), col("cent_id").as("cell"))
    val a = assign.select(col("cell"), col("vec_id").as("id_a"),
      col("v").as("va"), col("n2").as("na"))
    val b = assign.select(col("cell").as("cellb"), col("vec_id").as("id_b"),
      col("v").as("vb"), col("n2").as("nb"))
    val dupPairs = a.join(b, col("cell") === col("cellb") && col("id_a") < col("id_b"))
      .filter(dotQ(col("va"), col("vb")) / (sqrt(col("na")) * sqrt(col("nb"))) > 0.45)
      .select(col("cell"), col("id_a"), col("id_b"))
    val removed = dupPairs.select(col("cell"), col("id_b")).distinct()
    val cells = assign.groupBy("cell").agg(count(lit(1)).as("n_vecs"))
    val pairN = dupPairs.groupBy("cell").agg(count(lit(1)).as("n_dup_pairs"))
    val remN = removed.groupBy("cell").agg(count(lit(1)).as("n_removed"))
    cells
      .join(pairN, Seq("cell"), "left")
      .join(remN, Seq("cell"), "left")
      .select(col("cell"), col("n_vecs"),
        coalesce(col("n_dup_pairs"), lit(0L)).as("n_dup_pairs"),
        coalesce(col("n_removed"), lit(0L)).as("n_removed"),
        (col("n_vecs") - coalesce(col("n_removed"), lit(0L))).as("n_kept"))
      .orderBy("cell")
  }

  /** Hyperplane-LSH ANN, end to end: d06's 8-plane sign buckets used as
    * the probe structure at 4 planes (each query compares only against
    * SAME-BUCKET vectors — 1/16th of the corpus in expectation; measured
    * ~2% here, avg recall@10 ≈ 0.16 on the near-orthogonal Gaussian
    * fixture), with recall@10
    * against the exact brute-force top-10 measured per query, exactly as
    * d12 measures the IVF path. `n_cand` makes the touched-candidate
    * count a verified output, so the speed/recall tradeoff of the bucket
    * index is a reported quantity, not a claim. All math is quantized
    * integer → the recall numbers hash-match the oracle. */
  private val d16 = Q(
    "d16_hyperplane_ann_recall",
    """WITH e AS (
         SELECT vec_id,
                list_transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) * 1000000) AS BIGINT)) AS v
         FROM embeddings),
       n AS (SELECT vec_id, v, CAST(list_sum(list_transform(v, x -> x * x)) AS BIGINT) AS n2 FROM e),
       exact_pairs AS (
         SELECT q.vec_id AS qid, c.vec_id AS cid,
                CAST(list_sum(list_transform(generate_series(1, 64), i -> q.v[i] * c.v[i])) AS BIGINT)
                  / (sqrt(q.n2) * sqrt(c.n2)) AS cos
         FROM n q JOIN n c ON q.vec_id >= 10 AND q.vec_id < 25 AND c.vec_id <> q.vec_id),
       exact_top AS (
         SELECT qid, cid FROM (
           SELECT qid, cid,
                  row_number() OVER (PARTITION BY qid ORDER BY cos DESC, cid) AS rank
           FROM exact_pairs) t WHERE rank <= 10),
       sig AS (
         SELECT vec_id,
                array_to_string(list_transform(generate_series(0, 3), p ->
                  CASE WHEN CAST(list_sum(list_transform(generate_series(1, 64), i ->
                    v[i] * (CASE WHEN substring(md5(p || '_' || i), 1, 1)
                                 IN ('8','9','a','b','c','d','e','f')
                            THEN -1 ELSE 1 END))) AS BIGINT) >= 0
                  THEN '1' ELSE '0' END), '') AS bucket
         FROM e),
       ann_pairs AS (
         SELECT q.vec_id AS qid, c.vec_id AS cid,
                CAST(list_sum(list_transform(generate_series(1, 64), i -> qn.v[i] * cn.v[i])) AS BIGINT)
                  / (sqrt(qn.n2) * sqrt(cn.n2)) AS cos
         FROM sig q JOIN sig c ON q.bucket = c.bucket AND c.vec_id <> q.vec_id
           JOIN n qn ON qn.vec_id = q.vec_id
           JOIN n cn ON cn.vec_id = c.vec_id
         WHERE q.vec_id >= 10 AND q.vec_id < 25),
       ann_top AS (
         SELECT qid, cid FROM (
           SELECT qid, cid,
                  row_number() OVER (PARTITION BY qid ORDER BY cos DESC, cid) AS rank
           FROM ann_pairs) t WHERE rank <= 10),
       cand_n AS (SELECT qid, count(*) AS n_cand FROM ann_pairs GROUP BY qid),
       overlap AS (
         SELECT e.qid, count(i.cid) AS n_overlap
         FROM exact_top e LEFT JOIN ann_top i ON e.qid = i.qid AND e.cid = i.cid
         GROUP BY e.qid)
       SELECT o.qid, coalesce(c.n_cand, 0) AS n_cand, o.n_overlap,
              round(o.n_overlap / 10.0, 4) AS recall_at_10
       FROM overlap o LEFT JOIN cand_n c ON o.qid = c.qid
       ORDER BY o.qid""") { (s, d) =>
    val emb = Tables.embeddings(s, d)
    val isQuery = col("vec_id") >= 10 && col("vec_id") < 25
    val exactTop = bruteForceTopK(emb, emb.filter(isQuery), 10)
      .select(col("qid"), col("cid"))
    // bucketed side: signature computed once per vector, one narrow pass
    val e = emb.select(col("vec_id"), quantize(col("embedding")).as("v"))
      .withColumn("n2", norm2Q(col("v")))
      .withColumn("bucket", lshBucket(col("v"), planes = 4, dim = 64))
    val probes = e.filter(isQuery)
      .select(col("vec_id").as("qid"), col("v").as("qv"), col("n2").as("qn2"),
        col("bucket").as("qbucket"))
    // probe side is tiny → broadcast; candidates stream by, only
    // same-bucket vectors are ever scored (the 1/256 pruning claim)
    val annPairs = e.select(col("vec_id").as("cid"), col("v").as("cv"),
        col("n2").as("cn2"), col("bucket"))
      .join(broadcast(probes), col("bucket") === col("qbucket") && col("cid") =!= col("qid"))
      .withColumn("cos", dotQ(col("qv"), col("cv")) / (sqrt(col("qn2")) * sqrt(col("cn2"))))
    // scored pair set is read twice (top-k rank + candidate census) —
    // persist once rather than re-running the bucket join
    val annPairsR = Dedup.reuse(annPairs.select(col("qid"), col("cid"), col("cos")))
    val wr = Window.partitionBy(col("qid")).orderBy(col("cos").desc, col("cid"))
    val annTop = annPairsR
      .withColumn("rank", row_number().over(wr))
      .filter(col("rank") <= 10)
      .select(col("qid").as("aqid"), col("cid").as("acid"))
    val candN = annPairsR.groupBy("qid").agg(count(lit(1)).as("n_cand"))
    exactTop
      .join(annTop, col("qid") === col("aqid") && col("cid") === col("acid"), "left")
      .groupBy("qid")
      .agg(count(col("acid")).as("n_overlap"))
      .join(candN, Seq("qid"), "left")
      .select(col("qid"), coalesce(col("n_cand"), lit(0L)).as("n_cand"),
        col("n_overlap"), round(col("n_overlap") / 10.0, 4).as("recall_at_10"))
      .orderBy("qid")
  }

  /** Int8 embedding quantization with MEASURED quality — the 4× storage
    * compression a 100 TB embedding store runs (float32 → int8 + one
    * float scale per vector), with reconstruction error and cosine drift
    * as verified outputs rather than claims. Per-vector absmax scaling:
    * q_i = round(x_i/scale·127). The cosine check quantizes the
    * dequantized values to integer micro-units first (the d05 contract),
    * so every aggregation is exact integer math and the comparison is
    * bit-stable cross-engine; scale/error arithmetic is per-element fp on
    * identical doubles — no cross-row fp accumulation anywhere. */
  private val d19 = Q(
    "d19_int8_quantization",
    """WITH e AS (
         SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
         FROM embeddings WHERE vec_id < 100),
       s AS (
         SELECT vec_id, v,
                list_max(list_transform(v, x -> abs(x))) AS scale
         FROM e),
       q AS (
         SELECT vec_id, v, scale,
                list_transform(v, x -> CAST(round(x / scale * 127) AS BIGINT)) AS qv
         FROM s),
       dq AS (
         SELECT vec_id, v, scale, qv,
                list_transform(qv, x -> x * scale / 127) AS dv
         FROM q),
       err AS (
         SELECT vec_id, scale,
                list_max(list_transform(generate_series(1, 64),
                  i -> abs(v[i] - dv[i]))) AS max_abs_err,
                CAST(list_sum(list_transform(v, x -> CAST(round(x * 1000000) AS BIGINT)
                     * CAST(round(x * 1000000) AS BIGINT))) AS BIGINT) AS n2o,
                CAST(list_sum(list_transform(dv, x -> CAST(round(x * 1000000) AS BIGINT)
                     * CAST(round(x * 1000000) AS BIGINT))) AS BIGINT) AS n2d,
                CAST(list_sum(list_transform(generate_series(1, 64),
                  i -> CAST(round(v[i] * 1000000) AS BIGINT)
                     * CAST(round(dv[i] * 1000000) AS BIGINT))) AS BIGINT) AS dot
         FROM dq)
       SELECT vec_id, round(scale, 6) AS scale,
              round(max_abs_err, 6) AS max_abs_err,
              round(dot / (sqrt(n2o) * sqrt(n2d)), 6) AS cos_orig_dequant
       FROM err ORDER BY vec_id""") { (s, d) =>
    val e = Tables.embeddings(s, d).filter(col("vec_id") < 100)
      .select(col("vec_id"),
        transform(col("embedding"), x => x.cast("double")).as("v"))
    val q = e
      .withColumn("scale", array_max(transform(col("v"), x => abs(x))))
      .withColumn("qv", transform(col("v"),
        x => round(x / col("scale") * 127).cast("long")))
      .withColumn("dv", transform(col("qv"), x => x * col("scale") / 127))
    val micro = (c: Column) => transform(c, x => round(x * 1000000).cast("long"))
    q.select(col("vec_id"), col("scale"),
        array_max(zip_with(col("v"), col("dv"), (a, b) => abs(a - b))).as("max_abs_err"),
        dotQ(micro(col("v")), micro(col("v"))).as("n2o"),
        dotQ(micro(col("dv")), micro(col("dv"))).as("n2d"),
        dotQ(micro(col("v")), micro(col("dv"))).as("dot"))
      .select(col("vec_id"), round(col("scale"), 6).as("scale"),
        round(col("max_abs_err"), 6).as("max_abs_err"),
        round(col("dot") / (sqrt(col("n2o")) * sqrt(col("n2d"))), 6).as("cos_orig_dequant"))
      .orderBy("vec_id")
  }

  /** One Lloyd assignment pass against a DRIVER-HELD centroid array,
    * embedded as literals: each vector's nearest centroid (min squared L2,
    * tie on centroid id) is an `array_min` over a per-centroid struct
    * array — a pure map-side expression, NO shuffle and NO join for the
    * assignment. This is the production Spark k-means shape (centroids
    * are k×dim ≈ bytes; re-broadcasting them per iteration is free, while
    * shipping every vector through a join never is). All distance math is
    * exact integer (quantized micro-units): dist2 = n2 + c2 − 2·dot.
    * Carries (cell, dist2, dot, c2) for downstream stats. */
  private[graft] def lloydAssign(e: DataFrame, cents: Array[(Long, Array[Long])]): DataFrame = {
    val structs = cents.map { case (id, cv) =>
      val cvLit = array(cv.map(lit(_)): _*)
      val c2 = cv.map(x => x * x).sum
      val dot = dotQ(col("v"), cvLit)
      struct(
        (lit(c2) + col("n2") - lit(2L) * dot).as("dist2"),
        lit(id).as("cent_id"),
        dot.as("dot"),
        lit(c2).as("c2"))
    }
    e.withColumn("m", array_min(array(structs: _*)))
      .select(col("vec_id"), col("v"), col("n2"),
        col("m.cent_id").as("cell"), col("m.dist2").as("dist2"),
        col("m.dot").as("dot"), col("m.c2").as("c2"))
  }

  /** Distributed Lloyd k-means, `rounds` update steps from the fixed seed
    * centroids (vec_id < 8, the d07 convention): assign map-side (see
    * [[lloydAssign]]), then the centroid update as a per-(cell, dim)
    * partial-aggregable sum — posexplode shuffles only (cell, pos, long)
    * triples with map-side combine, so the exchange carries k×64 rows per
    * partition regardless of corpus size. New centroid components are
    * round(sum/count) on an EXACT integer sum (never fp `avg`, whose
    * accumulation order would ruin cross-engine parity); the tiny k×dim
    * result is collected and re-embedded as literals for the next pass —
    * the same collect-and-rebroadcast loop MLlib's KMeans runs. Returns
    * the final assignment (against the last updated centroids). */
  private[graft] def centroidUpdateDF(a: DataFrame): DataFrame =
    a.select(col("cell"), posexplode(col("v")).as(Seq("pos", "x")))
      .groupBy("cell", "pos")
      .agg(sum(col("x")).as("sx"), count(lit(1)).as("cnt"))
      .withColumn("m", round(col("sx").cast("double") / col("cnt")).cast("long"))
      .groupBy("cell")
      .agg(array_sort(collect_list(struct(col("pos"), col("m")))).as("pm"))
      .select(col("cell"), transform(col("pm"), p => p.getField("m")).as("cv"))

  private def kmeansAssign(s: org.apache.spark.sql.SparkSession, d: String,
      rounds: Int): DataFrame = {
    val e = Dedup.reuse(Tables.embeddings(s, d)
      .select(col("vec_id"), quantize(col("embedding")).as("v"))
      .withColumn("n2", norm2Q(col("v"))))
    var cents: Array[(Long, Array[Long])] = e.filter(col("vec_id") < 8)
      .select(col("vec_id"), col("v")).collect()
      .map(r => (r.getLong(0), r.getSeq[Long](1).toArray)).sortBy(_._1)
    for (_ <- 1 to rounds) {
      cents = centroidUpdateDF(lloydAssign(e, cents))
        .collect()
        .map(r => (r.getLong(0), r.getSeq[Long](1).toArray)).sortBy(_._1)
    }
    lloydAssign(e, cents)
  }

  /** Shared oracle text for the 2-round Lloyd pipeline (init = vec_id<8
    * seeds; two exact integer assignment passes with round(sum/count)
    * centroid updates between them; a3 = final assignment). DuckDB
    * evaluates the same math on the same integers, so cluster membership
    * and inertia hash-match. */
  private val lloydOracleCtes =
    """WITH e AS (
         SELECT vec_id,
                list_transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) * 1000000) AS BIGINT)) AS v
         FROM embeddings),
       n AS (SELECT vec_id, v, CAST(list_sum(list_transform(v, x -> x * x)) AS BIGINT) AS n2 FROM e),
       c0 AS (SELECT vec_id AS cent_id, v AS cv,
                     CAST(list_sum(list_transform(v, x -> x * x)) AS BIGINT) AS c2
              FROM e WHERE vec_id < 8),
       a1 AS (
         SELECT vec_id, v, cell FROM (
           SELECT n.vec_id, n.v, c.cent_id AS cell,
                  row_number() OVER (PARTITION BY n.vec_id
                    ORDER BY n.n2 + c.c2 - 2 * CAST(list_sum(list_transform(generate_series(1, 64), i -> n.v[i] * c.cv[i])) AS BIGINT) ASC,
                             c.cent_id) AS rn
           FROM n, c0 c) t WHERE rn = 1),
       u1 AS (
         SELECT cell, i, CAST(round(CAST(sum(v[i]) AS DOUBLE) / count(*)) AS BIGINT) AS m
         FROM a1 CROSS JOIN (SELECT unnest(generate_series(1, 64)) AS i) ix
         GROUP BY cell, i),
       c1 AS (
         SELECT cell AS cent_id, list(m ORDER BY i) AS cv,
                CAST(list_sum(list_transform(list(m ORDER BY i), x -> x * x)) AS BIGINT) AS c2
         FROM u1 GROUP BY cell),
       a2 AS (
         SELECT vec_id, v, cell FROM (
           SELECT n.vec_id, n.v, c.cent_id AS cell,
                  row_number() OVER (PARTITION BY n.vec_id
                    ORDER BY n.n2 + c.c2 - 2 * CAST(list_sum(list_transform(generate_series(1, 64), i -> n.v[i] * c.cv[i])) AS BIGINT) ASC,
                             c.cent_id) AS rn
           FROM n, c1 c) t WHERE rn = 1),
       u2 AS (
         SELECT cell, i, CAST(round(CAST(sum(v[i]) AS DOUBLE) / count(*)) AS BIGINT) AS m
         FROM a2 CROSS JOIN (SELECT unnest(generate_series(1, 64)) AS i) ix
         GROUP BY cell, i),
       c2t AS (
         SELECT cell AS cent_id, list(m ORDER BY i) AS cv,
                CAST(list_sum(list_transform(list(m ORDER BY i), x -> x * x)) AS BIGINT) AS c2
         FROM u2 GROUP BY cell),
       a3 AS (
         SELECT vec_id, n2, cell, dist2, dot, c2 FROM (
           SELECT n.vec_id, n.n2, c.cent_id AS cell, c.c2,
                  CAST(list_sum(list_transform(generate_series(1, 64), i -> n.v[i] * c.cv[i])) AS BIGINT) AS dot,
                  n.n2 + c.c2 - 2 * CAST(list_sum(list_transform(generate_series(1, 64), i -> n.v[i] * c.cv[i])) AS BIGINT) AS dist2,
                  row_number() OVER (PARTITION BY n.vec_id
                    ORDER BY n.n2 + c.c2 - 2 * CAST(list_sum(list_transform(generate_series(1, 64), i -> n.v[i] * c.cv[i])) AS BIGINT) ASC,
                             c.cent_id) AS rn
           FROM n, c2t c) t WHERE rn = 1)"""

  /** Distributed k-means over the embedding corpus — the clustering pass
    * a curation pipeline runs before SemDeDup (d14 consumes exactly this
    * kind of cell structure) or IVF index builds (d07's cells are its
    * 0-round special case). Two Lloyd rounds from fixed seeds; outputs
    * per-cluster membership stats and EXACT integer inertia — the
    * convergence quantity — as verified columns. */
  private val d24 = Q(
    "d24_kmeans",
    lloydOracleCtes +
      """
       SELECT cell AS cluster, count(*) AS n_vecs, min(vec_id) AS first_vec,
              CAST(sum(dist2) AS BIGINT) AS inertia
       FROM a3 GROUP BY cell ORDER BY cluster""") { (s, d) =>
    kmeansAssign(s, d, rounds = 2)
      .groupBy(col("cell").as("cluster"))
      .agg(count(lit(1)).as("n_vecs"), min(col("vec_id")).as("first_vec"),
        sum(col("dist2")).as("inertia"))
      .orderBy("cluster")
  }

  /** Cluster-representative selection — the "keep one per cluster" policy
    * step (SemDeDup keeps the member closest to the centroid; so does
    * this): per final k-means cell, the vector with minimal dist2 (tie on
    * vec_id), with its centroid cosine as a verified quality column. The
    * argmin is a `min(struct(...))` hash aggregate — map-side
    * combinable, no per-cell sort, no window. */
  private val d25 = Q(
    "d25_cluster_reps",
    lloydOracleCtes +
      """,
       rep AS (
         SELECT cell, vec_id, dot, n2, c2,
                row_number() OVER (PARTITION BY cell ORDER BY dist2 ASC, vec_id) AS rn,
                count(*) OVER (PARTITION BY cell) AS n_vecs
         FROM a3)
       SELECT cell AS cluster, vec_id AS rep_vec, n_vecs,
              round(dot / (sqrt(n2) * sqrt(c2)), 6) AS rep_cos
       FROM rep WHERE rn = 1 ORDER BY cluster""") { (s, d) =>
    kmeansAssign(s, d, rounds = 2)
      .groupBy(col("cell").as("cluster"))
      .agg(
        min(struct(col("dist2"), col("vec_id"), col("dot"), col("n2"), col("c2"))).as("r"),
        count(lit(1)).as("n_vecs"))
      .select(col("cluster"), col("r.vec_id").as("rep_vec"), col("n_vecs"),
        round(col("r.dot") / (sqrt(col("r.n2")) * sqrt(col("r.c2"))), 6).as("rep_cos"))
      .orderBy("cluster")
  }

  /** PQ codebook from the vec_id<64 seeds' subvectors: 8 subspaces × 64
    * codes, collected once (64×64 longs — index STRUCTURE, like the IVF
    * anchors, not data). Shared by d26's measured funnel and the stored
    * IVF-PQ index (d63). */
  private[graft] def pqCodebook(e: DataFrame): Array[Array[(Long, Array[Long])]] = {
    val seeds = e.filter(col("vec_id") < 64).select(col("vec_id"), col("v"))
      .collect().map(r => (r.getLong(0), r.getSeq[Long](1).toArray)).sortBy(_._1)
    Array.tabulate(8)(sub => seeds.map { case (code, v) =>
      (code, v.slice(sub * 8, sub * 8 + 8)) })
  }

  /** Subvector `sub` of the quantized vector column `v`. */
  private def pqSubCol(sub: Int): Column = slice(col("v"), sub * 8 + 1, 8)

  /** Map-side PQ encode of `col("v")`: argmin code per subspace over the
    * literal codebook (codes are the contiguous seed ids 0..63, so
    * code == position — ADC LUT lookups index on that invariant). The
    * 64-code scan stays a COMPACT HOF tree (unrolling 8×64×8 literal
    * terms makes janino spend ~40s compiling the projection — measured,
    * d26) and each per-code distance is one fused `long_l2` loop. */
  private[graft] def pqCodesCol(codebook: Array[Array[(Long, Array[Long])]]): Column =
    array((0 until 8).map { sub =>
      val cbV = typedLit(codebook(sub).map(_._2.toSeq))
      val cbI = typedLit(codebook(sub).map(_._1))
      val sv = pqSubCol(sub)
      aggregate(
        sequence(lit(0), lit(codebook(sub).length - 1)),
        struct(lit(Long.MaxValue).as("d2"), lit(Long.MaxValue).as("code")),
        (acc, j) => {
          val cv = element_at(cbV, (j + 1).cast("int"))
          val d2 = graft.functions.LongL2.long_l2(sv, cv)
          val code = element_at(cbI, (j + 1).cast("int"))
          when(d2 < acc.getField("d2"),
            struct(d2.as("d2"), code.as("code"))).otherwise(acc)
        }).getField("code")
    }: _*)

  /** Per-query ADC lookup table over `col("v")`: dist2(q_sub,
    * codebook[sub][code]) for all 8×64 entries — computed once per query
    * and broadcast with the probe batch, so each candidate costs 8 table
    * lookups instead of a 64-dim dot. */
  private[graft] def pqLutCol(codebook: Array[Array[(Long, Array[Long])]]): Column =
    array((0 until 8).map { sub =>
      val cbV = typedLit(codebook(sub).map(_._2.toSeq))
      transform(cbV, cv => graft.functions.LongL2.long_l2(pqSubCol(sub), cv))
    }: _*)

  /** Asymmetric PQ distance: the sum of 8 LUT lookups of `codes` into
    * `lut` (code == position invariant from [[pqCodesCol]]). */
  private[graft] def pqAdcCol(lut: Column, codes: Column): Column =
    (0 until 8).map(sub =>
      element_at(element_at(lut, sub + 1),
        (element_at(codes, sub + 1) + 1).cast("int"))
    ).reduce(_ + _)

  /** Product-quantization ANN with MEASURED recall (the FAISS-style PQ
    * path: 64 dims → 8 subspaces × 64 codes, codebook from the vec_id<64
    * seeds' subvectors): each vector compresses to 8 code bytes (64× vs
    * float32), queries score candidates by ASYMMETRIC distance — the
    * query precomputes its 8×16 LUT of subspace distances once, and each
    * candidate costs 8 table lookups instead of a 64-dim dot.
    *
    * This runs the full production funnel: ADC ranks the whole corpus
    * from codes alone, the top-50 candidates are RE-RANKED by exact
    * distance (the float-refine step every deployed PQ system adds), and
    * BOTH recalls — raw ADC@10 and funnel@10 — are emitted per query as
    * verified columns, so the lift the re-rank buys is itself a measured,
    * hash-checked quantity.
    *
    * Scale shape: encoding is a pure map (argmin over literal codebook
    * structs, the lloydAssign trick per subspace — no join, no shuffle);
    * the query LUTs ride a 15-row broadcast; the corpus streams once and
    * only (qid, cid, approx) longs reach the heap top-k; the exact
    * re-rank touches 50 vectors per query, not the corpus. All distance
    * math is exact integers end to end. */
  private val d26 = Q(
    "d26_pq_recall",
    """WITH e AS (
         SELECT vec_id,
                list_transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) * 1000000) AS BIGINT)) AS v
         FROM embeddings),
       subs AS (SELECT unnest(generate_series(0, 7)) AS s),
       vs AS (
         SELECT vec_id, s, list_slice(v, s * 8 + 1, s * 8 + 8) AS sv
         FROM e CROSS JOIN subs),
       cbs AS (SELECT vec_id AS code, s, sv AS cv FROM vs WHERE vec_id < 64),
       enc AS (
         SELECT vec_id, s, code FROM (
           SELECT v.vec_id, v.s, c.code,
                  row_number() OVER (PARTITION BY v.vec_id, v.s
                    ORDER BY CAST(list_sum(list_transform(generate_series(1, 8),
                               i -> (v.sv[i] - c.cv[i]) * (v.sv[i] - c.cv[i]))) AS BIGINT) ASC,
                             c.code) AS rn
           FROM vs v JOIN cbs c ON v.s = c.s) t WHERE rn = 1),
       qs AS (SELECT vec_id AS qid, s, sv FROM vs WHERE vec_id >= 10 AND vec_id < 25),
       adc AS (
         SELECT q.qid, en.vec_id AS cid,
                CAST(sum(list_sum(list_transform(generate_series(1, 8),
                  i -> (q.sv[i] - c.cv[i]) * (q.sv[i] - c.cv[i])))) AS BIGINT) AS ad
         FROM qs q
         JOIN enc en ON en.s = q.s AND en.vec_id <> q.qid
         JOIN cbs c ON c.s = en.s AND c.code = en.code
         GROUP BY q.qid, en.vec_id),
       adc_ranked AS (
         SELECT qid, cid, row_number() OVER (PARTITION BY qid ORDER BY ad ASC, cid) AS rk
         FROM adc),
       adc_top AS (SELECT qid, cid FROM adc_ranked WHERE rk <= 10),
       approx50 AS (SELECT qid, cid FROM adc_ranked WHERE rk <= 50),
       n AS (SELECT vec_id, v, CAST(list_sum(list_transform(v, x -> x * x)) AS BIGINT) AS n2 FROM e),
       exact_pairs AS (
         SELECT q.vec_id AS qid, c.vec_id AS cid,
                q.n2 + c.n2 - 2 * CAST(list_sum(list_transform(generate_series(1, 64),
                  i -> q.v[i] * c.v[i])) AS BIGINT) AS d2
         FROM n q JOIN n c ON q.vec_id >= 10 AND q.vec_id < 25 AND c.vec_id <> q.vec_id),
       exact_top AS (
         SELECT qid, cid FROM (
           SELECT qid, cid, row_number() OVER (PARTITION BY qid ORDER BY d2 ASC, cid) AS rk
           FROM exact_pairs) t WHERE rk <= 10),
       rerank_top AS (
         SELECT qid, cid FROM (
           SELECT a.qid, a.cid,
                  row_number() OVER (PARTITION BY a.qid ORDER BY p.d2 ASC, a.cid) AS rk
           FROM approx50 a JOIN exact_pairs p ON p.qid = a.qid AND p.cid = a.cid) t
         WHERE rk <= 10),
       overlap AS (
         SELECT e.qid,
                count(a.cid) AS n_overlap_adc,
                count(r.cid) AS n_overlap
         FROM exact_top e
         LEFT JOIN adc_top a ON e.qid = a.qid AND e.cid = a.cid
         LEFT JOIN rerank_top r ON e.qid = r.qid AND e.cid = r.cid
         GROUP BY e.qid)
       SELECT qid, n_overlap_adc, round(n_overlap_adc / 10.0, 4) AS recall_adc,
              n_overlap, round(n_overlap / 10.0, 4) AS recall_at_10
       FROM overlap ORDER BY qid""") { (s, d) =>
    val e = Dedup.reuse(Tables.embeddings(s, d)
      .select(col("vec_id"), quantize(col("embedding")).as("v")))
    // codebook / map-side encode / query LUTs: the shared PQ helpers
    // (pqCodebook et al. above), also driving the stored IVF-PQ index (d63)
    val codebook = pqCodebook(e)
    val encoded = e.select(col("vec_id").as("cid"), pqCodesCol(codebook).as("codes"))
    val qlut = e.filter(col("vec_id") >= 10 && col("vec_id") < 25)
      .select(col("vec_id").as("qid"), pqLutCol(codebook).as("lut"))
    val wr = Window.partitionBy(col("qid")).orderBy(col("ad").asc, col("cid"))
    // not persisted (measured, with pairsD2 below: 2.70s → 1.06s at
    // sf0.1): the encode+ADC scan is a map-side compute over the cached
    // `e`, so each consumer re-runs it concurrently inside the final job
    // — cheaper than an eager persist's extra serial job (plan pinned in
    // PlanSpec: only the `e` cache remains)
    val adcRanked = encoded.crossJoin(broadcast(qlut))
      .filter(col("cid") =!= col("qid"))
      .select(col("qid"), col("cid"), pqAdcCol(col("lut"), col("codes")).as("ad"))
      .withColumn("rk", row_number().over(wr))
      .filter(col("rk") <= 50)
      .select(col("qid"), col("cid"), col("rk"))
    val adcTop = adcRanked.filter(col("rk") <= 10).select(col("qid"), col("cid"))
    val approx50 = adcRanked.select(col("qid"), col("cid"))
    val n = e.withColumn("n2", norm2Q(col("v")))
    val q = n.filter(col("vec_id") >= 10 && col("vec_id") < 25)
      .select(col("vec_id").as("qid"), col("v").as("qv"), col("n2").as("qn2"))
    // not persisted: the exact-distance fan-out is a map-side compute
    // over the cached `e`; its two consumers re-run it (30k fused dot
    // products — cheaper than the persist's extra job + cache round-trip)
    val pairsD2 =
      n.select(col("vec_id").as("cid"), col("v").as("cv"), col("n2").as("cn2"))
        .crossJoin(broadcast(q))
        .filter(col("cid") =!= col("qid"))
        .select(col("qid"), col("cid"),
          (col("qn2") + col("cn2") - lit(2L) * dotQ(col("qv"), col("cv"))).as("d2"))
    val we = Window.partitionBy(col("qid")).orderBy(col("d2").asc, col("cid"))
    val exactTop = pairsD2
      .withColumn("rk", row_number().over(we))
      .filter(col("rk") <= 10)
      .select(col("qid").as("eqid"), col("cid").as("ecid"))
    // exact re-rank of the 50 ADC survivors (750 pairs, broadcast side)
    val rerankTop = pairsD2
      .join(broadcast(approx50), Seq("qid", "cid"))
      .withColumn("rk", row_number().over(we))
      .filter(col("rk") <= 10)
      .select(col("qid").as("rqid"), col("cid").as("rcid"))
    exactTop
      .join(adcTop,
        col("eqid") === adcTop("qid") && col("ecid") === adcTop("cid"), "left")
      .join(rerankTop,
        col("eqid") === col("rqid") && col("ecid") === col("rcid"), "left")
      .groupBy(col("eqid").as("qid"))
      .agg(count(adcTop("cid")).as("n_overlap_adc"),
        count(col("rcid")).as("n_overlap"))
      .select(col("qid"),
        col("n_overlap_adc"), round(col("n_overlap_adc") / 10.0, 4).as("recall_adc"),
        col("n_overlap"), round(col("n_overlap") / 10.0, 4).as("recall_at_10"))
      .orderBy("qid")
  }

  /** Diversified top-k (MMR, λ=0.7) — relevance alone returns near-clones
    * of each other (this corpus HAS near-dup vectors by construction);
    * the diversified ranking penalizes each candidate by its similarity
    * to everything already picked, the selection shape behind diverse
    * sample curation and dedup-aware retrieval (and the diversified
    * top-k line of work, e.g. EDBT'20 best-region search).
    *
    * Greedy MMR is sequential BY DEFINITION, so the scale design is the
    * d26 funnel: the DISTRIBUTED stage scores the corpus and keeps 12
    * candidates per query through the heap top-k; the sequential stage
    * then runs on the tiny candidate set as three unrolled argmax steps
    * over (candidate × selected) similarity joins — bounded by k² pairs
    * per query, corpus-independent. All similarities are single divides
    * of exact integer dots; selection compares those doubles identically
    * on any engine. */
  private val d29 = Q(
    "d29_diversified_topk",
    """WITH e AS (
         SELECT vec_id,
                list_transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) * 1000000) AS BIGINT)) AS v
         FROM embeddings),
       n AS (SELECT vec_id, v, CAST(list_sum(list_transform(v, x -> x * x)) AS BIGINT) AS n2 FROM e),
       q AS (SELECT vec_id AS qid, v AS qv, n2 AS qn2 FROM n WHERE vec_id >= 10 AND vec_id < 13),
       scored AS (
         SELECT q.qid, c.vec_id AS cid, c.v AS cv, c.n2 AS cn2,
                CAST(list_sum(list_transform(generate_series(1, 64), i -> q.qv[i] * c.v[i])) AS BIGINT)
                  / (sqrt(q.qn2) * sqrt(c.n2)) AS rel
         FROM q JOIN n c ON c.vec_id <> q.qid),
       cand AS (
         SELECT qid, cid, cv, cn2, rel FROM (
           SELECT qid, cid, cv, cn2, rel,
                  row_number() OVER (PARTITION BY qid ORDER BY rel DESC, cid) AS rk
           FROM scored) t WHERE rk <= 12),
       simm AS (
         SELECT a.qid, a.cid AS ca, b.cid AS cb,
                CAST(list_sum(list_transform(generate_series(1, 64), i -> a.cv[i] * b.cv[i])) AS BIGINT)
                  / (sqrt(a.cn2) * sqrt(b.cn2)) AS sim
         FROM cand a JOIN cand b ON a.qid = b.qid AND a.cid <> b.cid),
       s1 AS (
         SELECT qid, cid, rel, rel AS mmr FROM (
           SELECT qid, cid, rel,
                  row_number() OVER (PARTITION BY qid ORDER BY rel DESC, cid) AS rn
           FROM cand) t WHERE rn = 1),
       r2 AS (
         SELECT c.qid, c.cid, c.rel,
                0.7 * c.rel - 0.3 * max(m.sim) AS score
         FROM cand c
           JOIN s1 ON c.qid = s1.qid AND c.cid <> s1.cid
           JOIN simm m ON m.qid = c.qid AND m.ca = c.cid AND m.cb = s1.cid
         GROUP BY c.qid, c.cid, c.rel),
       s2 AS (
         SELECT qid, cid, rel, score AS mmr FROM (
           SELECT qid, cid, rel, score,
                  row_number() OVER (PARTITION BY qid ORDER BY score DESC, cid) AS rn
           FROM r2) t WHERE rn = 1),
       sel12 AS (SELECT qid, cid FROM s1 UNION ALL SELECT qid, cid FROM s2),
       r3 AS (
         SELECT c.qid, c.cid, c.rel,
                0.7 * c.rel - 0.3 * max(m.sim) AS score
         FROM cand c
           JOIN simm m ON m.qid = c.qid AND m.ca = c.cid
           JOIN sel12 s ON s.qid = m.qid AND s.cid = m.cb
         WHERE NOT EXISTS (SELECT 1 FROM sel12 x WHERE x.qid = c.qid AND x.cid = c.cid)
         GROUP BY c.qid, c.cid, c.rel),
       s3 AS (
         SELECT qid, cid, rel, score AS mmr FROM (
           SELECT qid, cid, rel, score,
                  row_number() OVER (PARTITION BY qid ORDER BY score DESC, cid) AS rn
           FROM r3) t WHERE rn = 1),
       out AS (
         SELECT qid, 1 AS pick, cid, rel, mmr FROM s1
         UNION ALL SELECT qid, 2, cid, rel, mmr FROM s2
         UNION ALL SELECT qid, 3, cid, rel, mmr FROM s3)
       SELECT qid, CAST(pick AS BIGINT) AS pick, cid,
              round(rel, 6) AS rel, round(mmr, 6) AS mmr
       FROM out ORDER BY qid, pick""") { (s, d) =>
    val n = Dedup.reuse(Tables.embeddings(s, d)
      .select(col("vec_id"), quantize(col("embedding")).as("v"))
      .withColumn("n2", norm2Q(col("v"))))
    val q = n.filter(col("vec_id") >= 10 && col("vec_id") < 13)
      .select(col("vec_id").as("qid"), col("v").as("qv"), col("n2").as("qn2"))
    val wr = Window.partitionBy(col("qid")).orderBy(col("rel").desc, col("cid"))
    val cand = Dedup.reuse(n
      .select(col("vec_id").as("cid"), col("v").as("cv"), col("n2").as("cn2"))
      .crossJoin(broadcast(q))
      .filter(col("cid") =!= col("qid"))
      .select(col("qid"), col("cid"), col("cv"), col("cn2"),
        (dotQ(col("qv"), col("cv")) / (sqrt(col("qn2")) * sqrt(col("cn2")))).as("rel"))
      .withColumn("rk", row_number().over(wr))
      .filter(col("rk") <= 12)
      .select(col("qid"), col("cid"), col("cv"), col("cn2"), col("rel")))
    val simm = Dedup.reuse(cand.as("a")
      .join(cand.as("b"),
        col("a.qid") === col("b.qid") && col("a.cid") =!= col("b.cid"))
      .select(col("a.qid").as("qid"), col("a.cid").as("ca"), col("b.cid").as("cb"),
        (dotQ(col("a.cv"), col("b.cv")) / (sqrt(col("a.cn2")) * sqrt(col("b.cn2"))))
          .as("sim")))
    def argmax(df: DataFrame, scoreCol: String): DataFrame = {
      val w = Window.partitionBy(col("qid")).orderBy(col(scoreCol).desc, col("cid"))
      df.withColumn("rn", row_number().over(w)).filter(col("rn") === 1).drop("rn")
    }
    val s1 = argmax(cand.select(col("qid"), col("cid"), col("rel")), "rel")
      .withColumn("mmr", col("rel"))
    def mmrStep(selected: DataFrame): DataFrame = {
      val rem = cand.select(col("qid"), col("cid"), col("rel"))
        .join(selected.select(col("qid"), col("cid")), Seq("qid", "cid"), "left_anti")
      val scored = rem
        .join(simm.join(selected.select(col("qid"), col("cid").as("cb")), Seq("qid", "cb"))
            .groupBy(col("qid"), col("ca").as("cid")).agg(max(col("sim")).as("msim")),
          Seq("qid", "cid"))
        .select(col("qid"), col("cid"), col("rel"),
          (lit(0.7) * col("rel") - lit(0.3) * col("msim")).as("score"))
      argmax(scored, "score").withColumn("mmr", col("score")).drop("score")
    }
    val s2 = mmrStep(s1)
    val s3 = mmrStep(s1.select(col("qid"), col("cid"))
      .unionAll(s2.select(col("qid"), col("cid"))))
    s1.withColumn("pick", lit(1L))
      .unionByName(s2.withColumn("pick", lit(2L)))
      .unionByName(s3.withColumn("pick", lit(3L)))
      .select(col("qid"), col("pick"), col("cid"),
        round(col("rel"), 6).as("rel"), round(col("mmr"), 6).as("mmr"))
      .orderBy("qid", "pick")
  }

  /** Truncated-dimension retrieval quality (the Matryoshka/MRL question:
    * how much ranking survives keeping only the first 16 of 64 dims —
    * a 4× index shrink): exact cosine top-10 under the truncated
    * representation vs the full-dimension top-10, recall@10 per query as
    * a verified column, alongside the truncated norm share (how much of
    * the vector's energy the prefix carries). Same funnel economics as
    * d26 — a production system retrieves with the cheap prefix and
    * re-ranks survivors at full width; this measures exactly what that
    * first stage loses. One corpus pass per width, queries broadcast,
    * heap top-k ranking, exact integer dots throughout. */
  private val d30 = Q(
    "d30_matryoshka_recall",
    """WITH e AS (
         SELECT vec_id,
                list_transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) * 1000000) AS BIGINT)) AS v
         FROM embeddings),
       n AS (
         SELECT vec_id, v,
                CAST(list_sum(list_transform(v, x -> x * x)) AS BIGINT) AS n2,
                list_slice(v, 1, 16) AS t,
                CAST(list_sum(list_transform(list_slice(v, 1, 16), x -> x * x)) AS BIGINT) AS t2
         FROM e),
       full_pairs AS (
         SELECT q.vec_id AS qid, c.vec_id AS cid,
                CAST(list_sum(list_transform(generate_series(1, 64), i -> q.v[i] * c.v[i])) AS BIGINT)
                  / (sqrt(q.n2) * sqrt(c.n2)) AS cos
         FROM n q JOIN n c ON q.vec_id >= 10 AND q.vec_id < 25 AND c.vec_id <> q.vec_id),
       full_top AS (
         SELECT qid, cid FROM (
           SELECT qid, cid, row_number() OVER (PARTITION BY qid ORDER BY cos DESC, cid) AS rk
           FROM full_pairs) x WHERE rk <= 10),
       trunc_pairs AS (
         SELECT q.vec_id AS qid, c.vec_id AS cid,
                CAST(list_sum(list_transform(generate_series(1, 16), i -> q.t[i] * c.t[i])) AS BIGINT)
                  / (sqrt(q.t2) * sqrt(c.t2)) AS cos
         FROM n q JOIN n c ON q.vec_id >= 10 AND q.vec_id < 25 AND c.vec_id <> q.vec_id),
       trunc_top AS (
         SELECT qid, cid FROM (
           SELECT qid, cid, row_number() OVER (PARTITION BY qid ORDER BY cos DESC, cid) AS rk
           FROM trunc_pairs) x WHERE rk <= 10),
       overlap AS (
         SELECT f.qid, count(t.cid) AS n_overlap
         FROM full_top f LEFT JOIN trunc_top t ON f.qid = t.qid AND f.cid = t.cid
         GROUP BY f.qid)
       SELECT o.qid, o.n_overlap, round(o.n_overlap / 10.0, 4) AS recall_at_10,
              round(sqrt(CAST(n.t2 AS DOUBLE) / n.n2), 4) AS norm_share
       FROM overlap o JOIN n ON n.vec_id = o.qid
       ORDER BY o.qid""") { (s, d) =>
    val n = Dedup.reuse(Tables.embeddings(s, d)
      .select(col("vec_id"), quantize(col("embedding")).as("v"))
      .withColumn("n2", norm2Q(col("v")))
      .withColumn("t", slice(col("v"), 1, 16))
      .withColumn("t2", dotQ(col("t"), col("t"))))
    def topOf(vCol: String, nCol: String): DataFrame = {
      val q = n.filter(col("vec_id") >= 10 && col("vec_id") < 25)
        .select(col("vec_id").as("qid"), col(vCol).as("qv"), col(nCol).as("qn"))
      val w = Window.partitionBy(col("qid")).orderBy(col("cos").desc, col("cid"))
      n.select(col("vec_id").as("cid"), col(vCol).as("cv"), col(nCol).as("cn"))
        .crossJoin(broadcast(q))
        .filter(col("cid") =!= col("qid"))
        .select(col("qid"), col("cid"),
          (dotQ(col("qv"), col("cv")) / (sqrt(col("qn")) * sqrt(col("cn")))).as("cos"))
        .withColumn("rk", row_number().over(w))
        .filter(col("rk") <= 10)
        .select(col("qid"), col("cid"))
    }
    val fullTop = topOf("v", "n2")
    val truncTop = topOf("t", "t2").select(col("qid").as("tqid"), col("cid").as("tcid"))
    fullTop
      .join(truncTop,
        col("qid") === col("tqid") && col("cid") === col("tcid"), "left")
      .groupBy("qid")
      .agg(count(col("tcid")).as("n_overlap"))
      .join(n.select(col("vec_id"), col("n2"), col("t2")),
        col("qid") === col("vec_id"))
      .select(col("qid"), col("n_overlap"),
        round(col("n_overlap") / 10.0, 4).as("recall_at_10"),
        round(sqrt(col("t2").cast("double") / col("n2")), 4).as("norm_share"))
      .orderBy("qid")
  }

  /** Dot-max IVF cell assignment against the fixed vec_id<numCents seed
    * centroids (the d07 convention at numCents=8): quantized corpus ×
    * broadcast centroids, argmax dot with cent_id tiebreak. Map-side but
    * for the tiny centroid broadcast; returns (vec_id, v, n2, cell). */
  private[graft] def ivfAssign(e: DataFrame, numCents: Int = 8): DataFrame =
    ivfAssignAgainst(e, e.filter(col("vec_id") < numCents)
      .select(col("vec_id").as("cent_id"), col("v").as("cv")))

  /** Cell assignment against an EXPLICIT centroid frame — the form an
    * ingest batch needs: arriving vectors are assigned against the
    * index's fixed anchors (which the batch itself does not contain).
    * `cents` columns: (cent_id, cv). */
  private[graft] def ivfAssignAgainst(e: DataFrame, cents: DataFrame): DataFrame = {
    val wc = Window.partitionBy(col("vec_id")).orderBy(col("dot").desc, col("cent_id"))
    e.crossJoin(broadcast(cents))
      .withColumn("dot", dotQ(col("v"), col("cv")))
      .withColumn("rn", row_number().over(wc))
      .filter(col("rn") === 1)
      .select(col("vec_id"), col("v"), col("n2"), col("cent_id").as("cell"))
  }

  /** Cell-blocked kNN edge list (src, rank, nbr, cos): each vector's
    * top-k cosine neighbors within its IVF cell. `numCents` is THE scale
    * knob — in-cell pair work is Σn_c², so cells must grow with the
    * corpus to keep cell population (and per-vector candidate cost)
    * constant; BENCH_SCALE_r06.json's `knn_cells_knob` measured that (8
    * cells at 10× corpus go quadratic, 10× cells restore the ratio).
    * Parametric so probes can exercise the knob; d32 pins (8, 3). */
  private[graft] def knnEdges(e0: DataFrame, numCents: Int, k: Int): DataFrame = {
    graft.Engine.install(e0.sparkSession)
    val assign = Dedup.reuse(ivfAssign(e0, numCents))
    val wr = Window.partitionBy(col("src")).orderBy(col("cos").desc, col("nbr"))
    assign.select(col("vec_id").as("src"), col("v").as("qv"),
        col("n2").as("qn2"), col("cell"))
      .join(assign.select(col("vec_id").as("nbr"), col("v").as("cv2"),
        col("n2").as("cn2"), col("cell").as("ccell")),
        col("ccell") === col("cell") && col("nbr") =!= col("src"))
      .withColumn("cos", dotQ(col("qv"), col("cv2")) / (sqrt(col("qn2")) * sqrt(col("cn2"))))
      .withColumn("rank", row_number().over(wr))
      .filter(col("rank") <= k)
      .select(col("src"), col("rank"), col("nbr"), col("cos"))
  }

  /** Mutual-kNN graph over the whole embedding corpus — the graph every
    * density/dataset-cartography step (clustering, outlier pruning,
    * graph-based dedup) consumes: each vector's top-3 cosine neighbors
    * WITHIN its IVF cell, with a `mutual` flag marking edges present in
    * both directions (mutual-kNN edges are the high-precision subset).
    *
    * Scale shape: the candidate join is cell-blocked (Σ n_c² pair work,
    * never corpus²) — the centroid count is the parallelism/recall knob,
    * 8 here by the fixture convention, thousands at 100 TB. Ranking
    * rides the heap top-k operator (no full sort of scored pairs), and
    * the mutuality check joins the 3N-row edge list against itself
    * reversed — ids only, no vectors. */
  private val d32 = Q(
    "d32_knn_graph",
    """WITH e AS (
         SELECT vec_id,
                list_transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) * 1000000) AS BIGINT)) AS v
         FROM embeddings),
       n AS (SELECT vec_id, v, CAST(list_sum(list_transform(v, x -> x * x)) AS BIGINT) AS n2 FROM e),
       cents AS (SELECT vec_id AS cent_id, v AS cv FROM e WHERE vec_id < 8),
       scored AS (
         SELECT n.vec_id, n.v, n.n2, c.cent_id,
                row_number() OVER (PARTITION BY n.vec_id
                  ORDER BY CAST(list_sum(list_transform(generate_series(1, 64), i -> n.v[i] * c.cv[i])) AS BIGINT) DESC,
                           c.cent_id) AS rn
         FROM n, cents c),
       assign AS (SELECT vec_id, v, n2, cent_id AS cell FROM scored WHERE rn = 1),
       pairs AS (
         SELECT q.vec_id AS src, c.vec_id AS nbr,
                CAST(list_sum(list_transform(generate_series(1, 64), i -> q.v[i] * c.v[i])) AS BIGINT)
                  / (sqrt(q.n2) * sqrt(c.n2)) AS cos
         FROM assign q JOIN assign c ON q.cell = c.cell AND c.vec_id <> q.vec_id),
       top3 AS (
         SELECT src, nbr, cos, rank FROM (
           SELECT src, nbr, cos,
                  row_number() OVER (PARTITION BY src ORDER BY cos DESC, nbr) AS rank
           FROM pairs) t WHERE rank <= 3)
       SELECT a.src AS vec_id, a.rank AS rank, a.nbr AS nbr_id,
              round(a.cos, 6) AS cosine,
              (b.src IS NOT NULL) AS mutual
       FROM top3 a LEFT JOIN top3 b ON b.src = a.nbr AND b.nbr = a.src
       ORDER BY vec_id, rank""") { (s, d) =>
    val e = Dedup.reuse(Tables.embeddings(s, d)
      .select(col("vec_id"), quantize(col("embedding")).as("v"))
      .withColumn("n2", norm2Q(col("v"))))
    val top3 = Dedup.reuse(knnEdges(e, numCents = 8, k = 3))
    top3
      .join(top3.select(col("src").as("rsrc"), col("nbr").as("rnbr")),
        col("rsrc") === col("nbr") && col("rnbr") === col("src"), "left")
      .select(col("src").as("vec_id"), col("rank").cast("long").as("rank"),
        col("nbr").as("nbr_id"), round(col("cos"), 6).as("cosine"),
        col("rsrc").isNotNull.as("mutual"))
      .orderBy("vec_id", "rank")
  }

  /** IVF probe against a STORED index — the vector sibling of d21's
    * stored band index: the cell-assigned corpus (id, vector, norm,
    * cell) is written ONCE as a parquet table bucketed on `cell`, and
    * queries probe it by joining on their assigned cell. Because the
    * table's bucketing matches the join key, the index side satisfies
    * the join's distribution straight from its file layout — no
    * exchange, no re-derivation per batch (the production form: build
    * the index in the ingest job, probe it from every search job).
    * Output contract (and oracle) identical to d07, which re-derives
    * the same index in-query. */
  private val d33 = Q(
    "d33_stored_ivf_topk",
    """WITH e AS (
         SELECT vec_id,
                list_transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) * 1000000) AS BIGINT)) AS v
         FROM embeddings),
       n AS (SELECT vec_id, v, CAST(list_sum(list_transform(v, x -> x * x)) AS BIGINT) AS n2 FROM e),
       cents AS (SELECT vec_id AS cent_id, v AS cv FROM e WHERE vec_id < 8),
       scored AS (
         SELECT n.vec_id, n.v, n.n2, c.cent_id,
                CAST(list_sum(list_transform(generate_series(1, 64), i -> n.v[i] * c.cv[i])) AS BIGINT) AS dot,
                row_number() OVER (PARTITION BY n.vec_id
                  ORDER BY CAST(list_sum(list_transform(generate_series(1, 64), i -> n.v[i] * c.cv[i])) AS BIGINT) DESC,
                           c.cent_id) AS rn
         FROM n, cents c),
       assign AS (SELECT vec_id, v, n2, cent_id AS cell FROM scored WHERE rn = 1),
       probes AS (
         SELECT q.vec_id AS qid, q.cell, c.vec_id AS cid,
                CAST(list_sum(list_transform(generate_series(1, 64), i -> q.v[i] * c.v[i])) AS BIGINT)
                  / (sqrt(q.n2) * sqrt(c.n2)) AS cos
         FROM assign q JOIN assign c ON q.cell = c.cell AND c.vec_id <> q.vec_id
         WHERE q.vec_id >= 10 AND q.vec_id < 15),
       ranked AS (
         SELECT qid, cell, cid, cos,
                row_number() OVER (PARTITION BY qid ORDER BY cos DESC, cid) AS rank
         FROM probes)
       SELECT qid, cell, cid, rank, round(cos, 6) AS cosine
       FROM ranked WHERE rank <= 3 ORDER BY qid, rank""") { (s, d) =>
    val e = Tables.embeddings(s, d)
      .select(col("vec_id"), quantize(col("embedding")).as("v"))
      .withColumn("n2", norm2Q(col("v")))
    val assign = Dedup.reuse(ivfAssign(e))
    // index build: paid once per corpus, maintained at ingest (d60's
    // append path). Table name derives from the per-run Scratch dir so
    // concurrent sessions sharing a metastore never collide.
    val indexTable = writeIvfIndex(s, assign, "ivf_index")
    probeIvfTopK(s, indexTable,
      asProbes(assign.filter(col("vec_id") >= 10 && col("vec_id") < 15)), k = 3)
      .orderBy("qid", "rank")
  }

  /** Multi-probe IVF operating curve — the nprobe tuning sweep (d27's
    * threshold-curve pattern applied to the ANN surface): recall@10 vs
    * the exact top-10 for nprobe ∈ {1, 2, 4} probed cells, per query,
    * all hash-verified. nprobe=1 is d12's single-cell probe; the sweep
    * measures what each extra cell buys — the number an index operator
    * reads before picking the latency/recall point, instead of
    * guessing.
    *
    * Scale shape: the cell ranking is query-side-only (queries ×
    * centroids, broadcast); the candidate join fans each query to at
    * most 4 cells' members (probe rows broadcast, corpus assignment
    * scanned once); ranking rides the heap top-k operator per
    * (nprobe, query) group. */
  private val d35 = Q(
    "d35_ivf_probe_sweep",
    """WITH e AS (
         SELECT vec_id,
                list_transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) * 1000000) AS BIGINT)) AS v
         FROM embeddings),
       n AS (SELECT vec_id, v, CAST(list_sum(list_transform(v, x -> x * x)) AS BIGINT) AS n2 FROM e),
       cents AS (SELECT vec_id AS cent_id, v AS cv FROM e WHERE vec_id < 8),
       scored AS (
         SELECT n.vec_id, n.v, n.n2, c.cent_id,
                row_number() OVER (PARTITION BY n.vec_id
                  ORDER BY CAST(list_sum(list_transform(generate_series(1, 64), i -> n.v[i] * c.cv[i])) AS BIGINT) DESC,
                           c.cent_id) AS rn
         FROM n, cents c),
       assign AS (SELECT vec_id, v, n2, cent_id AS cell FROM scored WHERE rn = 1),
       cellrank AS (
         SELECT vec_id AS qid, cent_id AS cell, rn AS cr
         FROM scored WHERE vec_id >= 10 AND vec_id < 25 AND rn <= 4),
       probes AS (SELECT * FROM (VALUES (1), (2), (4)) AS t(nprobe)),
       cand AS (
         SELECT p.nprobe, cr.qid, a.vec_id AS cid,
                CAST(list_sum(list_transform(generate_series(1, 64), i -> q.v[i] * a.v[i])) AS BIGINT)
                  / (sqrt(q.n2) * sqrt(a.n2)) AS cos
         FROM cellrank cr
           JOIN probes p ON cr.cr <= p.nprobe
           JOIN assign a ON a.cell = cr.cell AND a.vec_id <> cr.qid
           JOIN n q ON q.vec_id = cr.qid),
       ivf_top AS (
         SELECT nprobe, qid, cid FROM (
           SELECT nprobe, qid, cid,
                  row_number() OVER (PARTITION BY nprobe, qid
                    ORDER BY cos DESC, cid) AS rank
           FROM cand) t WHERE rank <= 10),
       exact_pairs AS (
         SELECT q.vec_id AS qid, c.vec_id AS cid,
                CAST(list_sum(list_transform(generate_series(1, 64), i -> q.v[i] * c.v[i])) AS BIGINT)
                  / (sqrt(q.n2) * sqrt(c.n2)) AS cos
         FROM n q JOIN n c ON q.vec_id >= 10 AND q.vec_id < 25 AND c.vec_id <> q.vec_id),
       exact_top AS (
         SELECT qid, cid FROM (
           SELECT qid, cid,
                  row_number() OVER (PARTITION BY qid ORDER BY cos DESC, cid) AS rank
           FROM exact_pairs) t WHERE rank <= 10),
       overlap AS (
         SELECT p.nprobe, e.qid, count(i.cid) AS n_overlap
         FROM exact_top e CROSS JOIN probes p
           LEFT JOIN ivf_top i
             ON i.nprobe = p.nprobe AND i.qid = e.qid AND i.cid = e.cid
         GROUP BY p.nprobe, e.qid)
       SELECT nprobe, qid, n_overlap,
              round(n_overlap / 10.0, 4) AS recall_at_10
       FROM overlap ORDER BY nprobe, qid""") { (s, d) =>
    val emb = Tables.embeddings(s, d)
    val isQuery = col("vec_id") >= 10 && col("vec_id") < 25
    val e = Dedup.reuse(emb
      .select(col("vec_id"), quantize(col("embedding")).as("v"))
      .withColumn("n2", norm2Q(col("v"))))
    val cents = e.filter(col("vec_id") < 8)
      .select(col("vec_id").as("cent_id"), col("v").as("cv"))
    // per-vector cell ranking: one pass serves both the corpus
    // assignment (rank 1) and the query probe sets (ranks 1..4)
    val wc = Window.partitionBy(col("vec_id")).orderBy(col("dot").desc, col("cent_id"))
    val scored = Dedup.reuse(e.crossJoin(broadcast(cents))
      .withColumn("dot", dotQ(col("v"), col("cv")))
      .withColumn("rn", row_number().over(wc)))
    val assign = scored.filter(col("rn") === 1)
      .select(col("vec_id"), col("v"), col("n2"), col("cent_id").as("cell"))
    val probeSets = scored.filter(isQuery && col("rn") <= 4)
      .select(col("vec_id").as("qid"), col("cent_id").as("qcell"), col("rn").as("cr"),
        col("v").as("qv"), col("n2").as("qn2"))
      .select(col("*"), explode(array(lit(1), lit(2), lit(4))).as("nprobe"))
      .filter(col("cr") <= col("nprobe"))
    val wr = Window.partitionBy(col("nprobe"), col("qid"))
      .orderBy(col("cos").desc, col("cid"))
    val ivfTop = assign
      .select(col("vec_id").as("cid"), col("v").as("cv2"), col("n2").as("cn2"),
        col("cell"))
      .join(broadcast(probeSets), col("cell") === col("qcell") && col("cid") =!= col("qid"))
      .withColumn("cos", dotQ(col("qv"), col("cv2")) / (sqrt(col("qn2")) * sqrt(col("cn2"))))
      .withColumn("rank", row_number().over(wr))
      .filter(col("rank") <= 10)
      .select(col("nprobe").as("inprobe"), col("qid").as("iqid"), col("cid").as("icid"))
    val exactTop = bruteForceTopK(emb, emb.filter(isQuery), 10)
      .select(col("qid"), col("cid"))
    exactTop
      .select(col("*"), explode(array(lit(1), lit(2), lit(4))).as("nprobe"))
      .join(ivfTop,
        col("inprobe") === col("nprobe") && col("iqid") === col("qid")
          && col("icid") === col("cid"), "left")
      .groupBy("nprobe", "qid")
      .agg(count(col("icid")).as("n_overlap"))
      .select(col("nprobe"), col("qid"), col("n_overlap"),
        round(col("n_overlap") / 10.0, 4).as("recall_at_10"))
      .orderBy("nprobe", "qid")
  }

  /** Hard-negative mining — the contrastive-training selection rule:
    * for each query vector, the top-5 MOST similar candidates that are
    * NOT semantic duplicates (cos < 0.30, the aggressive-dedup operating
    * point; fixture-calibrated so the gate provably excludes candidates
    * at every SF — `n_excluded` reports how many near-dups each query's
    * negative pool dropped). Similar-but-not-duplicate is exactly what
    * a contrastive loss wants as negatives: excluding dups prevents
    * false negatives (same content labeled "different"), and ranking by
    * similarity keeps the negatives hard.
    *
    * Scale shape: d05's brute machinery — the query side broadcast,
    * exact integer dot products via `long_dot`, the dup gate and the
    * exclusion census map-side, top-5 via the heap top-k rewrite. The
    * scale path swaps the scan for d07/d33's IVF candidates unchanged
    * (the gate composes with any candidate generator). */
  private val d40 = Q(
    "d40_hard_negatives",
    """WITH e AS (
         SELECT vec_id,
                list_transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) * 1000000) AS BIGINT)) AS v
         FROM embeddings),
       n AS (
         SELECT vec_id, v, CAST(list_sum(list_transform(v, x -> x * x)) AS BIGINT) AS n2
         FROM e),
       pairs AS (
         SELECT q.vec_id AS qid, c.vec_id AS cid,
                CAST(list_sum(list_transform(generate_series(1, 64), i -> q.v[i] * c.v[i])) AS BIGINT)
                  / (sqrt(q.n2) * sqrt(c.n2)) AS cos
         FROM n q JOIN n c ON q.vec_id < 10 AND c.vec_id <> q.vec_id),
       exc AS (
         SELECT qid, count(*) FILTER (cos >= 0.30) AS n_excluded FROM pairs
         GROUP BY qid),
       ranked AS (
         SELECT qid, cid, cos,
                row_number() OVER (PARTITION BY qid ORDER BY cos DESC, cid) AS rank
         FROM pairs WHERE cos < 0.30)
       SELECT r.qid, r.cid, r.rank, round(r.cos, 6) AS cosine, e.n_excluded
       FROM ranked r JOIN exc e ON r.qid = e.qid
       WHERE r.rank <= 5
       ORDER BY r.qid, r.rank""") { (s, d) =>
    val emb = Tables.embeddings(s, d)
    val c = emb.select(col("vec_id").as("cid"), quantize(col("embedding")).as("cv"))
      .withColumn("cn", norm2Q(col("cv")))
    val q = emb.filter(col("vec_id") < 10)
      .select(col("vec_id").as("qid"), quantize(col("embedding")).as("qv"))
      .withColumn("qn", norm2Q(col("qv")))
    val scored = graft.ops.Dedup.reuse(c.crossJoin(broadcast(q))
      .filter(col("cid") =!= col("qid"))
      .withColumn("cos", dotQ(col("qv"), col("cv")) / (sqrt(col("qn")) * sqrt(col("cn"))))
      .select(col("qid"), col("cid"), col("cos")))
    val exc = scored.groupBy("qid")
      .agg(sum(when(col("cos") >= 0.30, 1L).otherwise(0L)).as("n_excluded"))
    val w = Window.partitionBy(col("qid")).orderBy(col("cos").desc, col("cid"))
    scored.filter(col("cos") < 0.30)
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= 5)
      .join(broadcast(exc), "qid")
      .select(col("qid"), col("cid"), col("rank").cast("long").as("rank"),
        round(col("cos"), 6).as("cosine"), col("n_excluded"))
      .orderBy("qid", "rank")
  }

  /** Clustering-quality evaluation against ground-truth labels — the
    * "did k-means find real structure?" check that gates every
    * cluster-driven curation decision (SemDeDup keep-one-per-cluster,
    * cluster-balanced sampling, d38 leakage-free splits). Two metrics
    * over the d24 assignment × the fixture's `label` column:
    * PURITY (Σ_cluster majority-label count / n — the interpretable
    * number) and ADJUSTED RAND INDEX (pair-counting agreement corrected
    * for chance — the number that doesn't inflate with k). Both are
    * INTEGER-EXACT until one final division: the contingency table is
    * exact counts, every C(x,2) is an even integer product `div` 2, and
    * the ARI numerator/denominator follow the same fixed double-op
    * sequence in both engines (products of exact integers < 2^53 are
    * exact in doubles at any realistic label cardinality; a 100 TB run
    * evaluates on a uniform sample anyway — pair counts grow O(n²)).
    *
    * Scale shape: the corpus collapses to the k×L contingency table in
    * ONE map-side-combined hash agg (k·L rows — bytes, not data); the
    * three census frames that fold it to one row broadcast. Nothing
    * after the first agg ever touches a vector. */
  private val d52 = Q(
    "d52_cluster_quality",
    lloydOracleCtes +
      """,
       ct AS (
         SELECT a3.cell, e2.label, count(*) AS nij
         FROM a3 JOIN embeddings e2 ON e2.vec_id = a3.vec_id
         GROUP BY 1, 2),
       rws AS (SELECT cell, CAST(sum(nij) AS BIGINT) AS ai,
                      CAST(max(nij) AS BIGINT) AS maj FROM ct GROUP BY 1),
       cls AS (SELECT label, CAST(sum(nij) AS BIGINT) AS bj FROM ct GROUP BY 1),
       tot AS (SELECT CAST(sum(nij) AS BIGINT) AS n,
                      CAST(sum((nij * (nij - 1)) // 2) AS BIGINT) AS sij,
                      CAST(count(*) AS BIGINT) AS n_cells FROM ct),
       sa AS (SELECT CAST(sum((ai * (ai - 1)) // 2) AS BIGINT) AS s_a,
                     CAST(sum(maj) AS BIGINT) AS majsum,
                     CAST(count(*) AS BIGINT) AS n_clusters FROM rws),
       sb AS (SELECT CAST(sum((bj * (bj - 1)) // 2) AS BIGINT) AS s_b,
                     CAST(count(*) AS BIGINT) AS n_labels FROM cls)
       SELECT n, n_clusters, n_labels, majsum,
              round(majsum * 1.0 / n, 4) AS purity,
              CASE WHEN (s_a + s_b) * ((n * (n - 1)) // 2) = 2 * s_a * s_b
                   THEN 1.0
                   ELSE round((sij - s_a * 1.0 * s_b / ((n * (n - 1)) // 2))
                        / (0.5 * (s_a + s_b) - s_a * 1.0 * s_b / ((n * (n - 1)) // 2)), 4)
              END AS ari
       FROM tot, sa, sb ORDER BY n""") { (s, d) =>
    val assign = kmeansAssign(s, d, rounds = 2).select("vec_id", "cell")
    val lab = Tables.embeddings(s, d).select(col("vec_id"), col("label"))
    val ct = Dedup.reuse(assign.join(lab, "vec_id")
      .groupBy("cell", "label").agg(count(lit(1)).as("nij")))
    val rws = ct.groupBy("cell").agg(sum("nij").as("ai"), max("nij").as("maj"))
    val tot = ct.agg(sum("nij").as("n"),
      sum(expr("(nij * (nij - 1)) div 2")).as("sij"),
      count(lit(1)).as("n_cells"))
    val sa = rws.agg(sum(expr("(ai * (ai - 1)) div 2")).as("s_a"),
      sum("maj").as("majsum"), count(lit(1)).as("n_clusters"))
    val sb = ct.groupBy("label").agg(sum("nij").as("bj"))
      .agg(sum(expr("(bj * (bj - 1)) div 2")).as("s_b"),
        count(lit(1)).as("n_labels"))
    // ARI's chance-corrected denominator is exactly 0 in the degenerate
    // expected==max case (e.g. one cluster and one label); resolve to the
    // conventional 1.0 on an INTEGER condition (t49's kappa discipline),
    // never a float compare.
    tot.crossJoin(broadcast(sa)).crossJoin(broadcast(sb))
      .select(col("n"), col("n_clusters"), col("n_labels"), col("majsum"),
        round(col("majsum") * lit(1.0) / col("n"), 4).as("purity"),
        when((col("s_a") + col("s_b")) * expr("(n * (n - 1)) div 2")
            === lit(2L) * col("s_a") * col("s_b"), lit(1.0))
          .otherwise(
            round((col("sij") - lit(1.0) * col("s_a") * col("s_b") / expr("(n * (n - 1)) div 2"))
              / (lit(0.5) * (col("s_a") + col("s_b"))
                - lit(1.0) * col("s_a") * col("s_b") / expr("(n * (n - 1)) div 2")), 4))
          .as("ari"))
      .orderBy("n")
  }

  // ============== stored IVF index lifecycle (d33/d59/d60/s34) ==============
  // Both tiers are bucketed on `cell` ([[BucketedStore]]). `at` replaces
  // the tag's self-deleting scratch dir with a caller-owned (table, path)
  // for a generation that must outlive this JVM (a cross-process handle).

  /** Write a cell-assigned corpus ([[ivfAssign]] output) as the stored
    * IVF index — the vector sibling of [[Dedup.writeBandIndex]]. Paid
    * once per corpus; maintained at ingest via [[appendIvfIndex]].
    * Returns the table name — the handle a catalog publishes. */
  def writeIvfIndex(s: org.apache.spark.sql.SparkSession,
      assign: DataFrame, tag: String, nBuckets: Int = 8,
      at: Option[(String, String)] = None): String = {
    val (table, path) = at.getOrElse(BucketedStore.location(tag, "ivf_index"))
    BucketedStore.write(ivfRows(assign), "cell", nBuckets, table, path)
  }

  /** d73 — re-layout a stored IVF index at a NEW cell count: centroids
    * are the stored generation's vectors with `cid < numCents` (the
    * d07/d59 seed convention, now sourced from the STORE — a migration
    * must be a function of the data it migrates, the d72 discipline),
    * every stored vector re-assigned against them, written as a new
    * generation whose physical bucket count scales with the cell count
    * so file-level parallelism grows with the logical layout. This is
    * THE vector-tier scale lever: per-cell population (and therefore
    * per-probe candidate cost) stays constant only if cells grow with
    * the corpus — BENCH_SCALE_r12.json measured the 8-cell probe at
    * 74.9× under a 100× corpus and the re-laid index back at 2.17×. */
  def migrateIvfIndexCells(s: org.apache.spark.sql.SparkSession,
      table: String, numCents: Int, tag: String,
      at: Option[(String, String)] = None): String = {
    val stored = s.table(table)
      .select(col("cid").as("vec_id"), col("cv2").as("v"), col("cn2").as("n2"))
    val cents = stored.filter(col("vec_id") < numCents)
      .select(col("vec_id").as("cent_id"), col("v").as("cv"))
    writeIvfIndex(s, ivfAssignAgainst(stored, cents), tag,
      nBuckets = math.max(numCents, 8), at = at)
  }

  /** Append an ingested batch's cell assignments to an EXISTING stored
    * IVF index — new vectors cost a batch-sized write instead of a full
    * rebuild. RoundElevenSpec proves probe-after-append byte-identical
    * to probe-after-rebuild. Cell assignment of the batch uses the SAME
    * centroid anchors as the base build (index structure — re-training
    * centroids is model maintenance, a rebuild).
    *
    * Crash-retry contract (the admitBatch append-order discipline on the
    * vector surface): this append and its caller's batch commit are not
    * one transaction, so a retried micro-batch re-appends its rows. The
    * duplicates are ABSORBED by [[probeIvfTopK]]'s candidate distinct
    * (rankings unchanged, spec-drilled with a double append) and
    * physically collapsed by [[compactIvfIndex]]'s distinct. */
  def appendIvfIndex(s: org.apache.spark.sql.SparkSession,
      assignBatch: DataFrame, table: String): Unit =
    BucketedStore.append(s, ivfRows(assignBatch), table)

  /** Rewrite the stored IVF index minus the tombstoned vector ids into a
    * NEW generation — the d57 reclamation pass on vectors; the
    * tombstone set is frontier-tiny and broadcasts. A compaction that
    * re-applies after losing a CAS race against a re-layout rewrites at
    * the winner's stored count (the s42 lesson). Returns the new table
    * name for a catalog publish. */
  def compactIvfIndex(s: org.apache.spark.sql.SparkSession,
      table: String, tomb: DataFrame, tag: String,
      at: Option[(String, String)] = None): String =
    BucketedStore.rewrite(s, table,
        at.getOrElse(BucketedStore.location(tag, "ivf_index")))(
      _.join(broadcast(tomb.select(col("vec_id").as("cid"))), Seq("cid"), "left_anti")
        .select(col("cell"), col("cid"), col("cv2"), col("cn2")))

  private def ivfRows(assign: DataFrame): DataFrame =
    assign.select(col("cell"), col("vec_id").as("cid"), col("v").as("cv2"),
      col("n2").as("cn2"))

  /** Write a PQ-encoded, cell-assigned corpus as the stored IVF-PQ
    * index: (cell, cid, codes) — the COMPRESSED form of
    * [[writeIvfIndex]]'s layout (8 small code longs per vector instead
    * of the 64-long raw vector: the storage shape that actually fits a
    * 100 TB vector corpus in an index tier). The refine step fetches raw
    * vectors from the CORPUS by id (candidates only, broadcast), so raw
    * floats never live in — or shuffle through — the index. Returns the
    * table name, the handle a d58 catalog publishes.
    *
    * `nBuckets` must track the LOGICAL cell count (the bucket key is
    * `cell`, so counts past the distinct cells leave empty buckets —
    * guide §2.5's too-few-distinct-keys trap): seed builds take the
    * default 8, a tier re-encode after a d73/d74 cell migration passes
    * the raw tier's stored count so the compressed tier's write
    * parallelism rides the same ladder. */
  def writeIvfPqIndex(s: org.apache.spark.sql.SparkSession,
      enc: DataFrame, tag: String, nBuckets: Int = 8): String = {
    val (table, path) = BucketedStore.location(tag, "ivfpq_index")
    BucketedStore.write(pqRows(enc), "cell", nBuckets, table, path)
  }

  /** Append a PQ-encoded ingested batch to an EXISTING stored IVF-PQ
    * index — [[appendIvfIndex]]'s batch-sized-write contract on the
    * compressed layout. The batch is encoded against the FROZEN codebook
    * and anchors: both are index structure; re-training either is a
    * rebuild (d62's gate decides when). Crash-retry residue is absorbed
    * by [[probeIvfPqTopK]]'s candidate distinct and collapsed by
    * [[compactIvfPqIndex]]. */
  def appendIvfPqIndex(s: org.apache.spark.sql.SparkSession,
      enc: DataFrame, table: String): Unit =
    BucketedStore.append(s, pqRows(enc), table)

  /** Rewrite the stored IVF-PQ index minus tombstoned ids into a NEW
    * generation (the [[compactIvfIndex]] contract on codes). */
  def compactIvfPqIndex(s: org.apache.spark.sql.SparkSession,
      table: String, tomb: DataFrame, tag: String): String =
    BucketedStore.rewrite(s, table, BucketedStore.location(tag, "ivfpq_index"))(
      _.join(broadcast(tomb.select(col("vec_id").as("cid"))), Seq("cid"), "left_anti")
        .select(col("cell"), col("cid"), col("codes")))

  private def pqRows(enc: DataFrame): DataFrame =
    enc.select(col("cell"), col("vec_id").as("cid"), col("codes"))

  /** Probe a stored IVF-PQ index — the full production funnel against
    * the compressed layout: ADC-rank the query's cell from codes alone
    * (8 LUT lookups per candidate; the index never shuffles and raw
    * vectors never enter the scan), keep the top-`kAdc` per query, then
    * REFINE: fetch exactly those candidates' raw vectors from the corpus
    * by id (queries×kAdc rows, broadcast against the corpus scan — the
    * id-keyed fetch a deployed system does against its vector store) and
    * re-rank by exact integer L2. Emits BOTH the ADC distance and the
    * exact d2, so the compressed scoring itself is hash-checked, not
    * just the refined ranking.
    *
    * The scored candidates are DISTINCT'd before ranking (the
    * [[probeIvfTopK]] crash-retry contract: duplicate (cell, cid) rows
    * from a re-appended batch carry identical codes, so the distinct
    * restores the clean index's candidate set exactly).
    *
    * `probes`: (qid, qcell, lut); `queryVecs`: (qid, qv, qn2);
    * `corpus`: (cid, cv, cn2). */
  def probeIvfPqTopK(idx: DataFrame, probes: DataFrame, queryVecs: DataFrame,
      corpus: DataFrame, kAdc: Int, k: Int): DataFrame = {
    val wa = Window.partitionBy(col("qid")).orderBy(col("ad").asc, col("cid"))
    val cand = idx
      .join(broadcast(probes), col("cell") === col("qcell") && col("cid") =!= col("qid"))
      .select(col("qid"), col("cell"), col("cid"),
        pqAdcCol(col("lut"), col("codes")).as("ad"))
      .distinct()
      .withColumn("rk", row_number().over(wa))
      .filter(col("rk") <= kAdc)
      .select(col("qid"), col("cell"), col("cid"), col("ad"))
    val wd = Window.partitionBy(col("qid")).orderBy(col("d2").asc, col("cid"))
    corpus.join(broadcast(cand), Seq("cid"))
      .join(broadcast(queryVecs), Seq("qid"))
      .withColumn("d2",
        col("qn2") + col("cn2") - lit(2L) * dotQ(col("qv"), col("cv")))
      .withColumn("rank", row_number().over(wd))
      .filter(col("rank") <= k)
      .select(col("qid"), col("cell"), col("cid"),
        col("rank").cast("long").as("rank"), col("ad"), col("d2"))
  }

  /** Probe a stored IVF index with a (small, broadcast) query batch:
    * top-`k` cosine neighbors per query within the query's assigned
    * cell. The index side reads its bucketed layout — candidates, dots,
    * and the heap top-k all happen without the index ever shuffling.
    * `probes` columns: (qid, qv, qn2, qcell). */
  def probeIvfTopK(s: org.apache.spark.sql.SparkSession,
      table: String, probes: DataFrame, k: Int): DataFrame =
    probeIvfTopK(s.table(table), probes, k)

  /** DataFrame-input probe form, for callers that pre-filter the index
    * (d59's tombstone anti-join, s34's per-batch live view). The anti-
    * join's broadcast build keeps the index side's bucketed distribution
    * intact.
    *
    * The scored candidates are DISTINCT'd before ranking — the
    * probeBandIndex discipline on the vector surface: a crash-retried
    * ingest batch re-appends its rows (the append and the micro-batch
    * commit are not one transaction), and without the distinct a
    * duplicated index entry would occupy TWO rank slots and push a
    * legitimate neighbor out of the top-k. (cell, cid) determines
    * (cv2, cn2), so duplicate rows score identically and the distinct
    * restores the clean index's candidate set exactly; it rides the
    * same small per-query candidate data the rank window already
    * shuffles. */
  def probeIvfTopK(idx: DataFrame, probes: DataFrame, k: Int): DataFrame = {
    val wr = Window.partitionBy(col("qid")).orderBy(col("cos").desc, col("cid"))
    idx
      .join(broadcast(probes), col("cell") === col("qcell") && col("cid") =!= col("qid"))
      .withColumn("cos", dotQ(col("qv"), col("cv2")) / (sqrt(col("qn2")) * sqrt(col("cn2"))))
      .select(col("qid"), col("cell"), col("cid"), col("cos"))
      .distinct()
      .withColumn("rank", row_number().over(wr))
      .filter(col("rank") <= k)
      .select(col("qid"), col("cell"), col("cid"), col("rank").cast("long").as("rank"),
        round(col("cos"), 6).as("cosine"))
  }

  /** Shape an [[ivfAssign]] output as [[probeIvfTopK]]'s probe side. */
  private def asProbes(assign: DataFrame): DataFrame =
    assign.select(col("vec_id").as("qid"), col("v").as("qv"),
      col("n2").as("qn2"), col("cell").as("qcell"))

  /** d60 — INCREMENTAL IVF APPEND: the d53 bucketed-append template on
    * the vector surface, closing the stored ANN index's lifecycle gap
    * (write/probe existed via d33, takedown/compaction via d59 — but new
    * vectors meant a full rewrite). Day 0 builds the index on the base
    * corpus; day 1 APPENDS an ingested vector batch (batch-sized write,
    * same bucket spec — the exchange-free probe layout survives,
    * spec-asserted); day 2 probes the UPDATED index with the next
    * arriving wave and must see day-1 vectors as neighbors. The oracle
    * computes the same top-3 ranking over base ∪ day-1 directly, so an
    * append that dropped, duplicated, or mis-bucketed a vector surfaces
    * as a ranking mismatch. RoundElevenSpec additionally proves
    * probe-after-append ≡ probe-after-rebuild byte-equality and the
    * appended table's bucket-aware scan; BENCH_SCALE_r11.json prices
    * append ∝ batch vs rebuild ∝ corpus. */
  private val d60 = Q(
    "d60_ivf_append",
    """WITH e AS (
         SELECT vec_id,
                list_transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) * 1000000) AS BIGINT)) AS v
         FROM embeddings),
       n AS (SELECT vec_id, v, CAST(list_sum(list_transform(v, x -> x * x)) AS BIGINT) AS n2 FROM e),
       cents AS (SELECT vec_id AS cent_id, v AS cv FROM e WHERE vec_id < 8),
       scored AS (
         SELECT n.vec_id, n.v, n.n2, c.cent_id,
                row_number() OVER (PARTITION BY n.vec_id
                  ORDER BY CAST(list_sum(list_transform(generate_series(1, 64), i -> n.v[i] * c.cv[i])) AS BIGINT) DESC,
                           c.cent_id) AS rn
         FROM n, cents c),
       assign AS MATERIALIZED (
         SELECT vec_id, v, n2, cent_id AS cell FROM scored WHERE rn = 1),
       probes AS (
         SELECT q.vec_id AS qid, q.cell, c.vec_id AS cid,
                CAST(list_sum(list_transform(generate_series(1, 64), i -> q.v[i] * c.v[i])) AS BIGINT)
                  / (sqrt(q.n2) * sqrt(c.n2)) AS cos
         FROM assign q JOIN assign c ON q.cell = c.cell
         WHERE q.vec_id % 7 = 5 AND c.vec_id % 7 <> 5),
       ranked AS (
         SELECT qid, cell, cid, cos,
                row_number() OVER (PARTITION BY qid ORDER BY cos DESC, cid) AS rank
         FROM probes)
       SELECT qid, cell, cid, rank, round(cos, 6) AS cosine
       FROM ranked WHERE rank <= 3 ORDER BY qid, rank""") { (s, d) =>
    val e = Tables.embeddings(s, d)
      .select(col("vec_id"), quantize(col("embedding")).as("v"))
      .withColumn("n2", norm2Q(col("v")))
    // ONE assignment pass (centroid anchors fixed at build time) serves
    // the base build, the appended batch, and the probe wave
    val assign = Dedup.reuse(ivfAssign(e))
    val isDay1 = col("vec_id") % 7 === 3
    val isWave2 = col("vec_id") % 7 === 5
    // day 0: index the base corpus; day 1: APPEND the ingested batch
    val table = writeIvfIndex(s, assign.filter(!isDay1 && !isWave2), "ivf_d60")
    appendIvfIndex(s, assign.filter(isDay1), table)
    // day 2: probe the UPDATED index with the next wave
    probeIvfTopK(s, table, asProbes(assign.filter(isWave2)), k = 3)
      .orderBy("qid", "rank")
  }

  /** d63 — STORED IVF-PQ INDEX: the layout a 100 TB vector corpus
    * actually deploys. d33/d60's stored IVF keeps raw 64-long vectors in
    * the index; at production scale the index tier holds COMPRESSED
    * codes (8 small longs ≈ 8 bytes/vector here) and raw vectors stay in
    * the corpus, fetched by id only for the refine step. d63 runs the
    * full lifecycle on that layout: day-0 build (cells from the frozen
    * anchors, codes from the frozen vec_id<64 codebook — both index
    * STRUCTURE), day-1 batch APPEND (encode map-side against the frozen
    * structures, batch-sized bucketed write), day-2 probe = the d26
    * funnel against the store — ADC over the query's cell from codes
    * alone, top-10, exact re-rank of exactly those candidates via an
    * id-keyed corpus fetch. Output carries the ADC distance AND the
    * exact d2 (both exact integers), so the compressed scoring, the
    * candidate cut, and the refine are ALL hash-checked. The oracle
    * re-derives assignment, encoding, ADC, and refine over base ∪ day-1
    * directly — a dropped/duplicated/mis-bucketed/mis-encoded append
    * surfaces as a mismatch. RoundTwelveSpec proves probe-after-append ≡
    * probe-after-rebuild, the codes-only index schema (the compression
    * contract), exchange-free index scans on the appended table, and the
    * double-append retry drill. */
  private val d63 = Q(
    "d63_ivfpq_index",
    """WITH e AS (
         SELECT vec_id,
                list_transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) * 1000000) AS BIGINT)) AS v
         FROM embeddings),
       n AS (SELECT vec_id, v, CAST(list_sum(list_transform(v, x -> x * x)) AS BIGINT) AS n2 FROM e),
       cents AS (SELECT vec_id AS cent_id, v AS cv FROM e WHERE vec_id < 8),
       scored AS (
         SELECT n.vec_id, n.v, n.n2, c.cent_id,
                row_number() OVER (PARTITION BY n.vec_id
                  ORDER BY CAST(list_sum(list_transform(generate_series(1, 64), i -> n.v[i] * c.cv[i])) AS BIGINT) DESC,
                           c.cent_id) AS rn
         FROM n, cents c),
       assign AS MATERIALIZED (
         SELECT vec_id, v, n2, cent_id AS cell FROM scored WHERE rn = 1),
       subs AS (SELECT unnest(generate_series(0, 7)) AS s),
       vs AS (SELECT vec_id, s, list_slice(v, s * 8 + 1, s * 8 + 8) AS sv
              FROM e CROSS JOIN subs),
       cbs AS MATERIALIZED (SELECT vec_id AS code, s, sv AS cv FROM vs WHERE vec_id < 64),
       enc AS MATERIALIZED (
         SELECT vec_id, s, code FROM (
           SELECT v.vec_id, v.s, c.code,
                  row_number() OVER (PARTITION BY v.vec_id, v.s
                    ORDER BY CAST(list_sum(list_transform(generate_series(1, 8),
                               i -> (v.sv[i] - c.cv[i]) * (v.sv[i] - c.cv[i]))) AS BIGINT) ASC,
                             c.code) AS rn
           FROM vs v JOIN cbs c ON v.s = c.s
           WHERE v.vec_id % 7 <> 5) t WHERE rn = 1),
       qa AS MATERIALIZED (
         SELECT vec_id AS qid, cell, v AS qv, n2 AS qn2 FROM assign WHERE vec_id % 7 = 5),
       qs AS MATERIALIZED (SELECT vec_id AS qid, s, sv FROM vs WHERE vec_id % 7 = 5),
       adc AS MATERIALIZED (
         SELECT qa.qid, qa.cell, en.vec_id AS cid,
                CAST(sum(list_sum(list_transform(generate_series(1, 8),
                  i -> (q.sv[i] - c.cv[i]) * (q.sv[i] - c.cv[i])))) AS BIGINT) AS ad
         FROM qa
         JOIN assign ca ON ca.cell = qa.cell AND ca.vec_id % 7 <> 5 AND ca.vec_id <> qa.qid
         JOIN enc en ON en.vec_id = ca.vec_id
         JOIN qs q ON q.qid = qa.qid AND q.s = en.s
         JOIN cbs c ON c.s = en.s AND c.code = en.code
         GROUP BY qa.qid, qa.cell, en.vec_id),
       cand AS (
         SELECT qid, cell, cid, ad FROM (
           SELECT qid, cell, cid, ad,
                  row_number() OVER (PARTITION BY qid ORDER BY ad ASC, cid) AS rk
           FROM adc) t WHERE rk <= 10),
       refined AS (
         SELECT cand.qid, cand.cell, cand.cid, cand.ad,
                qa.qn2 + c.n2 - 2 * CAST(list_sum(list_transform(generate_series(1, 64),
                  i -> qa.qv[i] * c.v[i])) AS BIGINT) AS d2
         FROM cand
         JOIN qa ON qa.qid = cand.qid
         JOIN n c ON c.vec_id = cand.cid)
       SELECT qid, cell, cid, CAST(rank AS BIGINT) AS rank, ad, d2
       FROM (SELECT qid, cell, cid, ad, d2,
                    row_number() OVER (PARTITION BY qid ORDER BY d2 ASC, cid) AS rank
             FROM refined) t
       WHERE rank <= 3 ORDER BY qid, rank""") { (s, d) =>
    val e = Tables.embeddings(s, d)
      .select(col("vec_id"), quantize(col("embedding")).as("v"))
      .withColumn("n2", norm2Q(col("v")))
    val assign = Dedup.reuse(ivfAssign(e))
    val cb = pqCodebook(e)
    val isDay1 = col("vec_id") % 7 === 3
    val isWave2 = col("vec_id") % 7 === 5
    // ONE map-side encode pass (frozen codebook + anchors) serves the
    // base build and the appended batch
    val encAll = assign.withColumn("codes", pqCodesCol(cb))
    val table = writeIvfPqIndex(s, encAll.filter(!isDay1 && !isWave2), "ivfpq_d63")
    appendIvfPqIndex(s, encAll.filter(isDay1), table)
    val probes = assign.filter(isWave2)
      .select(col("vec_id").as("qid"), col("cell").as("qcell"),
        pqLutCol(cb).as("lut"))
    val queryVecs = assign.filter(isWave2)
      .select(col("vec_id").as("qid"), col("v").as("qv"), col("n2").as("qn2"))
    val corpus = e.select(col("vec_id").as("cid"), col("v").as("cv"),
      col("n2").as("cn2"))
    probeIvfPqTopK(s.table(table), probes, queryVecs, corpus, kAdc = 10, k = 3)
      .orderBy("qid", "rank")
  }

  /** Dot-argmax assignment that KEEPS the fit: (vec_id, v, n2, cell, cm)
    * where `cm` is the cosine to the OWN centroid in integer micros
    * (row-local quantization — the cross-engine-exact form). `cents`
    * columns: (cent_id, cv, cn2). Shared by d61's census and d62's
    * retrain loop. */
  private[graft] def fitAssign(pop: DataFrame, cents: DataFrame): DataFrame = {
    val wc = Window.partitionBy(col("vec_id")).orderBy(col("dot").desc, col("cent_id"))
    pop.crossJoin(broadcast(cents))
      .withColumn("dot", dotQ(col("v"), col("cv")))
      .withColumn("rn", row_number().over(wc))
      .filter(col("rn") === 1)
      .select(col("vec_id"), col("v"), col("n2"), col("cent_id").as("cell"),
        expr("CAST(round(1000000.0 * dot / (sqrt(n2) * sqrt(cn2))) AS BIGINT)").as("cm"))
  }

  /** d61 — ANCHOR-DRIFT census: the maintenance TRIGGER the append-only
    * lifecycle needs. d60 freezes the centroid anchors at build time
    * (append ∝ batch is only possible because assignment structure never
    * moves), which is exactly right until the ingest distribution drifts
    * away from the anchors — then cells skew, probes scan bloated cells,
    * and recall decays. Re-training is a REBUILD (expensive, offline),
    * so production wants a measured signal for WHEN, not a guess: per
    * cell, how well do the APPENDED vectors fit the frozen anchors
    * versus the base corpus that chose them?
    *
    * Census per cell: base/appended member counts (cell-share skew) and
    * each population's mean anchor fit — the cosine to the OWN anchor,
    * quantized to integer micros ROW-LOCALLY (one fixed float-op
    * sequence per row, the t51 recall_micro discipline), so the per-cell
    * mean is one division of exact integer sums and the whole census is
    * hash-exact cross-engine. `drift_micro` = fit_base − fit_app: a
    * consumer thresholds it (and n_app share) to schedule the rebuild.
    *
    * Scale shape: one corpus × 8-anchor broadcast pass (the ivfAssign
    * shape, keeping the dot), then ONE map-side-combined agg to 8 rows.
    * Nothing after the scan is data-sized. */
  private val d61 = Q(
    "d61_ivf_drift_census",
    """WITH e AS (
         SELECT vec_id,
                list_transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) * 1000000) AS BIGINT)) AS v
         FROM embeddings),
       n AS (SELECT vec_id, v, CAST(list_sum(list_transform(v, x -> x * x)) AS BIGINT) AS n2 FROM e),
       cents AS (SELECT vec_id AS cent_id, v AS cv,
                        CAST(list_sum(list_transform(v, x -> x * x)) AS BIGINT) AS cn2
                 FROM e WHERE vec_id < 8),
       scored AS (
         SELECT n.vec_id, n.n2, c.cent_id, c.cn2,
                CAST(list_sum(list_transform(generate_series(1, 64), i -> n.v[i] * c.cv[i])) AS BIGINT) AS dot,
                row_number() OVER (PARTITION BY n.vec_id
                  ORDER BY CAST(list_sum(list_transform(generate_series(1, 64), i -> n.v[i] * c.cv[i])) AS BIGINT) DESC,
                           c.cent_id) AS rn
         FROM n, cents c),
       assign AS MATERIALIZED (
         SELECT vec_id, cent_id AS cell,
                CAST(round(1000000.0 * dot / (sqrt(n2) * sqrt(cn2))) AS BIGINT) AS cm
         FROM scored WHERE rn = 1),
       census AS (
         SELECT cell,
                count(*) FILTER (vec_id % 7 <> 3 AND vec_id % 7 <> 5) AS n_base,
                count(*) FILTER (vec_id % 7 = 3) AS n_app,
                CAST(coalesce(sum(cm) FILTER (vec_id % 7 <> 3 AND vec_id % 7 <> 5), 0) AS BIGINT) AS s_base,
                CAST(coalesce(sum(cm) FILTER (vec_id % 7 = 3), 0) AS BIGINT) AS s_app
         FROM assign WHERE vec_id % 7 <> 5 GROUP BY cell)
       SELECT cell, n_base, n_app,
              CAST(CASE WHEN n_base = 0 THEN 0 ELSE round(s_base * 1.0 / n_base) END AS BIGINT) AS fit_base_micro,
              CAST(CASE WHEN n_app = 0 THEN 0 ELSE round(s_app * 1.0 / n_app) END AS BIGINT) AS fit_app_micro,
              CAST(CASE WHEN n_app = 0 OR n_base = 0 THEN 0
                   ELSE round(s_base * 1.0 / n_base) - round(s_app * 1.0 / n_app) END AS BIGINT) AS drift_micro
       FROM census ORDER BY cell""") { (s, d) =>
    val e = Tables.embeddings(s, d)
      .select(col("vec_id"), quantize(col("embedding")).as("v"))
      .withColumn("n2", norm2Q(col("v")))
    val cents = e.filter(col("vec_id") < 8)
      .select(col("vec_id").as("cent_id"), col("v").as("cv"), col("n2").as("cn2"))
    val assign = fitAssign(e, cents)
    val isApp = col("vec_id") % 7 === 3
    val isBase = col("vec_id") % 7 =!= 3 && col("vec_id") % 7 =!= 5
    assign.filter(col("vec_id") % 7 =!= 5)
      .groupBy("cell")
      .agg(count(when(isBase, 1)).as("n_base"),
        count(when(isApp, 1)).as("n_app"),
        coalesce(sum(when(isBase, col("cm"))), lit(0L)).as("s_base"),
        coalesce(sum(when(isApp, col("cm"))), lit(0L)).as("s_app"))
      .select(col("cell"), col("n_base"), col("n_app"),
        when(col("n_base") === 0, 0L)
          .otherwise(round(col("s_base") * lit(1.0) / col("n_base")).cast("long"))
          .as("fit_base_micro"),
        when(col("n_app") === 0, 0L)
          .otherwise(round(col("s_app") * lit(1.0) / col("n_app")).cast("long"))
          .as("fit_app_micro"),
        when(col("n_app") === 0 || col("n_base") === 0, 0L)
          .otherwise((round(col("s_base") * lit(1.0) / col("n_base"))
            - round(col("s_app") * lit(1.0) / col("n_app"))).cast("long"))
          .as("drift_micro"))
      .orderBy("cell")
  }

  /** d62 — DRIFT-GATED RE-TRAIN: the ACTION d61's census triggers,
    * closing the maintenance loop (signal → decision → re-train). The
    * gate is MEASURED and pinned (a cell with ≥ 5 appended members whose
    * |drift_micro| ≥ 30000 — constants hardcoded in the oracle too, the
    * p01 gate discipline): when no cell qualifies, the frozen anchors
    * stand and the census reports the as-is fit; when one does, ONE
    * centroid-update round runs over the index population (per-cell
    * integer-exact means, the d24 Lloyd machinery) and the population is
    * re-assigned against the NEW centroids — the re-train that d59/d60
    * keep out of takedown/append scope, now executed exactly when the
    * measured signal says it pays. Both branches are oracle-verified
    * across the fixture family: the gate FIRES at sf0.001/sf0.01 (fit
    * climbs ~180k → ~250k micros) and correctly HOLDS at sf0.1 (drift
    * under threshold) — the decision itself is hash-checked, not
    * trusted.
    *
    * Scale shape: one population × 8-centroid broadcast pass per
    * assignment, the update a per-(cell, dim) partial-aggregable sum
    * (k×64 rows cross the exchange), and the new centroids re-broadcast
    * — nothing after the scans is data-sized; the gate is one 8-row
    * census (a bounded driver branch, like p01's audit gate). */
  private val d62 = Q(
    "d62_drift_retrain",
    """WITH e AS (
         SELECT vec_id,
                list_transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) * 1000000) AS BIGINT)) AS v
         FROM embeddings),
       n AS (SELECT vec_id, v, CAST(list_sum(list_transform(v, x -> x * x)) AS BIGINT) AS n2
             FROM e WHERE vec_id % 7 <> 5),
       c0 AS (SELECT vec_id AS cent_id, v AS cv,
                     CAST(list_sum(list_transform(v, x -> x * x)) AS BIGINT) AS cn2
              FROM e WHERE vec_id < 8),
       a0 AS MATERIALIZED (
         SELECT vec_id, v, n2, cell, cm FROM (
           SELECT n.vec_id, n.v, n.n2, c.cent_id AS cell,
                  CAST(round(1000000.0 * CAST(list_sum(list_transform(generate_series(1, 64), i -> n.v[i] * c.cv[i])) AS BIGINT)
                       / (sqrt(n.n2) * sqrt(c.cn2))) AS BIGINT) AS cm,
                  row_number() OVER (PARTITION BY n.vec_id
                    ORDER BY CAST(list_sum(list_transform(generate_series(1, 64), i -> n.v[i] * c.cv[i])) AS BIGINT) DESC,
                             c.cent_id) AS rn
           FROM n, c0 c) t WHERE rn = 1),
       cen AS (
         SELECT cell,
                count(*) FILTER (vec_id % 7 <> 3) AS n_base,
                count(*) FILTER (vec_id % 7 = 3) AS n_app,
                CAST(coalesce(sum(cm) FILTER (vec_id % 7 <> 3), 0) AS BIGINT) AS s_base,
                CAST(coalesce(sum(cm) FILTER (vec_id % 7 = 3), 0) AS BIGINT) AS s_app
         FROM a0 GROUP BY cell),
       gate AS MATERIALIZED (
         SELECT coalesce(max(CASE WHEN n_app >= 5 AND n_base > 0 AND
                  abs(round(s_base * 1.0 / n_base) - round(s_app * 1.0 / n_app)) >= 30000
                  THEN 1 ELSE 0 END), 0) = 1 AS acted
         FROM cen),
       u1 AS (
         SELECT cell, i, CAST(round(CAST(sum(v[i]) AS DOUBLE) / count(*)) AS BIGINT) AS m
         FROM a0 CROSS JOIN (SELECT unnest(generate_series(1, 64)) AS i) ix
         GROUP BY cell, i),
       c1 AS (
         SELECT cell AS cent_id, list(m ORDER BY i) AS cv,
                CAST(list_sum(list_transform(list(m ORDER BY i), x -> x * x)) AS BIGINT) AS cn2
         FROM u1 GROUP BY cell),
       a1 AS MATERIALIZED (
         SELECT vec_id, cell, cm FROM (
           SELECT n.vec_id, c.cent_id AS cell,
                  CAST(round(1000000.0 * CAST(list_sum(list_transform(generate_series(1, 64), i -> n.v[i] * c.cv[i])) AS BIGINT)
                       / (sqrt(n.n2) * sqrt(c.cn2))) AS BIGINT) AS cm,
                  row_number() OVER (PARTITION BY n.vec_id
                    ORDER BY CAST(list_sum(list_transform(generate_series(1, 64), i -> n.v[i] * c.cv[i])) AS BIGINT) DESC,
                             c.cent_id) AS rn
           FROM n, c1 c) t WHERE rn = 1),
       pre AS (SELECT cell, count(*) AS n_members,
                      CAST(round(sum(cm) * 1.0 / count(*)) AS BIGINT) AS fit_micro
               FROM a0 GROUP BY cell),
       post AS (SELECT cell, count(*) AS n_members,
                       CAST(round(sum(cm) * 1.0 / count(*)) AS BIGINT) AS fit_micro
                FROM a1 GROUP BY cell)
       SELECT cell, (SELECT acted FROM gate) AS acted, n_members, fit_micro
       FROM (SELECT * FROM post WHERE (SELECT acted FROM gate)
             UNION ALL
             SELECT * FROM pre WHERE NOT (SELECT acted FROM gate))
       ORDER BY cell""") { (s, d) =>
    val e = Tables.embeddings(s, d)
      .select(col("vec_id"), quantize(col("embedding")).as("v"))
      .withColumn("n2", norm2Q(col("v")))
    // the index population: base ∪ appended (probes excluded), the d60
    // fixture convention
    val pop = Dedup.reuse(e.filter(col("vec_id") % 7 =!= 5))
    val cents0 = e.filter(col("vec_id") < 8)
      .select(col("vec_id").as("cent_id"), col("v").as("cv"), col("n2").as("cn2"))
    val a0 = Dedup.reuse(fitAssign(pop, cents0))
    // the MEASURED gate (d61's census): a bounded driver branch, like
    // p01's audit gate — the oracle computes the identical decision, so
    // acting (or not) is hash-checked, not trusted
    val isApp = col("vec_id") % 7 === 3
    val acted = a0.groupBy("cell")
      .agg(count(when(!isApp, 1)).as("n_base"),
        count(when(isApp, 1)).as("n_app"),
        coalesce(sum(when(!isApp, col("cm"))), lit(0L)).as("s_base"),
        coalesce(sum(when(isApp, col("cm"))), lit(0L)).as("s_app"))
      .filter(col("n_app") >= 5 && col("n_base") > 0 &&
        abs(round(col("s_base") * lit(1.0) / col("n_base"))
          - round(col("s_app") * lit(1.0) / col("n_app"))) >= 30000)
      .limit(1).count() > 0
    val chosen =
      if (acted) {
        // one Lloyd update round from the current state (integer-exact
        // per-cell means), then re-assign against the NEW centroids
        val cents1 = centroidUpdateDF(a0)
          .select(col("cell").as("cent_id"), col("cv"))
          .withColumn("cn2", norm2Q(col("cv")))
        fitAssign(pop, cents1)
      } else a0
    chosen.groupBy("cell")
      .agg(count(lit(1)).as("n_members"),
        round(sum(col("cm")) * lit(1.0) / count(lit(1))).cast("long").as("fit_micro"))
      .select(col("cell"), lit(acted).as("acted"), col("n_members"), col("fit_micro"))
      .orderBy("cell")
  }

  /** d59 — takedown on the VECTOR surface: the d56/d57 compliance
    * discipline applied to the stored IVF index (d33). A removed
    * document must stop being RETRIEVABLE by similarity search, not
    * just by the dedup probes — a takedown that reaches the text
    * stores but leaves the ANN index serving the removed vectors is a
    * compliance hole. Three phases over the same query set:
    *
    *  - `pre`: the full stored index serves everyone;
    *  - `post_tombstone`: the takedown landed — the tombstone set
    *    (frontier-tiny, broadcasts) anti-joins index ENTRIES out before
    *    ranking (rankings re-close over the survivors) and drops
    *    removed QUERY vectors entirely;
    *  - `post_compact`: the index is rewritten minus the tombstoned
    *    entries (same bucketBy(cell) spec — the exchange-free probe
    *    layout survives, spec-asserted) and probed UNFILTERED.
    *
    * The oracle computes the post-takedown ranking ONCE and demands it
    * from BOTH post phases — tombstone-filtering the old generation and
    * probing the compacted one must answer identically (the d57
    * invariant, now on vectors). Centroid anchors are index STRUCTURE
    * (like band boundaries), not retrievable payloads: the removed
    * vector leaves every result set while the cell geometry stands;
    * re-training centroids is model maintenance, out of takedown scope.
    * The %7 tombstone set is chosen so pre-top3 rows ARE removed and
    * one query vector (10) is itself taken down at both verify SFs —
    * every phase transition is non-vacuous by construction. */
  private val d59 = Q(
    "d59_ann_takedown",
    """WITH e AS (
         SELECT vec_id,
                list_transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) * 1000000) AS BIGINT)) AS v
         FROM embeddings),
       n AS (SELECT vec_id, v, CAST(list_sum(list_transform(v, x -> x * x)) AS BIGINT) AS n2 FROM e),
       cents AS (SELECT vec_id AS cent_id, v AS cv FROM e WHERE vec_id < 8),
       scored AS (
         SELECT n.vec_id, n.v, n.n2, c.cent_id,
                row_number() OVER (PARTITION BY n.vec_id
                  ORDER BY CAST(list_sum(list_transform(generate_series(1, 64), i -> n.v[i] * c.cv[i])) AS BIGINT) DESC,
                           c.cent_id) AS rn
         FROM n, cents c),
       assign AS (SELECT vec_id, v, n2, cent_id AS cell FROM scored WHERE rn = 1),
       tombv AS (SELECT vec_id FROM e WHERE vec_id % 7 = 3),
       prep AS (
         SELECT q.vec_id AS qid, q.cell, c.vec_id AS cid,
                CAST(list_sum(list_transform(generate_series(1, 64), i -> q.v[i] * c.v[i])) AS BIGINT)
                  / (sqrt(q.n2) * sqrt(c.n2)) AS cos
         FROM assign q JOIN assign c ON q.cell = c.cell AND c.vec_id <> q.vec_id
         WHERE q.vec_id >= 10 AND q.vec_id < 15),
       pre AS (
         SELECT qid, cell, cid, cos,
                row_number() OVER (PARTITION BY qid ORDER BY cos DESC, cid) AS rank
         FROM prep),
       postp AS (
         SELECT qid, cell, cid, cos,
                row_number() OVER (PARTITION BY qid ORDER BY cos DESC, cid) AS rank
         FROM prep
         WHERE qid NOT IN (SELECT vec_id FROM tombv)
           AND cid NOT IN (SELECT vec_id FROM tombv))
       SELECT phase, qid, cell, cid, rank, round(cos, 6) AS cosine
       FROM (
         SELECT 'pre' AS phase, qid, cell, cid, rank, cos FROM pre WHERE rank <= 3
         UNION ALL
         SELECT 'post_tombstone', qid, cell, cid, rank, cos FROM postp WHERE rank <= 3
         UNION ALL
         SELECT 'post_compact', qid, cell, cid, rank, cos FROM postp WHERE rank <= 3)
       ORDER BY phase, qid, rank""") { (s, d) =>
    val e = Tables.embeddings(s, d)
      .select(col("vec_id"), quantize(col("embedding")).as("v"))
      .withColumn("n2", norm2Q(col("v")))
    val assign = Dedup.reuse(ivfAssign(e))
    val indexTable = writeIvfIndex(s, assign, "ivf_d59")
    val tomb = Dedup.reuse(assign.filter(col("vec_id") % 7 === 3).select("vec_id"))

    def probe(phase: String, table: String, filterIdx: Boolean,
        filterQueries: Boolean): DataFrame = {
      val probes0 = assign.filter(col("vec_id") >= 10 && col("vec_id") < 15)
      val probes1 =
        if (filterQueries)
          probes0.join(broadcast(tomb), Seq("vec_id"), "left_anti")
        else probes0
      val probes = probes1.select(col("vec_id").as("qid"), col("v").as("qv"),
        col("n2").as("qn2"), col("cell").as("qcell"))
      val idx0 = s.table(table)
      val idx =
        if (filterIdx)
          idx0.join(broadcast(tomb.select(col("vec_id").as("cid"))),
            Seq("cid"), "left_anti")
        else idx0
      val wr = Window.partitionBy(col("qid")).orderBy(col("cos").desc, col("cid"))
      idx.join(broadcast(probes), col("cell") === col("qcell") && col("cid") =!= col("qid"))
        .withColumn("cos", dotQ(col("qv"), col("cv2")) / (sqrt(col("qn2")) * sqrt(col("cn2"))))
        .withColumn("rank", row_number().over(wr))
        .filter(col("rank") <= 3)
        .select(lit(phase).as("phase"), col("qid"), col("cell"), col("cid"),
          col("rank").cast("long").as("rank"), round(col("cos"), 6).as("cosine"))
    }

    val pre = probe("pre", indexTable, filterIdx = false, filterQueries = false)
    val postT = probe("post_tombstone", indexTable, filterIdx = true, filterQueries = true)
    // compaction: the new generation keeps only live entries, same
    // bucketed layout; probed UNFILTERED
    val cTable = compactIvfIndex(s, indexTable, tomb, "ivf_d59c")
    val postC = probe("post_compact", cTable, filterIdx = false, filterQueries = true)

    pre.unionByName(postT).unionByName(postC).orderBy("phase", "qid", "rank")
  }

  /** d72 — INDEX-TIER MIGRATION: the raw IVF index (d60's layout, 64
    * longs + norm per vector) migrates ONLINE to the compressed IVF-PQ
    * tier (d63's layout, 8 longs per vector) behind the catalog — the
    * production migration a growing vector corpus actually performs
    * (the raw tier stops fitting the serving budget; the compressed
    * tier plus exact re-rank replaces it). The migration is the d70
    * discipline with the TIER as the migrated property: the codebook
    * trains on the STORED generation's vectors and the encode pass
    * reads the STORE, not the source fixture (a migration must be a
    * function of the data it migrates); the new generation publishes
    * (handle, "pq") through the CAS commit; an in-query guard demands
    * the migrated table is CODES-ONLY (cell, cid, codes — the
    * compression really happened).
    *
    * Hash-checked phases: `pre_raw` (cosine top-3 from the raw tier),
    * `pinned_raw` (a reader pinned to generation 1, oracle-demanded
    * ≡ pre_raw while the pointer serves the compressed tier), and
    * `current_pq` (the d63 funnel — ADC from stored codes, exact
    * re-rank via the id-keyed corpus fetch; ADC distance AND exact d2
    * both hash-checked). The oracle re-derives the codebook from the
    * same store-membership rule, so an encode pass that read the wrong
    * tier or trained on the wrong seeds is an integer-distance
    * mismatch. Raw-phase rows carry NULL ad/d2; pq rows NULL cosine —
    * every emitted number is phase-appropriate and checked. */
  private val d72 = Q(
    "d72_index_tier_migration",
    """WITH e AS (
         SELECT vec_id,
                list_transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) * 1000000) AS BIGINT)) AS v
         FROM embeddings),
       n AS (SELECT vec_id, v, CAST(list_sum(list_transform(v, x -> x * x)) AS BIGINT) AS n2 FROM e),
       cents AS (SELECT vec_id AS cent_id, v AS cv FROM e WHERE vec_id < 8),
       scored AS (
         SELECT n.vec_id, n.v, n.n2, c.cent_id,
                row_number() OVER (PARTITION BY n.vec_id
                  ORDER BY CAST(list_sum(list_transform(generate_series(1, 64), i -> n.v[i] * c.cv[i])) AS BIGINT) DESC,
                           c.cent_id) AS rn
         FROM n, cents c),
       assign AS MATERIALIZED (
         SELECT vec_id, v, n2, cent_id AS cell FROM scored WHERE rn = 1),
       w_raw AS MATERIALIZED (
         SELECT q.vec_id AS qid, q.cell, c.vec_id AS cid,
                CAST(list_sum(list_transform(generate_series(1, 64), i -> q.v[i] * c.v[i])) AS BIGINT)
                  / (sqrt(q.n2) * sqrt(c.n2)) AS cos
         FROM assign q JOIN assign c
           ON q.cell = c.cell AND c.vec_id % 7 <> 5 AND c.vec_id <> q.vec_id
         WHERE q.vec_id % 7 = 5),
       ranked_raw AS MATERIALIZED (
         SELECT qid, cell, cid, cos,
                row_number() OVER (PARTITION BY qid ORDER BY cos DESC, cid) AS rank
         FROM w_raw),
       subs AS (SELECT unnest(generate_series(0, 7)) AS s),
       vs AS (SELECT vec_id, s, list_slice(v, s * 8 + 1, s * 8 + 8) AS sv
              FROM e CROSS JOIN subs),
       cbs AS MATERIALIZED (
         SELECT vec_id AS code, s, sv AS cv FROM vs
         WHERE vec_id < 64 AND vec_id % 7 <> 5),
       enc AS MATERIALIZED (
         SELECT vec_id, s, code FROM (
           SELECT v.vec_id, v.s, c.code,
                  row_number() OVER (PARTITION BY v.vec_id, v.s
                    ORDER BY CAST(list_sum(list_transform(generate_series(1, 8),
                               i -> (v.sv[i] - c.cv[i]) * (v.sv[i] - c.cv[i]))) AS BIGINT) ASC,
                             c.code) AS rn
           FROM vs v JOIN cbs c ON v.s = c.s
           WHERE v.vec_id % 7 <> 5) t WHERE rn = 1),
       qa AS MATERIALIZED (
         SELECT vec_id AS qid, cell, v AS qv, n2 AS qn2 FROM assign WHERE vec_id % 7 = 5),
       qs AS MATERIALIZED (SELECT vec_id AS qid, s, sv FROM vs WHERE vec_id % 7 = 5),
       adc AS MATERIALIZED (
         SELECT qa.qid, qa.cell, en.vec_id AS cid,
                CAST(sum(list_sum(list_transform(generate_series(1, 8),
                  i -> (q.sv[i] - c.cv[i]) * (q.sv[i] - c.cv[i])))) AS BIGINT) AS ad
         FROM qa
         JOIN assign ca ON ca.cell = qa.cell AND ca.vec_id % 7 <> 5 AND ca.vec_id <> qa.qid
         JOIN enc en ON en.vec_id = ca.vec_id
         JOIN qs q ON q.qid = qa.qid AND q.s = en.s
         JOIN cbs c ON c.s = en.s AND c.code = en.code
         GROUP BY qa.qid, qa.cell, en.vec_id),
       cand AS (
         SELECT qid, cell, cid, ad FROM (
           SELECT qid, cell, cid, ad,
                  row_number() OVER (PARTITION BY qid ORDER BY ad ASC, cid) AS rk
           FROM adc) t WHERE rk <= 10),
       refined AS (
         SELECT cand.qid, cand.cell, cand.cid, cand.ad,
                qa.qn2 + c.n2 - 2 * CAST(list_sum(list_transform(generate_series(1, 64),
                  i -> qa.qv[i] * c.v[i])) AS BIGINT) AS d2
         FROM cand
         JOIN qa ON qa.qid = cand.qid
         JOIN n c ON c.vec_id = cand.cid),
       ranked_pq AS (
         SELECT qid, cell, cid, ad, d2,
                row_number() OVER (PARTITION BY qid ORDER BY d2 ASC, cid) AS rank
         FROM refined)
       SELECT phase, qid, cell, cid, CAST(rank AS BIGINT) AS rank,
              cosine, ad, d2
       FROM (
         SELECT 'pre_raw' AS phase, qid, cell, cid, rank,
                round(cos, 6) AS cosine, CAST(NULL AS BIGINT) AS ad,
                CAST(NULL AS BIGINT) AS d2
         FROM ranked_raw WHERE rank <= 3
         UNION ALL
         SELECT 'pinned_raw', qid, cell, cid, rank, round(cos, 6),
                CAST(NULL AS BIGINT), CAST(NULL AS BIGINT)
         FROM ranked_raw WHERE rank <= 3
         UNION ALL
         SELECT 'current_pq', qid, cell, cid, rank,
                CAST(NULL AS DOUBLE), ad, d2
         FROM ranked_pq WHERE rank <= 3)
       ORDER BY phase, qid, rank""") { (s, d) =>
    import graft.ops.Incremental
    val e = Tables.embeddings(s, d)
      .select(col("vec_id"), quantize(col("embedding")).as("v"))
      .withColumn("n2", norm2Q(col("v")))
    val assign = Dedup.reuse(ivfAssign(e))
    val isQuery = col("vec_id") % 7 === 5
    // generation 1: the RAW tier
    val rawTable = writeIvfIndex(s, assign.filter(!isQuery), "ivf_d72")
    val cat = graft.Scratch.dir("graft_d72_cat") + "/index.catalog"
    Incremental.commitCatalogCas(cat)((_, _) => Seq(rawTable, "raw"))
    d72Catalog = cat

    val probesRaw = asProbes(assign.filter(isQuery))
    def rawProbe(phase: String, lines: Seq[String]): DataFrame = {
      require(lines(1) == "raw", s"raw probe against a ${lines(1)} tier")
      probeIvfTopK(s, lines.head, probesRaw, k = 3)
        .select(lit(phase).as("phase"), col("qid"), col("cell"), col("cid"),
          col("rank"), col("cosine"),
          lit(null).cast("long").as("ad"), lit(null).cast("long").as("d2"))
    }
    // lazy: the handle binds the raw table at construction and the
    // migration only READS it (the pq tier is a new table), so the
    // final union executes both phases in one overlapped job instead
    // of paying the pre-probe as its own checkpoint job (guide §2.6)
    val pre = rawProbe("pre_raw", Incremental.resolveCatalog(cat, expect = 2))

    // THE MIGRATION: codebook trained on the STORED generation's
    // vectors, encode pass reads the STORE (never the source fixture),
    // new generation CAS-published as the compressed tier
    val g1 = Incremental.resolveCatalog(cat, expect = 2)
    val stored = s.table(g1.head)
      .select(col("cell"), col("cid").as("vec_id"), col("cv2").as("v"))
    // store-trained seeds are the SURVIVING vec_id<64 ids (queries are
    // not stored), so re-key codes to their dense position — the
    // code==position LUT invariant pqAdcCol relies on; position order
    // equals vec_id order, so argmin tie-breaks are unchanged
    val cb = pqCodebook(stored.select(col("vec_id"), col("v")))
      .map(_.zipWithIndex.map { case ((_, v), i) => (i.toLong, v) })
    val pqTable = writeIvfPqIndex(s,
      stored.withColumn("codes", pqCodesCol(cb)), "ivfpq_d72",
      nBuckets = BucketedStore.bucketCountOf(s, g1.head))
    Incremental.commitCatalogCas(cat) { (_, _) => Seq(pqTable, "pq") }
    // the compression really happened: the migrated tier is codes-only
    require(s.table(pqTable).columns.toSeq == Seq("cell", "cid", "codes"),
      s"migrated tier must be codes-only: ${s.table(pqTable).columns.toSeq}")

    // a reader pinned to generation 1 still serves raw-tier answers
    val pinned = rawProbe("pinned_raw",
      Incremental.resolveCatalogVersion(cat, 1, expect = 2))
    // the current reader runs the compressed funnel
    val cur = Incremental.resolveCatalog(cat, expect = 2)
    require(cur(1) == "pq", s"catalog should declare the pq tier: $cur")
    val probesPq = assign.filter(isQuery)
      .select(col("vec_id").as("qid"), col("cell").as("qcell"),
        pqLutCol(cb).as("lut"))
    val queryVecs = assign.filter(isQuery)
      .select(col("vec_id").as("qid"), col("v").as("qv"), col("n2").as("qn2"))
    val corpus = e.select(col("vec_id").as("cid"), col("v").as("cv"),
      col("n2").as("cn2"))
    val curPq = probeIvfPqTopK(s.table(cur.head), probesPq, queryVecs,
        corpus, kAdc = 10, k = 3)
      .select(lit("current_pq").as("phase"), col("qid"), col("cell"),
        col("cid"), col("rank"),
        lit(null).cast("double").as("cosine"), col("ad"), col("d2"))
    pre.unionByName(pinned).unionByName(curPq)
      .orderBy("phase", "qid", "rank")
  }

  /** Catalog path of the most recent d72 run (test-only introspection). */
  @volatile private[graft] var d72Catalog: String = _

  /** d73 — CELL-COUNT GROWTH GATE for the vector tier: the d65 pattern
    * (census → pinned budget → bounded sizing ladder → gated migration)
    * on the IVF cell axis, closing the one measured 100× pathology that
    * still had a MANUAL trigger: probe cost under a fixed cell count is
    * per-cell-population-linear (BENCH_SCALE_r12.json: 74.9× at 100× under
    * 8 cells; 2.17× after re-laying at the grown count). The census is
    * ONE map-side-combined aggregation over the stored bucketed index
    * (total rows, non-empty cells, largest cell — the skew signal); the
    * gate is a PINNED per-cell row budget (128 — holds at sf0.001/0.01
    * at 500 vectors, fires at sf0.1 at 2000: the growth gate fires
    * exactly when the corpus grows, so both branches run across the
    * verify SFs); the sizing ladder is the bounded 8·2^k CASE hardcoded
    * on both sides (the d37 exact-cross-engine discipline, no fp log2).
    * When the gate fires, [[migrateIvfIndexCells]] runs and the new
    * (handle, cells) generation publishes through the CAS commit — the
    * concurrent-maintenance path s42 drills. Hash-checked: the census,
    * the decision, the TARGET count, and a top-3 cosine probe served
    * through the CURRENT generation (probes re-assigned against the
    * resolved generation's own stored centroids), so a migration that
    * mis-assigned even one vector is a ranking mismatch. */
  private val d73 = Q(
    "d73_cell_growth_gate",
    """WITH e AS (
         SELECT vec_id,
                list_transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) * 1000000) AS BIGINT)) AS v
         FROM embeddings),
       n AS MATERIALIZED (
         SELECT vec_id, v, CAST(list_sum(list_transform(v, x -> x * x)) AS BIGINT) AS n2 FROM e),
       cents8 AS (SELECT vec_id AS cent_id, v AS cv FROM n WHERE vec_id < 8),
       scored8 AS (
         SELECT n.vec_id, c.cent_id,
                row_number() OVER (PARTITION BY n.vec_id
                  ORDER BY CAST(list_sum(list_transform(generate_series(1, 64), i -> n.v[i] * c.cv[i])) AS BIGINT) DESC,
                           c.cent_id) AS rn
         FROM n, cents8 c),
       assign8 AS MATERIALIZED (SELECT vec_id, cent_id AS cell FROM scored8 WHERE rn = 1),
       census AS MATERIALIZED (
         SELECT CAST(sum(c) AS BIGINT) AS n_rows, count(*) AS n_cells,
                CAST(max(c) AS BIGINT) AS max_cell_rows
         FROM (SELECT cell, count(*) AS c FROM assign8 GROUP BY cell)),
       gate AS MATERIALIZED (
         SELECT n_rows, n_cells, max_cell_rows,
                n_rows >= 128 * 8 AS acted,
                CAST(8 AS BIGINT) AS cells_pre,
                CAST(CASE WHEN n_rows < 128 * 8 THEN 8
                          WHEN n_rows < 128 * 16 THEN 16
                          WHEN n_rows < 128 * 32 THEN 32
                          WHEN n_rows < 128 * 64 THEN 64
                          WHEN n_rows < 128 * 128 THEN 128
                          WHEN n_rows < 128 * 256 THEN 256
                          WHEN n_rows < 128 * 512 THEN 512
                          ELSE 1024 END AS BIGINT) AS cells_post
         FROM census),
       centsc AS (
         SELECT vec_id AS cent_id, v AS cv FROM n
         WHERE vec_id < (SELECT CASE WHEN acted THEN cells_post ELSE cells_pre END FROM gate)),
       scoredc AS (
         SELECT n.vec_id, n.v, n.n2, c.cent_id,
                row_number() OVER (PARTITION BY n.vec_id
                  ORDER BY CAST(list_sum(list_transform(generate_series(1, 64), i -> n.v[i] * c.cv[i])) AS BIGINT) DESC,
                           c.cent_id) AS rn
         FROM n, centsc c),
       assignc AS MATERIALIZED (
         SELECT vec_id, v, n2, cent_id AS cell FROM scoredc WHERE rn = 1),
       prep AS (
         SELECT q.vec_id AS qid, q.cell, c.vec_id AS cid,
                CAST(list_sum(list_transform(generate_series(1, 64), i -> q.v[i] * c.v[i])) AS BIGINT)
                  / (sqrt(q.n2) * sqrt(c.n2)) AS cos
         FROM assignc q JOIN assignc c ON q.cell = c.cell AND c.vec_id <> q.vec_id
         WHERE q.vec_id >= 10 AND q.vec_id < 15),
       pr AS (
         SELECT qid, cell, cid, cos,
                row_number() OVER (PARTITION BY qid ORDER BY cos DESC, cid) AS rank
         FROM prep)
       SELECT phase, n_rows, n_cells, max_cell_rows, acted, cells_pre, cells_post,
              qid, cell, cid, CAST(rank AS BIGINT) AS rank, cosine
       FROM (
         SELECT 'gate' AS phase, n_rows, n_cells, max_cell_rows, acted,
                cells_pre, cells_post,
                CAST(NULL AS BIGINT) AS qid, CAST(NULL AS BIGINT) AS cell,
                CAST(NULL AS BIGINT) AS cid, CAST(NULL AS BIGINT) AS rank,
                CAST(NULL AS DOUBLE) AS cosine
         FROM gate
         UNION ALL
         SELECT 'probe', CAST(NULL AS BIGINT), CAST(NULL AS BIGINT),
                CAST(NULL AS BIGINT), CAST(NULL AS BOOLEAN),
                CAST(NULL AS BIGINT), CAST(NULL AS BIGINT),
                qid, cell, cid, rank, round(cos, 6)
         FROM pr WHERE rank <= 3)
       ORDER BY phase, qid, rank""") { (s, d) =>
    import graft.ops.Incremental
    val e = Tables.embeddings(s, d)
      .select(col("vec_id"), quantize(col("embedding")).as("v"))
      .withColumn("n2", norm2Q(col("v")))
    // generation 1: the index at the 8-cell seed layout
    val t1 = writeIvfIndex(s, Dedup.reuse(ivfAssign(e)), "ivf_d73")
    val cat = graft.Scratch.dir("graft_d73_cat") + "/index.catalog"
    Incremental.commitCatalogCas(cat)((_, _) => Seq(t1, "8"))
    d73Catalog = cat
    // the census: ONE agg over the stored bucketed scan (ids only)
    val cur = Incremental.resolveCatalog(cat, expect = 2)
    val cellsPre = cur(1).toInt
    val perCell = s.table(cur.head).groupBy("cell").agg(count(lit(1)).as("c"))
    val cRow = perCell.agg(sum(col("c")).as("n_rows"),
      count(lit(1)).as("n_cells"), max(col("c")).as("max_cell_rows")).head
    val (nRows, nCells, maxCell) = (cRow.getLong(0), cRow.getLong(1), cRow.getLong(2))
    // pinned budget + bounded sizing ladder, hardcoded in the oracle —
    // the decision AND the target count are hash-checked, not trusted
    val budget = 128L
    val acted = nRows >= budget * cellsPre
    val cellsPost = Seq(8, 16, 32, 64, 128, 256, 512)
      .find(c => nRows < budget * c).getOrElse(1024)
    if (acted) {
      val t2 = migrateIvfIndexCells(s, cur.head, cellsPost, "d73m")
      Incremental.commitCatalogCas(cat) { (_, _) => Seq(t2, cellsPost.toString) }: Unit
    }
    import s.implicits._
    val gate = Seq((nRows, nCells, maxCell, acted, cellsPre.toLong, cellsPost.toLong))
      .toDF("n_rows", "n_cells", "max_cell_rows", "acted", "cells_pre", "cells_post")
      .select(lit("gate").as("phase"), col("n_rows"), col("n_cells"),
        col("max_cell_rows"), col("acted"), col("cells_pre"), col("cells_post"),
        lit(null).cast("long").as("qid"), lit(null).cast("long").as("cell"),
        lit(null).cast("long").as("cid"), lit(null).cast("long").as("rank"),
        lit(null).cast("double").as("cosine"))
    // the probe serves through the CURRENT generation — whichever branch
    // ran — with probes assigned against ITS stored centroids
    val fin = Incremental.resolveCatalog(cat, expect = 2)
    val cents = s.table(fin.head).filter(col("cid") < fin(1).toInt)
      .select(col("cid").as("cent_id"), col("cv2").as("cv"))
    val probes = ivfAssignAgainst(
        e.filter(col("vec_id") >= 10 && col("vec_id") < 15), cents)
      .select(col("vec_id").as("qid"), col("v").as("qv"),
        col("n2").as("qn2"), col("cell").as("qcell"))
    val probeRows = probeIvfTopK(s, fin.head, probes, k = 3)
      .select(lit("probe").as("phase"),
        lit(null).cast("long").as("n_rows"), lit(null).cast("long").as("n_cells"),
        lit(null).cast("long").as("max_cell_rows"),
        lit(null).cast("boolean").as("acted"),
        lit(null).cast("long").as("cells_pre"), lit(null).cast("long").as("cells_post"),
        col("qid"), col("cell"), col("cid"), col("rank"), col("cosine"))
    gate.unionByName(probeRows).orderBy("phase", "qid", "rank")
  }

  /** Catalog path of the most recent d73 run (test-only introspection). */
  @volatile private[graft] var d73Catalog: String = _

  /** d74 — COMPRESSED-TIER growth gate, the COMPOSED automation of the
    * measured cure (BENCH_SCALE_r13.json: fixed-8-cells compressed probe
    * 88.6 s at a 100× corpus → 11.9 s after cell migration + re-encode):
    * d73 gates the RAW tier, but the tier that actually serves a 100 TB
    * corpus is the compressed one, and its probe cost is per-cell
    * candidate population too — so the gate must drive BOTH stores
    * through one atomic commit. The catalog carries the TRIPLE (raw
    * handle, pq handle, cells); the census runs over the SERVING (pq)
    * index; when the pinned 128-rows-per-cell budget fires, the action
    * is [[migrateIvfIndexCells]] on the raw tier followed by the d72
    * encode fed from the MIGRATED store, and one CAS publish swaps the
    * triple — a reader can never see new cells on one tier and old on
    * the other. The codebook is retrained on the migrated store; since
    * migration is content-preserving its seeds are the same ids, which
    * an in-query guard asserts (re-encode is a re-LAYOUT: codes depend
    * on content, cells on geometry).
    *
    * Hash-checked: the census row (rows, non-empty cells, max cell,
    * decision, target — the d73/d65 discipline) and the full d63 funnel
    * through the CURRENT generation for 5 fixed probes: ADC from stored
    * codes at the RESOLVED cell count AND the exact integer d2 re-rank,
    * so a migration that mis-assigned a vector, re-encoded from the
    * wrong tier, or left the tiers at different cell counts is an
    * integer mismatch. Gate fires at sf0.1 (2000 vectors ≥ 1024) and
    * holds at sf0.001/0.01 (500) — both branches run across verify SFs. */
  private val d74 = Q(
    "d74_pq_tier_growth_gate",
    """WITH e AS (
         SELECT vec_id,
                list_transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) * 1000000) AS BIGINT)) AS v
         FROM embeddings),
       n AS MATERIALIZED (
         SELECT vec_id, v, CAST(list_sum(list_transform(v, x -> x * x)) AS BIGINT) AS n2 FROM e),
       census AS MATERIALIZED (
         SELECT CAST(count(*) AS BIGINT) AS n_rows FROM n),
       cents8 AS (SELECT vec_id AS cent_id, v AS cv FROM n WHERE vec_id < 8),
       assign8 AS MATERIALIZED (
         SELECT vec_id, cent_id AS cell FROM (
           SELECT n.vec_id, c.cent_id,
                  row_number() OVER (PARTITION BY n.vec_id
                    ORDER BY CAST(list_sum(list_transform(generate_series(1, 64), i -> n.v[i] * c.cv[i])) AS BIGINT) DESC,
                             c.cent_id) AS rn
           FROM n, cents8 c) t WHERE rn = 1),
       cells8 AS MATERIALIZED (
         SELECT count(DISTINCT cell) AS n_cells,
                CAST(max(c) AS BIGINT) AS max_cell_rows
         FROM (SELECT cell, count(*) AS c FROM assign8 GROUP BY cell)),
       gate AS MATERIALIZED (
         SELECT n_rows, n_cells, max_cell_rows,
                n_rows >= 128 * 8 AS acted,
                CAST(8 AS BIGINT) AS cells_pre,
                CAST(CASE WHEN n_rows < 128 * 8 THEN 8
                          WHEN n_rows < 128 * 16 THEN 16
                          WHEN n_rows < 128 * 32 THEN 32
                          WHEN n_rows < 128 * 64 THEN 64
                          WHEN n_rows < 128 * 128 THEN 128
                          WHEN n_rows < 128 * 256 THEN 256
                          WHEN n_rows < 128 * 512 THEN 512
                          ELSE 1024 END AS BIGINT) AS cells_post
         FROM census, cells8),
       centsc AS (
         SELECT vec_id AS cent_id, v AS cv FROM n
         WHERE vec_id < (SELECT CASE WHEN acted THEN cells_post ELSE cells_pre END FROM gate)),
       assignc AS MATERIALIZED (
         SELECT vec_id, cell FROM (
           SELECT n.vec_id, c.cent_id AS cell,
                  row_number() OVER (PARTITION BY n.vec_id
                    ORDER BY CAST(list_sum(list_transform(generate_series(1, 64), i -> n.v[i] * c.cv[i])) AS BIGINT) DESC,
                             c.cent_id) AS rn
           FROM n, centsc c) t WHERE rn = 1),
       subs AS (SELECT unnest(generate_series(0, 7)) AS s),
       vs AS (SELECT vec_id, s, list_slice(v, s * 8 + 1, s * 8 + 8) AS sv
              FROM e CROSS JOIN subs),
       cbs AS MATERIALIZED (
         SELECT vec_id AS code, s, sv AS cv FROM vs WHERE vec_id < 64),
       enc AS MATERIALIZED (
         SELECT vec_id, s, code FROM (
           SELECT v.vec_id, v.s, c.code,
                  row_number() OVER (PARTITION BY v.vec_id, v.s
                    ORDER BY CAST(list_sum(list_transform(generate_series(1, 8),
                               i -> (v.sv[i] - c.cv[i]) * (v.sv[i] - c.cv[i]))) AS BIGINT) ASC,
                             c.code) AS rn
           FROM vs v JOIN cbs c ON v.s = c.s) t WHERE rn = 1),
       qa AS MATERIALIZED (
         SELECT a.vec_id AS qid, a.cell, n.v AS qv, n.n2 AS qn2
         FROM assignc a JOIN n ON n.vec_id = a.vec_id
         WHERE a.vec_id >= 10 AND a.vec_id < 15),
       qs AS MATERIALIZED (
         SELECT vec_id AS qid, s, sv FROM vs WHERE vec_id >= 10 AND vec_id < 15),
       adc AS MATERIALIZED (
         SELECT qa.qid, qa.cell, en.vec_id AS cid,
                CAST(sum(list_sum(list_transform(generate_series(1, 8),
                  i -> (q.sv[i] - c.cv[i]) * (q.sv[i] - c.cv[i])))) AS BIGINT) AS ad
         FROM qa
         JOIN assignc ca ON ca.cell = qa.cell AND ca.vec_id <> qa.qid
         JOIN enc en ON en.vec_id = ca.vec_id
         JOIN qs q ON q.qid = qa.qid AND q.s = en.s
         JOIN cbs c ON c.s = en.s AND c.code = en.code
         GROUP BY qa.qid, qa.cell, en.vec_id),
       cand AS (
         SELECT qid, cell, cid, ad FROM (
           SELECT qid, cell, cid, ad,
                  row_number() OVER (PARTITION BY qid ORDER BY ad ASC, cid) AS rk
           FROM adc) t WHERE rk <= 10),
       refined AS (
         SELECT cand.qid, cand.cell, cand.cid, cand.ad,
                qa.qn2 + c.n2 - 2 * CAST(list_sum(list_transform(generate_series(1, 64),
                  i -> qa.qv[i] * c.v[i])) AS BIGINT) AS d2
         FROM cand
         JOIN qa ON qa.qid = cand.qid
         JOIN n c ON c.vec_id = cand.cid),
       ranked AS (
         SELECT qid, cell, cid, ad, d2,
                row_number() OVER (PARTITION BY qid ORDER BY d2 ASC, cid) AS rank
         FROM refined)
       SELECT phase, n_rows, n_cells, max_cell_rows, acted, cells_pre, cells_post,
              qid, cell, cid, CAST(rank AS BIGINT) AS rank, ad, d2
       FROM (
         SELECT 'gate' AS phase, n_rows, n_cells, max_cell_rows, acted,
                cells_pre, cells_post,
                CAST(NULL AS BIGINT) AS qid, CAST(NULL AS BIGINT) AS cell,
                CAST(NULL AS BIGINT) AS cid, CAST(NULL AS BIGINT) AS rank,
                CAST(NULL AS BIGINT) AS ad, CAST(NULL AS BIGINT) AS d2
         FROM gate
         UNION ALL
         SELECT 'probe_pq', CAST(NULL AS BIGINT), CAST(NULL AS BIGINT),
                CAST(NULL AS BIGINT), CAST(NULL AS BOOLEAN),
                CAST(NULL AS BIGINT), CAST(NULL AS BIGINT),
                qid, cell, cid, rank, ad, d2
         FROM ranked WHERE rank <= 3)
       ORDER BY phase, qid, rank""") { (s, d) =>
    import graft.ops.Incremental
    val e = Tables.embeddings(s, d)
      .select(col("vec_id"), quantize(col("embedding")).as("v"))
      .withColumn("n2", norm2Q(col("v")))
    // generation 1: BOTH tiers at the 8-cell seed layout + the count
    val assign8 = Dedup.reuse(ivfAssign(e))
    val raw1 = writeIvfIndex(s, assign8, "ivf_d74r")
    def codebookOf(rawTable: String): Array[Array[(Long, Array[Long])]] = {
      val cb = pqCodebook(s.table(rawTable)
        .select(col("cid").as("vec_id"), col("cv2").as("v")))
      // seeds are vec_id<64 corpus members: dense position == vec_id, so
      // the code==position ADC-LUT invariant holds without re-keying
      cb.foreach(sub => require(sub.zipWithIndex.forall { case ((id, _), i) => id == i },
        "store-trained seeds must be the dense vec_id<64 prefix"))
      cb
    }
    def encodePq(rawTable: String, tag: String): String = {
      val stored = s.table(rawTable)
        .select(col("cell"), col("cid").as("vec_id"), col("cv2").as("v"))
      // the compressed tier's physical layout rides the RAW tier's
      // resolved bucket count, so a cell migration grows both tiers
      writeIvfPqIndex(s,
        stored.withColumn("codes", pqCodesCol(codebookOf(rawTable))), tag,
        nBuckets = BucketedStore.bucketCountOf(s, rawTable))
    }
    val pq1 = encodePq(raw1, "ivfpq_d74")
    val cat = graft.Scratch.dir("graft_d74_cat") + "/tiers.catalog"
    Incremental.commitCatalogCas(cat)((_, _) => Seq(raw1, pq1, "8"))
    d74Catalog = cat
    // census over the SERVING tier (the pq index: ids only)
    val cur = Incremental.resolveCatalog(cat, expect = 3)
    val cellsPre = cur(2).toInt
    val perCell = s.table(cur(1)).groupBy("cell").agg(count(lit(1)).as("c"))
    val cRow = perCell.agg(sum(col("c")).as("n_rows"),
      count(lit(1)).as("n_cells"), max(col("c")).as("max_cell_rows")).head
    val (nRows, nCells, maxCell) = (cRow.getLong(0), cRow.getLong(1), cRow.getLong(2))
    val budget = 128L
    val acted = nRows >= budget * cellsPre
    val cellsPost = Seq(8, 16, 32, 64, 128, 256, 512)
      .find(c => nRows < budget * c).getOrElse(1024)
    if (acted) {
      // the composed action: raw re-layout, pq re-encode FROM the
      // migrated store, ONE atomic publish of the triple
      val raw2 = migrateIvfIndexCells(s, cur.head, cellsPost, "d74m")
      val pq2 = encodePq(raw2, "ivfpq_d74m")
      Incremental.commitCatalogCas(cat) { (_, _) =>
        Seq(raw2, pq2, cellsPost.toString)
      }: Unit
    }
    import s.implicits._
    val gate = Seq((nRows, nCells, maxCell, acted, cellsPre.toLong, cellsPost.toLong))
      .toDF("n_rows", "n_cells", "max_cell_rows", "acted", "cells_pre", "cells_post")
      .select(lit("gate").as("phase"), col("n_rows"), col("n_cells"),
        col("max_cell_rows"), col("acted"), col("cells_pre"), col("cells_post"),
        lit(null).cast("long").as("qid"), lit(null).cast("long").as("cell"),
        lit(null).cast("long").as("cid"), lit(null).cast("long").as("rank"),
        lit(null).cast("long").as("ad"), lit(null).cast("long").as("d2"))
    // the full compressed funnel through the CURRENT triple: both tiers
    // must sit at the SAME resolved cell count or the ADC/refine hashes
    // cannot both match
    val fin = Incremental.resolveCatalog(cat, expect = 3)
    val cbF = codebookOf(fin.head)
    val cents = s.table(fin.head).filter(col("cid") < fin(2).toInt)
      .select(col("cid").as("cent_id"), col("cv2").as("cv"))
    val assignQ = ivfAssignAgainst(
      e.filter(col("vec_id") >= 10 && col("vec_id") < 15), cents)
    val probes = assignQ.select(col("vec_id").as("qid"), col("cell").as("qcell"),
      pqLutCol(cbF).as("lut"))
    val queryVecs = assignQ.select(col("vec_id").as("qid"), col("v").as("qv"),
      col("n2").as("qn2"))
    // d75's cell-local refine: candidates live in the probed cells, and
    // the raw tier is bucketed by cell — fetch exact vectors from its
    // pruned buckets instead of scanning the corpus (RoundFifteenSpec
    // proves equality with the corpus fetch and the pruning itself)
    val qcells = assignQ.select(col("cell")).distinct()
      .collect().map(_.getLong(0)).toSeq
    val localFetch = s.table(fin.head)
      .filter(col("cell").isin(qcells.map(Long.box): _*))
      .select(col("cid"), col("cv2").as("cv"), col("cn2"))
    val probeRows = probeIvfPqTopK(
        s.table(fin(1)).filter(col("cell").isin(qcells.map(Long.box): _*)),
        probes, queryVecs, localFetch, kAdc = 10, k = 3)
      .select(lit("probe_pq").as("phase"),
        lit(null).cast("long").as("n_rows"), lit(null).cast("long").as("n_cells"),
        lit(null).cast("long").as("max_cell_rows"),
        lit(null).cast("boolean").as("acted"),
        lit(null).cast("long").as("cells_pre"), lit(null).cast("long").as("cells_post"),
        col("qid"), col("cell"), col("cid"), col("rank"), col("ad"), col("d2"))
    gate.unionByName(probeRows).orderBy("phase", "qid", "rank")
  }

  /** Catalog path of the most recent d74 run (test-only introspection). */
  @volatile private[graft] var d74Catalog: String = _

  /** d75 — CELL-LOCAL EXACT REFINE: the compressed funnel's refine leg
    * fed from the RAW TIER's bucketed layout instead of a corpus scan.
    * [[probeIvfPqTopK]]'s refine step fetches candidate vectors with
    * `corpus.join(broadcast(cand))` — a broadcast probe whose BUILD side
    * is tiny but whose STREAM side scans the whole corpus, and
    * BENCH_SCALE_r13.json measured exactly that residual: after the d74 cell
    * cure the fixed-query compressed probe's remaining cost is the
    * corpus-∝ refine fetch. At 100 TB that is the funnel's bottleneck.
    *
    * The fix is locality the store already has: every ADC candidate
    * comes from a PROBED CELL, and the raw tier ([[writeIvfIndex]])
    * is bucketed BY cell — so the refine fetch filters the raw tier to
    * the probe batch's cells (driver-known, bounded by the query batch:
    * ≤ queries × nprobe literals) and Spark's bucket pruning reads ONLY
    * those buckets (`SelectedBucketsCount` in the scan, plan-asserted by
    * RoundFifteenSpec). At d73's cells-∝-corpus discipline the refine
    * leg reads nprobe/cells of the tier — constant per-cell work — where
    * the corpus fetch read all of it. Raw floats still never enter the
    * compressed scan; they are read from the raw tier, which serves
    * point-lookups exactly as a deployed IVF system serves its inverted
    * lists. Hash-checked: the full funnel (ADC distance AND exact d2)
    * for 5 fixed probes, so a refine that fetched from the wrong cell,
    * missed a candidate, or re-ranked on stale vectors is an integer
    * mismatch. RoundFifteenSpec additionally proves cell-local ≡
    * corpus-fetch row-for-row and that the pruned scan touches fewer
    * buckets than the table has.
    *
    * Priced honestly (BENCH_SCALE_r13.json, 200k vectors, 1024 cells): the
    * saving is VOLUMETRIC — the pruned scan's bytes are nprobe/cells of
    * the tier — while the pruned scan's WALL at toy scale is
    * task-launch-bound, because Spark schedules one task per bucket
    * even when pruning empties it, and a 195-row bucket file costs more
    * to open than to read. So the serving shape ties on wall locally
    * and the bulk shape (2100 queries covering 811/1024 cells) should
    * keep the full-tier fetch — locality buys nothing when the batch
    * touches every cell. At production bucket sizes (the same 1024
    * cells over 10^9+ vectors → multi-GB buckets) the bytes term
    * dominates and the pruned fetch is what keeps a probe batch from
    * re-reading the tier end to end. (Where the planner decides the
    * bucket distribution is unnecessary it auto-disables the bucketed
    * scan — the byte bound survives that fallback too, because the
    * `In(cell, …)` predicate pushes to parquet over the cell-SORTED
    * bucket files and skips non-matching row groups.) */
  private val d75 = Q(
    "d75_cell_local_refine",
    """WITH e AS (
         SELECT vec_id,
                list_transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) * 1000000) AS BIGINT)) AS v
         FROM embeddings),
       n AS MATERIALIZED (
         SELECT vec_id, v, CAST(list_sum(list_transform(v, x -> x * x)) AS BIGINT) AS n2 FROM e),
       cents8 AS (SELECT vec_id AS cent_id, v AS cv FROM n WHERE vec_id < 8),
       assign8 AS MATERIALIZED (
         SELECT vec_id, cent_id AS cell FROM (
           SELECT n.vec_id, c.cent_id,
                  row_number() OVER (PARTITION BY n.vec_id
                    ORDER BY CAST(list_sum(list_transform(generate_series(1, 64), i -> n.v[i] * c.cv[i])) AS BIGINT) DESC,
                             c.cent_id) AS rn
           FROM n, cents8 c) t WHERE rn = 1),
       subs AS (SELECT unnest(generate_series(0, 7)) AS s),
       vs AS (SELECT vec_id, s, list_slice(v, s * 8 + 1, s * 8 + 8) AS sv
              FROM e CROSS JOIN subs),
       cbs AS MATERIALIZED (SELECT vec_id AS code, s, sv AS cv FROM vs WHERE vec_id < 64),
       enc AS MATERIALIZED (
         SELECT vec_id, s, code FROM (
           SELECT v.vec_id, v.s, c.code,
                  row_number() OVER (PARTITION BY v.vec_id, v.s
                    ORDER BY CAST(list_sum(list_transform(generate_series(1, 8),
                               i -> (v.sv[i] - c.cv[i]) * (v.sv[i] - c.cv[i]))) AS BIGINT) ASC,
                             c.code) AS rn
           FROM vs v JOIN cbs c ON v.s = c.s) t WHERE rn = 1),
       qa AS MATERIALIZED (
         SELECT a.vec_id AS qid, a.cell, n.v AS qv, n.n2 AS qn2
         FROM assign8 a JOIN n ON n.vec_id = a.vec_id
         WHERE a.vec_id >= 10 AND a.vec_id < 15),
       qs AS MATERIALIZED (
         SELECT vec_id AS qid, s, sv FROM vs WHERE vec_id >= 10 AND vec_id < 15),
       adc AS MATERIALIZED (
         SELECT qa.qid, qa.cell, en.vec_id AS cid,
                CAST(sum(list_sum(list_transform(generate_series(1, 8),
                  i -> (q.sv[i] - c.cv[i]) * (q.sv[i] - c.cv[i])))) AS BIGINT) AS ad
         FROM qa
         JOIN assign8 ca ON ca.cell = qa.cell AND ca.vec_id <> qa.qid
         JOIN enc en ON en.vec_id = ca.vec_id
         JOIN qs q ON q.qid = qa.qid AND q.s = en.s
         JOIN cbs c ON c.s = en.s AND c.code = en.code
         GROUP BY qa.qid, qa.cell, en.vec_id),
       cand AS (
         SELECT qid, cell, cid, ad FROM (
           SELECT qid, cell, cid, ad,
                  row_number() OVER (PARTITION BY qid ORDER BY ad ASC, cid) AS rk
           FROM adc) t WHERE rk <= 10),
       refined AS (
         SELECT cand.qid, cand.cell, cand.cid, cand.ad,
                qa.qn2 + c.n2 - 2 * CAST(list_sum(list_transform(generate_series(1, 64),
                  i -> qa.qv[i] * c.v[i])) AS BIGINT) AS d2
         FROM cand
         JOIN qa ON qa.qid = cand.qid
         JOIN n c ON c.vec_id = cand.cid)
       SELECT qid, cell, cid, CAST(rank AS BIGINT) AS rank, ad, d2
       FROM (SELECT qid, cell, cid, ad, d2,
                    row_number() OVER (PARTITION BY qid ORDER BY d2 ASC, cid) AS rank
             FROM refined) t
       WHERE rank <= 3 ORDER BY qid, rank""") { (s, d) =>
    val e = Tables.embeddings(s, d)
      .select(col("vec_id"), quantize(col("embedding")).as("v"))
      .withColumn("n2", norm2Q(col("v")))
    // the two-tier store: raw vectors AND codes both bucketed by cell
    val raw = writeIvfIndex(s, Dedup.reuse(ivfAssign(e)), "ivf_d75")
    val cb = pqCodebook(s.table(raw)
      .select(col("cid").as("vec_id"), col("cv2").as("v")))
    cb.foreach(sub => require(sub.zipWithIndex.forall { case ((id, _), i) => id == i },
      "store-trained seeds must be the dense vec_id<64 prefix"))
    val pq = writeIvfPqIndex(s, s.table(raw)
      .select(col("cell"), col("cid").as("vec_id"), col("cv2").as("v"))
      .withColumn("codes", pqCodesCol(cb)), "ivfpq_d75",
      nBuckets = BucketedStore.bucketCountOf(s, raw))
    val cents = s.table(raw).filter(col("cid") < 8)
      .select(col("cid").as("cent_id"), col("cv2").as("cv"))
    val assignQ = ivfAssignAgainst(
      e.filter(col("vec_id") >= 10 && col("vec_id") < 15), cents)
    val probes = assignQ.select(col("vec_id").as("qid"),
      col("cell").as("qcell"), pqLutCol(cb).as("lut"))
    val queryVecs = assignQ.select(col("vec_id").as("qid"),
      col("v").as("qv"), col("n2").as("qn2"))
    // the probed cells: driver-known literals bounded by the query
    // batch (≤ 5 here; ≤ queries × nprobe in general) — the IN list is
    // what makes the raw-tier scan bucket-prunable
    val cells = assignQ.select(col("cell")).distinct()
      .collect().map(_.getLong(0)).sorted.toSeq
    val localFetch = s.table(raw)
      .filter(col("cell").isin(cells.map(Long.box): _*))
      .select(col("cid"), col("cv2").as("cv"), col("cn2"))
    // the ADC leg prunes the SAME way: the compressed tier is bucketed
    // by cell too, and its scan schedules one task per bucket whether
    // pruned or not — so reading only the probed cells' code buckets is
    // strictly fewer bytes at equal task count
    val prunedIdx = s.table(pq)
      .filter(col("cell").isin(cells.map(Long.box): _*))
    probeIvfPqTopK(prunedIdx, probes, queryVecs, localFetch,
        kAdc = 10, k = 3)
      .orderBy("qid", "rank")
  }

  /** d76 — MULTI-PROBE SERVING with a MEASURED RECALL CENSUS on the
    * MAINTAINED funnel: the r13 verdict's two open serving-quality
    * claims closed in one query. d35 measured the nprobe ∈ {1,2,4}
    * operating curve, but only on a TRANSIENT in-query index; every
    * stored-funnel probe (d63/d72/d74/d75/s39) served the query's own
    * cell only — nprobe=1, the lowest-recall point of the very curve
    * d35 published — and none of them reported recall at all: the
    * stored funnel hash-checked ADC and exact distances but never its
    * quality vs exact ground truth.
    *
    * This query serves the CURRENT catalog generation (the d74
    * discipline: raw + PQ tier + cell count published as one triple,
    * probes resolve the catalog first) at nprobe ∈ {1,2,4} and emits
    * recall@10 vs the exact integer-L2 top-10 per (nprobe, query) —
    * the d55 measure-the-heuristic rule applied to the serving path.
    * Multi-probe is d75's pruned fetch with a GROWN IN-list: the probe
    * frame carries one row per (query, probed cell) — ranked centroid
    * top-nprobe, the Lloyd's-nearest-cells rule — and BOTH tiers'
    * scans stay pruned to the probed cells (union over the batch,
    * still ≤ queries × nprobe literals), so the plan SHAPE is
    * unchanged from nprobe=1: the ADC leg reads nprobe/cells of the
    * code tier, the refine leg nprobe/cells of the raw tier, and the
    * index never shuffles. The exact-ground-truth leg is corpus-∝ BY
    * DEFINITION (it is the measuring stick, not the serving path —
    * d12/d35's discipline) and rides a 15-query broadcast.
    *
    * Everything is hash-checked as integers/fixed-round decimals: the
    * DuckDB oracle rebuilds assignment, PQ codebook, encodings, the
    * per-nprobe ADC→refine funnel, AND the exact top-10, so a probe
    * that read a wrong cell, a LUT mismatch, or an off-by-one in the
    * candidate cut all surface as a recall-row mismatch.
    * RoundSixteenSpec additionally asserts the pruned plan shape at
    * nprobe=4 and that mean recall is monotone non-decreasing in
    * nprobe — what each extra probed cell BUYS, measured on the
    * layout that actually serves. */
  private val d76 = Q(
    "d76_multiprobe_recall",
    """WITH e AS (
         SELECT vec_id,
                list_transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) * 1000000) AS BIGINT)) AS v
         FROM embeddings),
       n AS MATERIALIZED (
         SELECT vec_id, v, CAST(list_sum(list_transform(v, x -> x * x)) AS BIGINT) AS n2 FROM e),
       cents8 AS (SELECT vec_id AS cent_id, v AS cv FROM n WHERE vec_id < 8),
       scored AS MATERIALIZED (
         SELECT n.vec_id, c.cent_id,
                row_number() OVER (PARTITION BY n.vec_id
                  ORDER BY CAST(list_sum(list_transform(generate_series(1, 64), i -> n.v[i] * c.cv[i])) AS BIGINT) DESC,
                           c.cent_id) AS rn
         FROM n, cents8 c),
       assign8 AS MATERIALIZED (SELECT vec_id, cent_id AS cell FROM scored WHERE rn = 1),
       subs AS (SELECT unnest(generate_series(0, 7)) AS s),
       vs AS (SELECT vec_id, s, list_slice(v, s * 8 + 1, s * 8 + 8) AS sv
              FROM e CROSS JOIN subs),
       cbs AS MATERIALIZED (SELECT vec_id AS code, s, sv AS cv FROM vs WHERE vec_id < 64),
       enc AS MATERIALIZED (
         SELECT vec_id, s, code FROM (
           SELECT v.vec_id, v.s, c.code,
                  row_number() OVER (PARTITION BY v.vec_id, v.s
                    ORDER BY CAST(list_sum(list_transform(generate_series(1, 8),
                               i -> (v.sv[i] - c.cv[i]) * (v.sv[i] - c.cv[i]))) AS BIGINT) ASC,
                             c.code) AS rn
           FROM vs v JOIN cbs c ON v.s = c.s) t WHERE rn = 1),
       qa AS MATERIALIZED (
         SELECT vec_id AS qid, v AS qv, n2 AS qn2 FROM n
         WHERE vec_id >= 10 AND vec_id < 25),
       qs AS MATERIALIZED (
         SELECT vec_id AS qid, s, sv FROM vs WHERE vec_id >= 10 AND vec_id < 25),
       probes AS (SELECT * FROM (VALUES (1), (2), (4)) AS t(nprobe)),
       cellrank AS (
         SELECT vec_id AS qid, cent_id AS cell, rn AS cr
         FROM scored WHERE vec_id >= 10 AND vec_id < 25 AND rn <= 4),
       adc AS MATERIALIZED (
         SELECT p.nprobe, cr.qid, en.vec_id AS cid,
                CAST(sum(list_sum(list_transform(generate_series(1, 8),
                  i -> (q.sv[i] - c.cv[i]) * (q.sv[i] - c.cv[i])))) AS BIGINT) AS ad
         FROM cellrank cr
         JOIN probes p ON cr.cr <= p.nprobe
         JOIN assign8 ca ON ca.cell = cr.cell AND ca.vec_id <> cr.qid
         JOIN enc en ON en.vec_id = ca.vec_id
         JOIN qs q ON q.qid = cr.qid AND q.s = en.s
         JOIN cbs c ON c.s = en.s AND c.code = en.code
         GROUP BY p.nprobe, cr.qid, en.vec_id),
       cand AS (
         SELECT nprobe, qid, cid FROM (
           SELECT nprobe, qid, cid,
                  row_number() OVER (PARTITION BY nprobe, qid
                    ORDER BY ad ASC, cid) AS rk
           FROM adc) t WHERE rk <= 20),
       fun AS MATERIALIZED (
         SELECT nprobe, qid, cid FROM (
           SELECT cand.nprobe, cand.qid, cand.cid,
                  row_number() OVER (PARTITION BY cand.nprobe, cand.qid
                    ORDER BY qa.qn2 + c.n2 - 2 * CAST(list_sum(list_transform(generate_series(1, 64),
                      i -> qa.qv[i] * c.v[i])) AS BIGINT) ASC, cand.cid) AS rank
           FROM cand JOIN qa ON qa.qid = cand.qid
                     JOIN n c ON c.vec_id = cand.cid) t WHERE rank <= 10),
       gt AS MATERIALIZED (
         SELECT qid, cid FROM (
           SELECT qa.qid, c.vec_id AS cid,
                  row_number() OVER (PARTITION BY qa.qid
                    ORDER BY qa.qn2 + c.n2 - 2 * CAST(list_sum(list_transform(generate_series(1, 64),
                      i -> qa.qv[i] * c.v[i])) AS BIGINT) ASC, c.vec_id) AS rank
           FROM qa JOIN n c ON c.vec_id <> qa.qid) t WHERE rank <= 10),
       overlap AS (
         SELECT p.nprobe, g.qid, count(f.cid) AS n_overlap
         FROM gt g CROSS JOIN probes p
         LEFT JOIN fun f
           ON f.nprobe = p.nprobe AND f.qid = g.qid AND f.cid = g.cid
         GROUP BY p.nprobe, g.qid)
       SELECT nprobe, qid, n_overlap,
              round(n_overlap / 10.0, 4) AS recall_at_10
       FROM overlap ORDER BY nprobe, qid""") { (s, d) =>
    val e = Tables.embeddings(s, d)
      .select(col("vec_id"), quantize(col("embedding")).as("v"))
      .withColumn("n2", norm2Q(col("v")))
    // the maintained generation: both tiers + the cell count behind one
    // catalog triple; the probe path resolves the CURRENT generation
    val raw = writeIvfIndex(s, Dedup.reuse(ivfAssign(e)), "ivf_d76")
    val cb = pqCodebook(s.table(raw)
      .select(col("cid").as("vec_id"), col("cv2").as("v")))
    cb.foreach(sub => require(sub.zipWithIndex.forall { case ((id, _), i) => id == i },
      "store-trained seeds must be the dense vec_id<64 prefix"))
    val pq = writeIvfPqIndex(s, s.table(raw)
      .select(col("cell"), col("cid").as("vec_id"), col("cv2").as("v"))
      .withColumn("codes", pqCodesCol(cb)), "ivfpq_d76",
      nBuckets = BucketedStore.bucketCountOf(s, raw))
    val cat = graft.Scratch.dir("graft_d76_cat") + "/tiers.catalog"
    Incremental.commitCatalogCas(cat)((_, _) => Seq(raw, pq, "8"))
    val cur = Incremental.resolveCatalog(cat, expect = 3)
    val cents = s.table(cur.head).filter(col("cid") < cur(2).toInt)
      .select(col("cid").as("cent_id"), col("cv2").as("cv"))
    val isQuery = col("vec_id") >= 10 && col("vec_id") < 25
    // one centroid-ranking pass (queries × k-bounded centroid broadcast)
    // serves every nprobe slice
    val wc = Window.partitionBy(col("vec_id")).orderBy(col("dot").desc, col("cent_id"))
    val ranked = Dedup.reuse(e.filter(isQuery).crossJoin(broadcast(cents))
      .withColumn("dot", dotQ(col("v"), col("cv")))
      .withColumn("cr", row_number().over(wc))
      .filter(col("cr") <= 4))
    val queryVecs = e.filter(isQuery).select(col("vec_id").as("qid"),
      col("v").as("qv"), col("n2").as("qn2"))
    val funnel = Seq(1, 2, 4).map { np =>
      // one probe row per (query, probed cell): probeIvfPqTopK's join
      // on cell === qcell makes multi-probe a data change, not a plan
      // change — candidates union over the probed cells, ranked once
      val probeRows = ranked.filter(col("cr") <= np)
        .select(col("vec_id").as("qid"), col("cent_id").as("qcell"),
          pqLutCol(cb).as("lut"))
      // the probe batch's cell union: driver-known literals, ≤ queries
      // × nprobe — the IN-list that prunes BOTH tiers' bucketed scans
      val cells = ranked.filter(col("cr") <= np).select(col("cent_id"))
        .distinct().collect().map(_.getLong(0)).sorted.toSeq
      val localFetch = s.table(cur.head)
        .filter(col("cell").isin(cells.map(Long.box): _*))
        .select(col("cid"), col("cv2").as("cv"), col("cn2"))
      val prunedIdx = s.table(cur(1))
        .filter(col("cell").isin(cells.map(Long.box): _*))
      probeIvfPqTopK(prunedIdx, probeRows, queryVecs, localFetch,
          kAdc = 20, k = 10)
        .select(lit(np).as("inprobe"), col("qid").as("iqid"),
          col("cid").as("icid"))
    }.reduce(_ unionByName _)
    // exact ground truth from the SAME generation's raw tier — the
    // measuring stick is corpus-∝ by definition (d12/d35 discipline)
    val wg = Window.partitionBy(col("qid")).orderBy(col("d2").asc, col("cid"))
    val gt = s.table(cur.head)
      .crossJoin(broadcast(queryVecs))
      .filter(col("cid") =!= col("qid"))
      .withColumn("d2",
        col("qn2") + col("cn2") - lit(2L) * dotQ(col("qv"), col("cv2")))
      .withColumn("rank", row_number().over(wg))
      .filter(col("rank") <= 10)
      .select(col("qid"), col("cid"))
    gt.select(col("*"), explode(array(lit(1), lit(2), lit(4))).as("nprobe"))
      .join(funnel,
        col("inprobe") === col("nprobe") && col("iqid") === col("qid")
          && col("icid") === col("cid"), "left")
      .groupBy("nprobe", "qid")
      .agg(count(col("icid")).as("n_overlap"))
      .select(col("nprobe"), col("qid"), col("n_overlap"),
        round(col("n_overlap") / 10.0, 4).as("recall_at_10"))
      .orderBy("nprobe", "qid")
  }

  /** d77 — NPROBE AUTO-TUNING GATE: d76 measures the nprobe operating
    * curve on the maintained funnel; d77 closes the loop the way every
    * gated family here does (d62 drift, d65 growth, d73 cells): the
    * measurement DECIDES, and the decision is itself hash-checked. The
    * census half reruns d76's recall sweep (nprobe ∈ {1,2,4} on a
    * 15-query sample vs exact ground truth, through the CURRENT
    * catalog generation); the gate picks the SMALLEST nprobe whose
    * total overlap meets an integer threshold (Σ n_overlap ≥ 53 of
    * 150 — recall ≥ ~0.35, integer so the branch cannot flap on float
    * rounding), falling back to the largest probed depth when no
    * setting meets it — serve as well as the index CAN rather than
    * refusing. The serving half then probes a DISJOINT query batch at
    * the chosen depth through d75/d76's pruned two-tier funnel: the
    * operating point a production funnel would deploy, derived from
    * measurement instead of guessed. Branch diversity across the
    * verify SFs is real: the sums (45/61/69 at sf0.001, 31/53/64 at
    * sf0.01, 29/32/40 at sf0.1) choose nprobe=2, nprobe=2, and the
    * fallback nprobe=4 respectively — both branches oracle-checked.
    * The decision input is a 3-row collect (nprobe → Σ overlap), the
    * d73 bounded-census discipline; everything else stays distributed
    * and bucket-pruned. The DuckDB oracle recomputes census, choice,
    * AND the served funnel (ADC + exact d2 integers), so a wrong
    * branch, a wrong threshold compare, or a serve at the wrong depth
    * is a hash mismatch. */
  private val d77 = Q(
    "d77_nprobe_autotune",
    """WITH e AS (
         SELECT vec_id,
                list_transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) * 1000000) AS BIGINT)) AS v
         FROM embeddings),
       n AS MATERIALIZED (
         SELECT vec_id, v, CAST(list_sum(list_transform(v, x -> x * x)) AS BIGINT) AS n2 FROM e),
       cents8 AS (SELECT vec_id AS cent_id, v AS cv FROM n WHERE vec_id < 8),
       scored AS MATERIALIZED (
         SELECT n.vec_id, c.cent_id,
                row_number() OVER (PARTITION BY n.vec_id
                  ORDER BY CAST(list_sum(list_transform(generate_series(1, 64), i -> n.v[i] * c.cv[i])) AS BIGINT) DESC,
                           c.cent_id) AS rn
         FROM n, cents8 c),
       assign8 AS MATERIALIZED (SELECT vec_id, cent_id AS cell FROM scored WHERE rn = 1),
       subs AS (SELECT unnest(generate_series(0, 7)) AS s),
       vs AS (SELECT vec_id, s, list_slice(v, s * 8 + 1, s * 8 + 8) AS sv
              FROM e CROSS JOIN subs),
       cbs AS MATERIALIZED (SELECT vec_id AS code, s, sv AS cv FROM vs WHERE vec_id < 64),
       enc AS MATERIALIZED (
         SELECT vec_id, s, code FROM (
           SELECT v.vec_id, v.s, c.code,
                  row_number() OVER (PARTITION BY v.vec_id, v.s
                    ORDER BY CAST(list_sum(list_transform(generate_series(1, 8),
                               i -> (v.sv[i] - c.cv[i]) * (v.sv[i] - c.cv[i]))) AS BIGINT) ASC,
                             c.code) AS rn
           FROM vs v JOIN cbs c ON v.s = c.s) t WHERE rn = 1),
       qa AS MATERIALIZED (
         SELECT vec_id AS qid, v AS qv, n2 AS qn2 FROM n
         WHERE vec_id >= 10 AND vec_id < 25),
       qs AS MATERIALIZED (
         SELECT vec_id AS qid, s, sv FROM vs WHERE vec_id >= 10 AND vec_id < 25),
       probes AS (SELECT * FROM (VALUES (1), (2), (4)) AS t(nprobe)),
       cellrank AS (
         SELECT vec_id AS qid, cent_id AS cell, rn AS cr
         FROM scored WHERE vec_id >= 10 AND vec_id < 25 AND rn <= 4),
       adc AS MATERIALIZED (
         SELECT p.nprobe, cr.qid, en.vec_id AS cid,
                CAST(sum(list_sum(list_transform(generate_series(1, 8),
                  i -> (q.sv[i] - c.cv[i]) * (q.sv[i] - c.cv[i])))) AS BIGINT) AS ad
         FROM cellrank cr
         JOIN probes p ON cr.cr <= p.nprobe
         JOIN assign8 ca ON ca.cell = cr.cell AND ca.vec_id <> cr.qid
         JOIN enc en ON en.vec_id = ca.vec_id
         JOIN qs q ON q.qid = cr.qid AND q.s = en.s
         JOIN cbs c ON c.s = en.s AND c.code = en.code
         GROUP BY p.nprobe, cr.qid, en.vec_id),
       cand AS (
         SELECT nprobe, qid, cid FROM (
           SELECT nprobe, qid, cid,
                  row_number() OVER (PARTITION BY nprobe, qid
                    ORDER BY ad ASC, cid) AS rk
           FROM adc) t WHERE rk <= 20),
       fun AS MATERIALIZED (
         SELECT nprobe, qid, cid FROM (
           SELECT cand.nprobe, cand.qid, cand.cid,
                  row_number() OVER (PARTITION BY cand.nprobe, cand.qid
                    ORDER BY qa.qn2 + c.n2 - 2 * CAST(list_sum(list_transform(generate_series(1, 64),
                      i -> qa.qv[i] * c.v[i])) AS BIGINT) ASC, cand.cid) AS rank
           FROM cand JOIN qa ON qa.qid = cand.qid
                     JOIN n c ON c.vec_id = cand.cid) t WHERE rank <= 10),
       gt AS MATERIALIZED (
         SELECT qid, cid FROM (
           SELECT qa.qid, c.vec_id AS cid,
                  row_number() OVER (PARTITION BY qa.qid
                    ORDER BY qa.qn2 + c.n2 - 2 * CAST(list_sum(list_transform(generate_series(1, 64),
                      i -> qa.qv[i] * c.v[i])) AS BIGINT) ASC, c.vec_id) AS rank
           FROM qa JOIN n c ON c.vec_id <> qa.qid) t WHERE rank <= 10),
       overlap AS (
         SELECT p.nprobe, g.qid, count(f.cid) AS n_overlap
         FROM gt g CROSS JOIN probes p
         LEFT JOIN fun f
           ON f.nprobe = p.nprobe AND f.qid = g.qid AND f.cid = g.cid
         GROUP BY p.nprobe, g.qid),
       sums AS MATERIALIZED (
         SELECT nprobe, sum(n_overlap) AS so FROM overlap GROUP BY nprobe),
       chosen AS MATERIALIZED (
         SELECT COALESCE(MIN(nprobe) FILTER (WHERE so >= 53), 4) AS np FROM sums),
       qa2 AS MATERIALIZED (
         SELECT vec_id AS qid, v AS qv, n2 AS qn2 FROM n
         WHERE vec_id >= 30 AND vec_id < 35),
       qs2 AS MATERIALIZED (
         SELECT vec_id AS qid, s, sv FROM vs WHERE vec_id >= 30 AND vec_id < 35),
       cellrank2 AS (
         SELECT vec_id AS qid, cent_id AS cell, rn AS cr
         FROM scored WHERE vec_id >= 30 AND vec_id < 35
           AND rn <= (SELECT np FROM chosen)),
       adc2 AS MATERIALIZED (
         SELECT cr.qid, ca.cell, en.vec_id AS cid,
                CAST(sum(list_sum(list_transform(generate_series(1, 8),
                  i -> (q.sv[i] - c.cv[i]) * (q.sv[i] - c.cv[i])))) AS BIGINT) AS ad
         FROM cellrank2 cr
         JOIN assign8 ca ON ca.cell = cr.cell AND ca.vec_id <> cr.qid
         JOIN enc en ON en.vec_id = ca.vec_id
         JOIN qs2 q ON q.qid = cr.qid AND q.s = en.s
         JOIN cbs c ON c.s = en.s AND c.code = en.code
         GROUP BY cr.qid, ca.cell, en.vec_id),
       cand2 AS (
         SELECT qid, cell, cid, ad FROM (
           SELECT qid, cell, cid, ad,
                  row_number() OVER (PARTITION BY qid ORDER BY ad ASC, cid) AS rk
           FROM adc2) t WHERE rk <= 20),
       served AS (
         SELECT qid, cell, cid, CAST(rank AS BIGINT) AS rank, ad, d2 FROM (
           SELECT cand2.qid, cand2.cell, cand2.cid, cand2.ad,
                  qa2.qn2 + c.n2 - 2 * CAST(list_sum(list_transform(generate_series(1, 64),
                    i -> qa2.qv[i] * c.v[i])) AS BIGINT) AS d2,
                  row_number() OVER (PARTITION BY cand2.qid
                    ORDER BY qa2.qn2 + c.n2 - 2 * CAST(list_sum(list_transform(generate_series(1, 64),
                      i -> qa2.qv[i] * c.v[i])) AS BIGINT) ASC, cand2.cid) AS rank
           FROM cand2 JOIN qa2 ON qa2.qid = cand2.qid
                      JOIN n c ON c.vec_id = cand2.cid) t WHERE rank <= 3)
       SELECT phase, nprobe, sum_overlap, mean_recall, qid, cell, cid, rank, ad, d2
       FROM (
         SELECT 'gate' AS phase, s.nprobe, s.so AS sum_overlap,
                round(s.so / 150.0, 4) AS mean_recall,
                CAST(NULL AS BIGINT) AS qid, CAST(NULL AS BIGINT) AS cell,
                CAST(NULL AS BIGINT) AS cid, CAST(NULL AS BIGINT) AS rank,
                CAST(NULL AS BIGINT) AS ad, CAST(NULL AS BIGINT) AS d2
         FROM sums s
         UNION ALL
         SELECT 'serve' AS phase, (SELECT np FROM chosen) AS nprobe,
                CAST(NULL AS BIGINT) AS sum_overlap,
                CAST(NULL AS DOUBLE) AS mean_recall,
                qid, cell, cid, rank, ad, d2
         FROM served) u
       ORDER BY phase, nprobe, qid, rank""") { (s, d) =>
    import s.implicits._
    val e = Tables.embeddings(s, d)
      .select(col("vec_id"), quantize(col("embedding")).as("v"))
      .withColumn("n2", norm2Q(col("v")))
    val raw = writeIvfIndex(s, Dedup.reuse(ivfAssign(e)), "ivf_d77")
    val cb = pqCodebook(s.table(raw)
      .select(col("cid").as("vec_id"), col("cv2").as("v")))
    cb.foreach(sub => require(sub.zipWithIndex.forall { case ((id, _), i) => id == i },
      "store-trained seeds must be the dense vec_id<64 prefix"))
    val pq = writeIvfPqIndex(s, s.table(raw)
      .select(col("cell"), col("cid").as("vec_id"), col("cv2").as("v"))
      .withColumn("codes", pqCodesCol(cb)), "ivfpq_d77",
      nBuckets = BucketedStore.bucketCountOf(s, raw))
    val cat = graft.Scratch.dir("graft_d77_cat") + "/tiers.catalog"
    Incremental.commitCatalogCas(cat)((_, _) => Seq(raw, pq, "8"))
    val cur = Incremental.resolveCatalog(cat, expect = 3)
    val cents = s.table(cur.head).filter(col("cid") < cur(2).toInt)
      .select(col("cid").as("cent_id"), col("cv2").as("cv"))
    val wc = Window.partitionBy(col("vec_id")).orderBy(col("dot").desc, col("cent_id"))
    def rankedOf(qFilter: org.apache.spark.sql.Column) =
      e.filter(qFilter).crossJoin(broadcast(cents))
        .withColumn("dot", dotQ(col("v"), col("cv")))
        .withColumn("cr", row_number().over(wc))
        .filter(col("cr") <= 4)
    // ---- census half: d76's recall sweep on the sample batch
    val isCensus = col("vec_id") >= 10 && col("vec_id") < 25
    val rankedC = Dedup.reuse(rankedOf(isCensus))
    val qvC = e.filter(isCensus).select(col("vec_id").as("qid"),
      col("v").as("qv"), col("n2").as("qn2"))
    val funnel = Seq(1, 2, 4).map { np =>
      val probeRows = rankedC.filter(col("cr") <= np)
        .select(col("vec_id").as("qid"), col("cent_id").as("qcell"),
          pqLutCol(cb).as("lut"))
      val cells = rankedC.filter(col("cr") <= np).select(col("cent_id"))
        .distinct().collect().map(_.getLong(0)).sorted.toSeq
      val localFetch = s.table(cur.head)
        .filter(col("cell").isin(cells.map(Long.box): _*))
        .select(col("cid"), col("cv2").as("cv"), col("cn2"))
      val prunedIdx = s.table(cur(1))
        .filter(col("cell").isin(cells.map(Long.box): _*))
      probeIvfPqTopK(prunedIdx, probeRows, qvC, localFetch, kAdc = 20, k = 10)
        .select(lit(np).as("inprobe"), col("qid").as("iqid"),
          col("cid").as("icid"))
    }.reduce(_ unionByName _)
    val wg = Window.partitionBy(col("qid")).orderBy(col("d2").asc, col("cid"))
    val gt = s.table(cur.head)
      .crossJoin(broadcast(qvC))
      .filter(col("cid") =!= col("qid"))
      .withColumn("d2",
        col("qn2") + col("cn2") - lit(2L) * dotQ(col("qv"), col("cv2")))
      .withColumn("rank", row_number().over(wg))
      .filter(col("rank") <= 10)
      .select(col("qid"), col("cid"))
    // the gate's decision input: 3 (nprobe, Σ overlap) rows — bounded
    // by the probed depths, the d73 census-collect discipline
    val sums = gt
      .select(col("*"), explode(array(lit(1), lit(2), lit(4))).as("nprobe"))
      .join(funnel,
        col("inprobe") === col("nprobe") && col("iqid") === col("qid")
          && col("icid") === col("cid"), "left")
      .groupBy("nprobe", "qid")
      .agg(count(col("icid")).as("n_overlap"))
      .groupBy("nprobe").agg(sum(col("n_overlap")).as("so"))
      .collect().map(r => (r.getInt(0), r.getLong(1))).sortBy(_._1).toSeq
    // smallest depth meeting the integer target; else serve as well as
    // the index CAN at the deepest probed setting
    val choice = sums.collectFirst { case (np, so) if so >= 53L => np }
      .getOrElse(4)
    val gate = sums.toDF("nprobe", "sum_overlap")
      .select(lit("gate").as("phase"), col("nprobe"), col("sum_overlap"),
        round(col("sum_overlap") / 150.0, 4).as("mean_recall"),
        lit(null).cast("long").as("qid"), lit(null).cast("long").as("cell"),
        lit(null).cast("long").as("cid"), lit(null).cast("long").as("rank"),
        lit(null).cast("long").as("ad"), lit(null).cast("long").as("d2"))
    // ---- serving half: a DISJOINT batch at the chosen operating point
    val isServe = col("vec_id") >= 30 && col("vec_id") < 35
    val rankedS = Dedup.reuse(rankedOf(isServe).filter(col("cr") <= choice))
    val probesS = rankedS.select(col("vec_id").as("qid"),
      col("cent_id").as("qcell"), pqLutCol(cb).as("lut"))
    val qvS = e.filter(isServe).select(col("vec_id").as("qid"),
      col("v").as("qv"), col("n2").as("qn2"))
    val cellsS = rankedS.select(col("cent_id")).distinct()
      .collect().map(_.getLong(0)).sorted.toSeq
    val localFetchS = s.table(cur.head)
      .filter(col("cell").isin(cellsS.map(Long.box): _*))
      .select(col("cid"), col("cv2").as("cv"), col("cn2"))
    val prunedIdxS = s.table(cur(1))
      .filter(col("cell").isin(cellsS.map(Long.box): _*))
    val serve = probeIvfPqTopK(prunedIdxS, probesS, qvS, localFetchS,
        kAdc = 20, k = 3)
      .select(lit("serve").as("phase"), lit(choice).as("nprobe"),
        lit(null).cast("long").as("sum_overlap"),
        lit(null).cast("double").as("mean_recall"),
        col("qid"), col("cell"), col("cid"), col("rank"), col("ad"), col("d2"))
    gate.unionByName(serve).orderBy("phase", "nprobe", "qid", "rank")
  }

  val defs: Seq[Q] = Seq(d05, d06, d07, d12, d14, d16, d19, d24, d25, d26, d29,
    d30, d32, d33, d35, d40, d52, d59, d60, d61, d62, d63, d72, d73, d74, d75,
    d76, d77)
}
