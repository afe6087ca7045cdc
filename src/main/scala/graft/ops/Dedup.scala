package graft.ops

import graft.{Q, Tables}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

import scala.collection.mutable

/** B9 deduplication operators for large-scale corpus curation: exact
  * (content-hash groupBy), character n-gram Jaccard, MinHash+LSH banding,
  * and SimHash. All hashing is md5-based with fixed seeds so results are
  * deterministic and reproducible across engines and runs (SURVEY.md §7
  * "LSH dedup determinism").
  *
  * Scale design: every step is a groupBy/join on a hash-derived key —
  * uniform keys, no skew; candidate generation never materializes the
  * full O(N²) pair space, only per-bucket pairs (the LSH point). Shingle
  * explosion is the widest intermediate (docs × shingles) and flows
  * straight into a hash partial-agg, so it never lands in memory whole.
  */
object Dedup {

  /** Spread a small scan across the cluster's cores before a CPU-heavy
    * stage. Small-file corpora arrive as ONE scan partition (a single
    * parquet file under maxPartitionBytes), which would serialize the
    * whole digest pipeline on one core; at scale the scan is already
    * many-partition and this is a no-op. The partition census builds the
    * RDD lineage once — harmless, but centralized here so the cost and
    * the rationale live in one place (callers: lshBuckets,
    * lshBucketsAndShingles, d11). */
  private[graft] def spreadToCores(df: DataFrame): DataFrame = {
    val p = df.sparkSession.sparkContext.defaultParallelism
    if (df.rdd.getNumPartitions < p) df.repartition(p) else df
  }

  /** Exact dedup: one row per distinct content hash with the surviving
    * (minimum) id and the duplicate count. */
  def exact(df: DataFrame, textCol: String, idCol: String): DataFrame =
    df.groupBy(md5(col(textCol)).as("content_hash"))
      .agg(min(col(idCol)).as("keep_id"), count(lit(1)).as("n_copies"))

  /** Character k-gram shingles of `text` (1-based sliding window). */
  def charShingles(textCol: String, k: Int): Column =
    expr(s"transform(sequence(1, greatest(length($textCol) - ${k - 1}, 1)), i -> substr($textCol, i, $k))")

  /** Word k-shingles (space tokenization). */
  def wordShingles(textCol: String, k: Int): Column =
    expr(s"transform(sequence(1, greatest(size(split($textCol, ' ')) - ${k - 1}, 1)), " +
      s"i -> concat_ws(' ', ${(0 until k).map(j => s"element_at(split($textCol, ' '), i + $j)").mkString(", ")}))")

  /** One MinHash value: the lexicographic min of seed-prefixed md5s over
    * the shingle set. String-min over fixed-width hex == numeric min. */
  def minhash(shingles: Column, seed: Int): Column =
    array_min(transform(shingles, sh => md5(concat(lit(s"$seed|"), sh))))

  /** Per-shingle (h1, h2) 32-bit hash pair from ONE md5: hex digits 1-8
    * and 9-16 as unsigned ints. The nested transform materializes the
    * md5 array first, so each shingle is digested exactly once — the
    * whole hash family below derives from this single corpus pass. */
  def shingleHashPairs(shingles: Column): Column =
    transform(transform(shingles, sh => md5(sh)), h =>
      struct(
        conv(substring(h, 1, 8), 16, 10).cast("long").as("h1"),
        conv(substring(h, 9, 8), 16, 10).cast("long").as("h2")))

  /** All `numHashes` MinHash values (Kirsch-Mitzenmacher: hash_i =
    * h1 + i·h2) over a [[shingleHashPairs]] column. One md5 per shingle
    * replaces numHashes of them — at 100 TB the signature pass is the
    * dominant corpus-wide CPU cost, so the family derivation is the
    * difference between 1× and numHashes× total hashing. Integer math
    * stays exact cross-engine (h1 + 7·h2 < 2^35, no overflow). Runs as
    * the fused [[graft.functions.MinHashSig]] codegen Expression: one
    * walk over the pair array maintaining k primitive running minima —
    * where the HOF formulation (kept below as the spec reference) walks
    * the array k times, allocates k intermediate arrays per row, and is
    * CodegenFallback throughout. */
  def minhashSignature(hashPairs: Column, numHashes: Int): Column =
    graft.functions.MinHashSig.minhash_sig(hashPairs, numHashes)

  /** The HOF formulation of [[minhashSignature]] — k array walks, k
    * intermediate arrays, CodegenFallback. Kept as the independent
    * reference implementation the fused Expression is spec-pinned
    * against (PropertySpec/CorpusOpsSpec agreement tests). */
  def minhashSignatureHof(hashPairs: Column, numHashes: Int): Column =
    transform(sequence(lit(0), lit(numHashes - 1)),
      i => array_min(transform(hashPairs,
        p => p.getField("h1") + i * p.getField("h2"))))

  /** LSH banding: (id, band, band_key) — docs sharing a band_key in any
    * band are near-dup candidates. numHashes = bands * rowsPerBand.
    *
    * The tokenization, shingle array, and per-shingle hash pairs are
    * materialized as real columns BEFORE the per-seed minhash loop:
    * expressions passed into nested lambdas are re-evaluated per
    * element, so staging each as an attribute keeps the corpus-wide
    * digest work at exactly ONE md5 per shingle (the per-seed family is
    * integer-derived — see [[minhashSignature]]). */
  def lshBuckets(df: DataFrame, idCol: String, textCol: String,
      shingleWords: Int, bands: Int, rowsPerBand: Int): DataFrame = {
    graft.functions.MinHashSig.register(df.sparkSession)
    val numHashes = bands * rowsPerBand
    val k = shingleWords
    val toks = spreadToCores(df).select(col(idCol).as("id"), split(col(textCol), " ").as("ws"))
    val sh = toks.select(col("id"),
      expr(s"transform(sequence(1, greatest(size(ws) - ${k - 1}, 1)), " +
        s"i -> concat_ws(' ', ${(0 until k).map(j => s"element_at(ws, i + $j)").mkString(", ")}))")
        .as("sh"))
    val hv = sh.select(col("id"), shingleHashPairs(col("sh")).as("hv"))
    val sig = hv.select(col("id"), minhashSignature(col("hv"), numHashes).as("mhs"))
    val bandKeys = transform(sequence(lit(0), lit(bands - 1)),
      b => md5(concat_ws("|", (0 until rowsPerBand).map(r =>
        element_at(col("mhs"), (b * rowsPerBand + r + 1).cast("int")).cast("string")): _*)))
    sig.select(col("id"), posexplode(bandKeys).as(Seq("band", "band_key")))
  }

  /** Materialize a DataFrame and truncate its lineage. Uses a RELIABLE
    * checkpoint when the session has a checkpoint dir configured (the
    * at-scale path: executor loss stays recoverable because blocks live on
    * the cluster FS, not in executor memory); falls back to eager
    * `localCheckpoint` otherwise (fine single-node / for benching, but a
    * lost executor would make the job unrecoverable — no recompute path
    * through truncated lineage). */
  private def materialize(df: DataFrame): DataFrame =
    if (df.sparkSession.sparkContext.getCheckpointDir.isDefined) df.checkpoint()
    else df.localCheckpoint(true)

  /** Eagerly persist for multi-read reuse WITHIN one query. Unlike
    * [[materialize]] this keeps lineage — an executor loss recomputes the
    * lost blocks instead of failing the job, and nothing is written to
    * the checkpoint FS. The right tool when reuse, not iterative lineage
    * truncation, is the goal; MEMORY_AND_DISK so an oversized stage
    * spills instead of OOMing. */
  private[graft] def reuse(df: DataFrame): DataFrame = {
    val p = df.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    p.count()
    p
  }

  /** Benchmark-side join strategy for the decontamination family (d10,
    * d13, d42, d48, p01 stage 7): BROADCAST-BY-PREMISE — a real
    * benchmark/eval suite is tiny relative to the corpus, so its digest
    * rides a broadcast and the corpus side never shuffles a gram. A
    * deployment feeding a corpus-scale "benchmark" sets
    * `graft.decontam.broadcastBench=false` (legacy spelling
    * `graft.pipeline.broadcastBench` still honored) to take the
    * shuffled hash join instead — identical rows, and A/B-measured
    * ~0.97× on p01's stage 7 at 500k docs, so the knob exists to keep
    * the driver alive, not to trade speed. */
  private[graft] def benchSide(df: DataFrame): DataFrame = {
    val conf = df.sparkSession.conf
    val bcast = conf.getOption("graft.decontam.broadcastBench")
      .orElse(conf.getOption("graft.pipeline.broadcastBench"))
      .forall(_.toBoolean)
    if (bcast) broadcast(df) else df
  }

  /** Bucket-cardinality cap for banded self-joins, from
    * `graft.dedup.maxBucketSize` (default 1000). A bucket of size B
    * emits B·(B−1)/2 candidate pairs, so one degenerate band key — a
    * near-constant shingle/bit distribution, common in templated web
    * text — makes the join quadratic in that bucket, and every pair it
    * emits ALSO pays shingle-set verification downstream. Sizing: the
    * cap should be a small multiple of the largest REAL duplicate
    * cluster worth pairing exhaustively — at 1000 a single key still
    * emits ≤ ~500k pairs (bounded, seconds of work), while the old
    * 100000 default admitted 5×10⁹ pairs from one key, which no job
    * survives (measured on the 100× flood probe: 500k docs over a
    * saturated shingle universe produced ~950-doc buckets and 121.6M
    * total candidates — the verification join then spilled past 80 GB;
    * see BENCH_SCALE_r07.json's flood entry). Recall loss is bounded:
    * a doc in a dropped bucket still pairs through its other bands. */
  def bucketCap(spark: org.apache.spark.sql.SparkSession): Long =
    spark.conf.getOption("graft.dedup.maxBucketSize").map(_.toLong)
      .getOrElse(DefaultBucketCap)

  /** The pinned default for `graft.dedup.maxBucketSize`. Oracle-paired
    * queries whose DuckDB SQL hardcodes the cap (m10's QUALIFY mirror,
    * p01's bandc CTE) must pass THIS constant to [[dropOversizedBuckets]]
    * instead of the session-conf [[bucketCap]], so a conf override can
    * never desynchronize engine and oracle. */
  val DefaultBucketCap = 1000L

  /** Drop (and log) buckets whose cardinality exceeds `cap` before a
    * banded self-join. Recall on a dropped key is traded for bounded
    * work — the standard LSH engineering guard: a bucket that collects
    * more than `cap` docs isn't discriminating anyway, and its pair
    * expansion would dominate the whole job. The oversized key set is
    * tiny by construction (≤ rows/cap keys), so it broadcasts into a
    * left-anti join; the input is scanned, never shuffled, by the guard.
    * The guard is fully LAZY — the census aggregation rides inside the
    * consumer's job as the broadcast build side instead of an eager
    * driver action, so composing it costs zero extra jobs (dropped-key
    * diagnostics live in the Spark UI's broadcast row counts; a
    * production deployment that wants a log line would hang a
    * QueryExecutionListener on it, not an eager head()). */
  def dropOversizedBuckets(buckets: DataFrame, keyCols: Seq[String], cap: Long): DataFrame = {
    val keys = keyCols.map(col)
    val oversized = buckets.groupBy(keys: _*).agg(count(lit(1)).as("bucket_n"))
      .filter(col("bucket_n") > cap)
    buckets.join(broadcast(oversized.select(keys: _*)), keyCols, "left_anti")
  }

  /** TOTAL candidate-edge budget from `graft.dedup.maxCandidateEdges`
    * (default 0 = off). The per-bucket cap bounds the WORST key, but on
    * a collision-dense corpus (saturated shingle vocabulary, templated
    * text) the edge total still grows super-linearly through many
    * medium buckets — ScaleProbeDedup measured d08's candidate edges
    * growing 8.6× at 10× docs, and every edge also pays verification
    * downstream. When set, the budget derives the LARGEST bucket-size
    * threshold t whose cumulative pair count fits (greedy from the
    * smallest sizes up — small buckets are the discriminating ones;
    * recall lost on a dropped key is bounded by the other bands, the
    * standard LSH argument) and tightens the cap to t, LOGGING the drop
    * census instead of silently paying quadratic edges.
    *
    * Scale shape: the decision input is the bucket-SIZE histogram —
    * ≤ cap rows by construction (sizes 2..cap), two map-side-combined
    * aggs, a bounded driver collect. OPERATIONAL LEVER ONLY: like a
    * `maxBucketSize` override, a triggered budget changes results, so
    * oracle-verified runs must leave it unset (the census line makes a
    * triggered run impossible to miss). */
  val DefaultEdgeBudgetConf = "graft.dedup.maxCandidateEdges"

  private def edgeBudgetCap(buckets: DataFrame, budget: Long): Long = {
    val hist = buckets.groupBy("band", "band_key").agg(count(lit(1)).as("n"))
      .filter(col("n") > 1)
      .groupBy("n").agg(count(lit(1)).as("n_buckets"),
        sum(expr("n * (n - 1) div 2")).as("pairs"))
      .orderBy("n").collect()
    var cum = 0L
    var t = 1L // size-1 buckets emit nothing; the floor if nothing fits
    var fits = true
    var dropped = 0L
    var droppedPairs = 0L
    hist.foreach { r =>
      val p = r.getAs[Long]("pairs")
      if (fits && cum + p <= budget) { cum += p; t = r.getAs[Long]("n") }
      else {
        fits = false
        dropped += r.getAs[Long]("n_buckets")
        droppedPairs += p
      }
    }
    if (dropped > 0)
      Console.err.println(s"[graft] candidate-edge budget $budget: capping bucket size " +
        s"at $t — dropping $dropped buckets ($droppedPairs candidate pairs; $cum kept). " +
        "Oracle-verified runs must not set graft.dedup.maxCandidateEdges.")
    t
  }

  /** Candidate near-dup pairs from LSH buckets (id_a < id_b, distinct).
    * The bucket pipeline is materialized once — a naive self-join would
    * run the whole minhash computation for both sides. Buckets above the
    * cardinality cap (`cap`, or `graft.dedup.maxBucketSize` when 0) are
    * dropped first so no band key can go quadratic, and an optional
    * TOTAL edge budget ([[edgeBudgetCap]]) tightens that cap further on
    * collision-dense corpora. Pass
    * `materialize = false` ONLY when `buckets0` is already cheap to
    * recompute (e.g. derived from a persisted digest table, as in
    * [[lshBucketsAndShingles]]) — it skips the persist+count job and lets
    * the census and both join sides re-derive from the upstream cache. */
  def candidatePairs(buckets0: DataFrame, cap: Long = 0L,
      materialize: Boolean = true): DataFrame = {
    val all = if (materialize) reuse(buckets0) else buckets0
    val capBase = if (cap > 0) cap else bucketCap(all.sparkSession)
    val budget = all.sparkSession.conf.getOption(DefaultEdgeBudgetConf)
      .map(_.toLong).getOrElse(0L)
    val effCap =
      if (budget > 0) math.min(capBase, edgeBudgetCap(all, budget)) else capBase
    val buckets = dropOversizedBuckets(all, Seq("band", "band_key"), effCap)
    val a = buckets.as("a")
    val b = buckets.as("b")
    a.join(b, col("a.band") === col("b.band") && col("a.band_key") === col("b.band_key")
        && col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"))
      .distinct()
  }

  /** One large-star round: every node connects its strictly-larger
    * neighbors to the minimum of its closed neighborhood. Input/output
    * edges are normalized `(hi, lo)` with hi > lo, distinct. */
  private def largeStar(edges: DataFrame): DataFrame = {
    val bidir = edges.select(col("hi").as("src"), col("lo").as("dst"))
      .unionAll(edges.select(col("lo").as("src"), col("hi").as("dst")))
    // per-node min over the closed neighborhood — an aggregate, never a
    // collected neighbor list, so a high-degree hub costs a partial agg,
    // not executor memory
    val mins = bidir.groupBy(col("src"))
      .agg(least(min(col("dst")), col("src")).as("m"))
    bidir.join(mins, "src")
      .filter(col("dst") > col("src"))
      .select(col("dst").as("hi"), col("m").as("lo"))
      .distinct()
  }

  /** One small-star round: every node links its smaller-or-equal
    * neighborhood (itself included) to that neighborhood's minimum. */
  private def smallStar(edges: DataFrame): DataFrame = {
    val mins = edges.groupBy(col("hi")).agg(min(col("lo")).as("m"))
    val withMin = edges.join(mins, "hi")
    withMin.filter(col("lo") =!= col("m"))
      .select(col("lo").as("hi"), col("m").as("lo"))
      .unionAll(mins.select(col("hi"), col("m").as("lo")))
      .distinct()
  }

  /** Connected components over an undirected edge list (id_a, id_b) — the
    * step that turns near-dup candidate pairs into duplicate clusters.
    *
    * Distributed path: alternating large-star / small-star contraction
    * (Kiveris et al., "Connected Components in MapReduce and Beyond",
    * SoCC'14 — public algorithm), which converges in O(log n) rounds
    * regardless of graph diameter — unlike min-label propagation, whose
    * round count is the component diameter. Convergence is CHECKED (edge
    * set fixpoint); if `maxIter` rounds don't reach it the call THROWS
    * rather than silently returning partial components.
    *
    * LSH prunes the pair space hard, so when the surviving edge list is
    * small a driver-side union-find beats paying several Spark jobs per
    * round; above `driverThreshold` it stays fully distributed. */
  def connectedComponents(pairs: DataFrame, maxIter: Int = 25,
      driverThreshold: Long = 100000L): DataFrame = {
    // persist the (expensive) candidate-pair pipeline LAZILY — whichever
    // path runs (driver fast path probe, or contraction round 1) fills
    // the cache on its first scan, and later reads hit blocks, never the
    // upstream minhash stages. Lineage truncation is NOT needed here:
    // it's the per-round materialize in the loop that cuts the growing
    // iteration lineage (reliable checkpoint at scale).
    val edges0 = pairs.select(
        greatest(col("id_a"), col("id_b")).as("hi"),
        least(col("id_a"), col("id_b")).as("lo"))
      .filter(col("hi") =!= col("lo"))
      .distinct()
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)

    // size probe and small-graph collect in ONE job: limit(T+1) either
    // returns the COMPLETE edge set (≤ T ⇒ union-find it driver-side)
    // or proves the graph is big and the distributed path takes over
    import edges0.sparkSession.implicits._
    val probe = edges0.limit(driverThreshold.toInt + 1).as[(Long, Long)].collect()
    if (probe.length <= driverThreshold) {
      val es = probe
      val parent = mutable.HashMap.empty[Long, Long]
      def find(x: Long): Long = {
        var r = x
        while (parent.getOrElse(r, r) != r) r = parent.getOrElse(r, r)
        var c = x
        while (parent.getOrElse(c, c) != c) { val n = parent(c); parent(c) = r; c = n }
        r
      }
      es.foreach { case (a, b) =>
        parent.getOrElseUpdate(a, a); parent.getOrElseUpdate(b, b)
        val (ra, rb) = (find(a), find(b))
        if (ra != rb) { if (ra < rb) parent(rb) = ra else parent(ra) = rb }
      }
      val labels = parent.keys.map(k => (k, find(k))).toSeq
      return edges0.sparkSession.createDataset(labels).toDF("id", "component")
    }

    var edges = edges0
    var iter = 0
    var converged = false
    while (!converged && iter < maxIter) {
      val next = materialize(smallStar(largeStar(edges)))
      // fixpoint test on the normalized-distinct edge set: same size and
      // nothing new ⇒ identical
      converged = next.count() == edges.count() &&
        next.exceptAll(edges).isEmpty
      edges = next
      iter += 1
    }
    if (!converged)
      throw new IllegalStateException(
        s"connectedComponents: star contraction did not converge in $maxIter rounds " +
          s"(> $driverThreshold input edges) — component labels would be unreliable")
    // at the fixpoint every component is a star: each edge is (member, root)
    edges.select(col("hi").as("id"), col("lo").as("component"))
      .unionAll(edges.select(col("lo").as("id"), col("lo").as("component")))
      .distinct()
  }

  /** Fixed-point PageRank over an undirected pair graph: `iters`
    * synchronous rounds at damping 0.85 in micro-units — ranks are
    * longs, contributions are integer floor-divides (`r div deg`), the
    * damped update one integer multiply-divide — so both execution
    * paths below produce BIT-IDENTICAL ranks (an fp formulation would
    * diverge on summation order alone). Returns (doc_id, degree,
    * rank_micro).
    *
    * Same two-path shape as [[connectedComponents]]: the dup graph is
    * LSH-pruned, so when the directed edge list fits under
    * `driverThreshold` a driver loop over the collected edges replaces
    * 3×2 Spark jobs of pure stage overhead (~1.8s/iteration at
    * local[32] — measured in BENCH_SCALE_r06); above it, the standard
    * Pregel-as-joins loop runs distributed (ids and longs only in the
    * exchanges, fixed iteration count, bounded lineage). The ONE
    * limit(T+1) probe either returns the complete edge set or proves
    * the graph is big — no separate count job either way. */
  def pageRank(vpairs: DataFrame, iters: Int = 3,
      driverThreshold: Long = 100000L): DataFrame = {
    val spark = vpairs.sparkSession
    // materialize the VERIFIED PAIR LIST once — it is the tiny end of
    // the dedup pipeline (|pairs| ≪ corpus). The former shape persisted
    // the doubled edge union instead: its two union branches each
    // carried the full verification plan (only partially collapsed by
    // exchange reuse), and the threshold probe's limit().collect() left
    // that cache PARTIALLY built, so a later cache-miss partition
    // re-verified pairs from lineage. One reuse() here and everything
    // downstream — probe, degree table, every iteration — reads memory.
    val vp = reuse(vpairs.select(col("id_a"), col("id_b")))
    import spark.implicits._
    // each pair contributes two directed edges; bound the pair collect
    // so the edge count comparison matches the old contract exactly
    val pairLimit = (driverThreshold / 2).toInt
    val probePairs = vp.limit(pairLimit + 1).as[(Long, Long)].collect()
    if (probePairs.length <= pairLimit) {
      val probe = probePairs.flatMap { case (a, b) => Seq((a, b), (b, a)) }
      val deg = mutable.HashMap.empty[Long, Long]
      probe.foreach { case (s, _) => deg(s) = deg.getOrElse(s, 0L) + 1L }
      var r = deg.map { case (id, _) => id -> 1000000L }.toMap
      for (_ <- 1 to iters) {
        val c = mutable.HashMap.empty[Long, Long]
        probe.foreach { case (s, d) => c(d) = c.getOrElse(d, 0L) + r(s) / deg(s) }
        r = deg.map { case (id, _) =>
          id -> (150000L + c.getOrElse(id, 0L) * 850000L / 1000000L)
        }.toMap
      }
      val rows = deg.keys.toSeq.sorted.map(id => (id, deg(id), r(id)))
      return spark.createDataset(rows).toDF("doc_id", "degree", "rank_micro")
    }
    // distributed route: the edge union reads the vp CACHE twice — no
    // re-verification, no second persist of doubled rows
    val edges0 = vp
      .select(col("id_a").as("src"), col("id_b").as("dst"))
      .unionAll(vp.select(col("id_b").as("src"), col("id_a").as("dst")))
    val deg = reuse(edges0.groupBy(col("src").as("id")).agg(count(lit(1)).as("deg")))
    var r = deg.select(col("id"), lit(1000000L).as("r"))
    for (_ <- 1 to iters) {
      val contribs = edges0
        .join(r.select(col("id").as("src"), col("r")), "src")
        .join(deg.select(col("id").as("src"), col("deg")), "src")
        .groupBy(col("dst").as("id"))
        .agg(sum(expr("r div deg")).as("c"))
      r = deg.select(col("id"))
        .join(contribs, Seq("id"), "left")
        .select(col("id"),
          (lit(150000L) + expr("coalesce(c, 0L) * 850000 div 1000000")).as("r"))
    }
    r.join(deg, "id")
      .select(col("id").as("doc_id"), col("deg").as("degree"),
        col("r").as("rank_micro"))
  }

  /** Per-OCCURRENCE word-k-shingle hashes: (id, h), duplicates included —
    * one row per shingle position. h is the first 15 hex digits of the
    * shingle's md5 as a 60-bit integer: an 8-byte join/shuffle key in
    * place of the 32-char hex string (4× narrower exchanges), with the
    * same value derivable in ANSI SQL. Collisions (~n²/2^61) are
    * deterministic and engine-identical, so set comparisons stay
    * cross-engine exact. Deduplication to a SET is the consumer's job —
    * deliberately, so a consumer that first restricts to a document
    * subset (see [[jaccardVerifiedPairs]]) pays the distinct shuffle only
    * for the rows it keeps. */
  def wordShingleHashes(df: DataFrame, idCol: String, textCol: String, k: Int): DataFrame =
    df.select(col(idCol).as("id"), split(col(textCol), " ").as("ws"))
      .select(col("id"), explode(expr(
        s"transform(sequence(1, greatest(size(ws) - ${k - 1}, 1)), " +
          s"i -> concat_ws(' ', ${(0 until k).map(j => s"element_at(ws, i + $j)").mkString(", ")}))"))
        .as("sh"))
      .select(col("id"), conv(substring(md5(col("sh")), 1, 15), 16, 10).cast("long").as("h"))

  /** ONE corpus digest pass serving BOTH the LSH banding and the exact
    * verification sets: computes the per-shingle (h1, h2) pairs once
    * (persisted), then derives (a) the minhash band buckets exactly as
    * [[lshBuckets]] does and (b) the per-occurrence 60-bit shingle hashes
    * (h1·2^27 + h2 mod 2^27 — both halves of the same md5) that
    * [[jaccardVerifiedPairs]] consumes. At 100 TB the corpus-wide digest
    * is the dominant CPU cost of the dedup pipeline; a verified-dedup run
    * through this helper hashes each shingle exactly once END TO END,
    * where composing lshBuckets + wordShingleHashes would digest the
    * corpus twice. */
  def lshBucketsAndShingles(df: DataFrame, idCol: String, textCol: String,
      shingleWords: Int, bands: Int, rowsPerBand: Int): (DataFrame, DataFrame) = {
    val k = shingleWords
    val toks = spreadToCores(df).select(col(idCol).as("id"), split(col(textCol), " ").as("ws"))
    val sh = toks.select(col("id"),
      expr(s"transform(sequence(1, greatest(size(ws) - ${k - 1}, 1)), " +
        s"i -> concat_ws(' ', ${(0 until k).map(j => s"element_at(ws, i + $j)").mkString(", ")}))")
        .as("sh"))
    lshBucketsAndShinglesFromArray(sh, "id", "sh", bands, rowsPerBand)
  }

  /** [[lshBucketsAndShingles]] over a PRE-BUILT element array — the
    * modality-generic core: word shingles, char shingles, or media frame
    * fingerprints (m07) all band and verify through the same digest. */
  def lshBucketsAndShinglesFromArray(df: DataFrame, idCol: String, arrCol: String,
      bands: Int, rowsPerBand: Int): (DataFrame, DataFrame) = {
    graft.functions.MinHashSig.register(df.sparkSession)
    val numHashes = bands * rowsPerBand
    val hv = reuse(df.select(col(idCol).as("id"), shingleHashPairs(col(arrCol)).as("hv")))
    val sig = hv.select(col("id"), minhashSignature(col("hv"), numHashes).as("mhs"))
    val bandKeys = transform(sequence(lit(0), lit(bands - 1)),
      b => md5(concat_ws("|", (0 until rowsPerBand).map(r =>
        element_at(col("mhs"), (b * rowsPerBand + r + 1).cast("int")).cast("string")): _*)))
    val buckets = sig.select(col("id"), posexplode(bandKeys).as(Seq("band", "band_key")))
    val shingles = hv.select(col("id"), explode(col("hv")).as("p"))
      .select(col("id"),
        (col("p.h1") * lit(134217728L) + col("p.h2") % lit(134217728L)).as("h"))
    (buckets, shingles)
  }

  /** Best-effort row count of the parquet files backing a frame, read
    * from the file FOOTERS on the driver — pure metadata, zero Spark
    * jobs (`inputFiles` resolves from the already-listed file index).
    * None when the frame isn't parquet-backed or any footer fails to
    * read; callers treat None as "unknown, stay conservative". */
  private[graft] def footerRowCount(df: DataFrame): Option[Long] =
    try {
      import scala.jdk.CollectionConverters._
      val files = df.inputFiles.filter(_.endsWith(".parquet"))
      if (files.isEmpty) None
      else {
        val hconf = org.apache.spark.sql.classic.ClassicConversions
          .castToImpl(df).sparkSession.sessionState.newHadoopConf()
        var total = 0L
        files.foreach { f =>
          val in = org.apache.parquet.hadoop.util.HadoopInputFile
            .fromPath(new org.apache.hadoop.fs.Path(f), hconf)
          val reader = org.apache.parquet.hadoop.ParquetFileReader.open(in)
          try total += reader.getFooter.getBlocks.asScala.map(_.getRowCount).sum
          finally reader.close()
        }
        Some(total)
      }
    } catch { case scala.util.control.NonFatal(_) => None }

  /** Top-level column names of the parquet store at `dir`, from ONE part
    * file's footer read by the Spark driver — the same single-file layout
    * `spark.read.parquet(dir).schema` infers, without its
    * schema-inference job. Even an empty write leaves a footer. */
  private[graft] def footerFieldNames(s: org.apache.spark.sql.SparkSession,
      dir: String): Seq[String] = {
    import scala.jdk.CollectionConverters._
    val hconf = s.sessionState.newHadoopConf()
    val root = new org.apache.hadoop.fs.Path(dir)
    val part = root.getFileSystem(hconf).listStatus(root).map(_.getPath)
      .filter(p => p.getName.endsWith(".parquet") &&
        !p.getName.startsWith("_") && !p.getName.startsWith("."))
      .sortBy(_.getName).headOption
      .getOrElse(throw new IllegalArgumentException(s"no parquet part file under $dir"))
    val reader = org.apache.parquet.hadoop.ParquetFileReader.open(
      org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(part, hconf))
    try reader.getFooter.getFileMetaData.getSchema.getFields.asScala.map(_.getName).toSeq
    finally reader.close()
  }

  /** Exact overlap statistics for LSH candidate pairs — the shared
    * verification engine behind every exact similarity gate: computes
    * each candidate pair's true shingle-set intersection and sizes
    * `(id_a, id_b, ni, na, nb)`, from which Jaccard
    * ([[jaccardVerifiedPairs]]) and Broder containment (d39) are single
    * map-side divides.
    *
    * Scale shape: `pairs` is already LSH-bounded (never O(N²)); the
    * shingle stream is cut to candidate docs FIRST (applied BEFORE the
    * set-distinct, so non-candidate docs never shuffle a single shingle
    * — at 100 TB the candidate subset is a sliver of the corpus), then
    * deduped to sets. The per-pair expansion is |pairs| × doc shingle
    * count — the irreducible verification cost. `shingles` is
    * per-occurrence (id, h) as produced by [[wordShingleHashes]]. */
  def pairOverlapStats(pairs: DataFrame, shingles: DataFrame): DataFrame = {
    // p persists LAZILY: candIds scans it exactly once (explode, not a
    // two-scan union), so the eager `sh` materialization below fills p's
    // cache as a side effect — one job computes both, and the later
    // intersection join reads blocks. An eager persist-count here would
    // re-run the whole banding self-join as its own job for nothing
    // (A/B-measured: an unconditional pair count regressed d15 1.40× at
    // sf0.1 — the count job un-fuses the banding/semi-join/digest
    // pipeline the round-7 lazy-persist cut created).
    val p = pairs.select(col("id_a"), col("id_b"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val candIds = p.select(explode(array(col("id_a"), col("id_b"))).as("id"))
      .distinct()
    // Restricting the shingle stream to candidate docs has two physical
    // routes. The left-semi join is exact and costs ZERO extra jobs (the
    // default here), but once the candidate-id set outgrows the
    // broadcast threshold it plans as a SortMergeJoin that shuffles the
    // ENTIRE per-occurrence shingle stream — the measured decade-2
    // super-linearity of d15 at 500k docs (5.28× per 10×,
    // BENCH_SCALE_r07.json) is exactly this exchange. A deployment that
    // KNOWS its scale sets `graft.dedup.bloomCandidateThreshold`: the
    // candidate pairs are then counted (the count fills p's cache; at
    // the scales where the conf is set, one extra job is noise against
    // the stream shuffle it saves) and above the threshold a
    // driver-built bloom over candidate ids (~1.2 MB per 1M ids at 1%
    // fpp) filters the stream MAP-SIDE instead. False positives only
    // admit spectator docs into the size census — they never match the
    // pair joins — so the output is bit-identical on either route
    // (spec'd), and the oracle is unchanged. Measured at 500k docs:
    // 43.5s exact → 26.9s bloom (BENCH_SCALE_r07.json d15_bloom_500k).
    //
    // When the conf is NOT set, the route self-selects at zero cost:
    // the corpus row count is read off the parquet FOOTERS (driver-side
    // metadata through df.inputFiles — no Spark job, microseconds) and
    // only a corpus above `graft.dedup.autoBloomDocs` (default 200k,
    // under the measured 500k crossover) enables the pair-count probe —
    // small corpora keep the fused count-free pipeline that the A/B
    // showed regressing 1.40× under an unconditional count, while a
    // fleet-scale run gets the bloom cut without knowing the conf.
    val conf = shingles.sparkSession.conf
    val effectiveThreshold: Option[Long] =
      conf.getOption("graft.dedup.bloomCandidateThreshold").map(_.toLong)
        .orElse {
          val autoDocs = conf.getOption("graft.dedup.autoBloomDocs")
            .map(_.toLong).getOrElse(200000L)
          val autoPairs = conf.getOption("graft.dedup.autoBloomPairs")
            .map(_.toLong).getOrElse(500000L)
          footerRowCount(shingles).filter(_ > autoDocs).map(_ => autoPairs)
        }
    val restricted = effectiveThreshold match {
      case Some(threshold) if p.count() > threshold =>
        val nPairs = p.count() // cached — free after the route decision
        val bf = candIds.stat.bloomFilter("id", math.max(2L * nPairs, 1000L), 0.01)
        val bc = shingles.sparkSession.sparkContext.broadcast(bf)
        val mightContain = udf((id: java.lang.Long) =>
          id != null && bc.value.mightContain(id))
        shingles.filter(mightContain(col("id")))
      case _ => shingles.join(candIds, Seq("id"), "left_semi")
    }
    // the candidate-restricted shingle SET feeds three consumers (the
    // size census and both sides of the intersection join) — persist it
    // once or the scan+explode+digest pipeline runs three times. Its size
    // is bounded by the candidate docs, not the corpus. (Measured: the
    // d22-style rely-on-exchange-reuse variant recomputed these subtrees
    // — d15 went 6.4s → 15.7s at sf0.1 — so the persists stay.)
    val sh = reuse(restricted.distinct())
    val sz = sh.groupBy("id").agg(count(lit(1)).as("n"))
    val inter = p
      .join(sh.select(col("id").as("id_a"), col("h")), "id_a")
      .join(sh.select(col("id").as("id_b"), col("h")), Seq("id_b", "h"))
      .groupBy("id_a", "id_b").agg(count(lit(1)).as("ni"))
    inter
      .join(sz.select(col("id").as("id_a"), col("n").as("na")), "id_a")
      .join(sz.select(col("id").as("id_b"), col("n").as("nb")), "id_b")
  }

  /** Exact-Jaccard verification of LSH candidate pairs — the step a
    * production MinHash pipeline runs between banding and clustering:
    * band collisions are a RECALL device (any pair with high signature
    * agreement shares a bucket w.h.p.) but carry false positives, so each
    * candidate is scored against the true shingle sets and only pairs
    * with Jaccard ≥ `tau` become dedup edges. Overlap statistics come
    * from [[pairOverlapStats]]; returns (id_a, id_b, jaccard). */
  def jaccardVerifiedPairs(pairs: DataFrame, shingles: DataFrame,
      tau: Double): DataFrame =
    pairOverlapStats(pairs, shingles)
      .withColumn("jaccard", col("ni") * lit(1.0) / (col("na") + col("nb") - col("ni")))
      .filter(col("jaccard") >= tau)
      .select(col("id_a"), col("id_b"), col("jaccard"))

  /** 32-bit SimHash as a '0'/'1' bitstring: bit i is the sign of the sum
    * over tokens of ±1 derived from hex digit i of md5(token). */
  def simhashExpr(textCol: String): Column =
    expr(s"""array_join(transform(sequence(1, 32), i ->
      CASE WHEN aggregate(split($textCol, ' '), 0L, (acc, t) ->
        acc + CASE WHEN substr(md5(t), i, 1) IN ('8','9','a','b','c','d','e','f')
              THEN 1 ELSE -1 END) > 0 THEN '1' ELSE '0' END), '')""")

  /** 64-bit SimHash (as a '0'/'1' bitstring) over a pre-hashed token
    * array: bits 1-32 from the MSB of md5 hex digit i, bits 33-64 from
    * the LSB of digit i-32 — twice the discriminating power of
    * [[simhashExpr]] for banded joins (16-bit bands have 65536 values,
    * so band collisions are rare even on a template-heavy corpus).
    * Takes the md5-per-token ARRAY column, not the text: expressions in
    * nested HOF lambdas re-evaluate per element, so hashing inside the
    * 64-bit loop would md5 every token 64 times. */
  def simhash64FromMd5s(md5sCol: String): Column =
    expr(s"""array_join(transform(sequence(1, 64), i ->
      CASE WHEN aggregate($md5sCol, 0L, (acc, h) ->
        acc + CASE WHEN i <= 32
          THEN CASE WHEN substr(h, i, 1) IN ('8','9','a','b','c','d','e','f')
               THEN 1 ELSE -1 END
          ELSE CASE WHEN substr(h, i - 32, 1) IN ('1','3','5','7','9','b','d','f')
               THEN 1 ELSE -1 END
        END) > 0 THEN '1' ELSE '0' END), '')""")

  /** Hamming distance between two equal-length bitstrings. */
  def hammingDistance(a: Column, b: Column): Column =
    aggregate(
      zip_with(split(a, ""), split(b, ""), (x, y) => when(x === y, 0).otherwise(1)),
      lit(0), (acc, x) => acc + x)

  // ---------------------------------------------------------------- queries

  private val d01 = Q(
    "d01_exact_dedup",
    """SELECT md5(text) AS content_hash, min(doc_id) AS keep_id, count(*) AS n_copies
       FROM documents GROUP BY md5(text) ORDER BY content_hash""") { (s, d) =>
    exact(Tables.documents(s, d), "text", "doc_id").orderBy("content_hash")
  }

  /** Exact character-5-gram Jaccard on a bounded subset — BY DESIGN: all-
    * pairs exact Jaccard is quadratic and exists here to pin the exact
    * similarity semantics (and to exercise the char_shingles Generator).
    * The scale path computes Jaccard only on LSH candidate pairs
    * (d03/d08): band-join first, exact measure on survivors. */
  private val d02 = Q(
    "d02_ngram_jaccard",
    """WITH sh AS (
         SELECT DISTINCT doc_id, substring(text, i, 5) AS s
         FROM (SELECT doc_id, text,
                      unnest(generate_series(1, greatest(len(text) - 4, 1))) AS i
               FROM documents WHERE doc_id < 40)),
       sz AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
       inter AS (
         SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS ni
         FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
         GROUP BY a.doc_id, b.doc_id)
       SELECT id_a, id_b,
              round(ni * 1.0 / (sa.n + sb.n - ni), 6) AS jaccard
       FROM inter
         JOIN sz sa ON sa.doc_id = id_a
         JOIN sz sb ON sb.doc_id = id_b
       WHERE ni * 1.0 / (sa.n + sb.n - ni) >= 0.1
       ORDER BY id_a, id_b""") { (s, d) =>
    graft.functions.CharShinglesGen.register(s)
    val docs = Tables.documents(s, d).filter(col("doc_id") < 40)
    // the custom Generator (x10) streams k-grams through Generate — no
    // per-row shingle array materialization (charShingles is the
    // array-composition equivalent, kept for in-aggregate uses)
    val sh = docs.select(col("doc_id"),
      graft.functions.CharShinglesGen.char_shingles(col("text"), 5).as("s")).distinct()
    val sz = sh.groupBy("doc_id").agg(count(lit(1)).as("n"))
    val a = sh.as("a"); val b = sh.as("b")
    val inter = a.join(b, col("a.s") === col("b.s") && col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("id_a"), col("b.doc_id").as("id_b"))
      .agg(count(lit(1)).as("ni"))
    inter
      .join(broadcast(sz.select(col("doc_id").as("id_a"), col("n").as("na"))), "id_a")
      .join(broadcast(sz.select(col("doc_id").as("id_b"), col("n").as("nb"))), "id_b")
      .withColumn("j", col("ni") * lit(1.0) / (col("na") + col("nb") - col("ni")))
      .filter(col("j") >= 0.1)
      .select(col("id_a"), col("id_b"), round(col("j"), 6).as("jaccard"))
      .orderBy("id_a", "id_b")
  }

  /** MinHash-LSH bucket census: 8 hashes, 4 bands × 2 rows. Buckets with
    * >1 doc are the candidate groups; the full pair expansion is
    * `candidatePairs` (unit-tested — pair output is quadratic per bucket
    * and this fixture has near-identical vocabulary across docs). */
  private val d03 = Q(
    "d03_minhash_lsh",
    """WITH docs AS (
         SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
       sh AS (
         SELECT doc_id,
                ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] AS sh
         FROM (SELECT doc_id, ws,
                      unnest(generate_series(1, greatest(len(ws) - 2, 1))) AS i
               FROM docs)),
       hs AS (
         SELECT doc_id, ('0x' || substring(md5(sh), 1, 8))::BIGINT AS h1,
                ('0x' || substring(md5(sh), 9, 8))::BIGINT AS h2
         FROM sh),
       sig AS (
         SELECT doc_id, seed, min(h1 + seed * h2) AS mh
         FROM hs, (SELECT unnest(generate_series(0, 7)) AS seed) seeds
         GROUP BY doc_id, seed),
       bands AS (
         SELECT doc_id, CAST(seed // 2 AS INT) AS band,
                md5(string_agg(CAST(mh AS VARCHAR), '|' ORDER BY seed)) AS band_key
         FROM sig GROUP BY doc_id, CAST(seed // 2 AS INT))
       SELECT band, band_key, count(*) AS n_docs
       FROM bands GROUP BY band, band_key
       HAVING count(*) > 1
       ORDER BY band, band_key""") { (s, d) =>
    lshBuckets(Tables.documents(s, d), "doc_id", "text",
        shingleWords = 3, bands = 4, rowsPerBand = 2)
      .groupBy("band", "band_key").agg(count(lit(1)).as("n_docs"))
      .filter(col("n_docs") > 1)
      .orderBy("band", "band_key")
  }

  private val d04 = Q(
    "d04_simhash",
    """SELECT doc_id,
              array_to_string(list_transform(generate_series(1, 32), i ->
                CASE WHEN list_sum(list_transform(string_split(text, ' '), t ->
                  CASE WHEN substring(md5(t), i, 1) IN ('8','9','a','b','c','d','e','f')
                       THEN 1 ELSE -1 END)) > 0 THEN '1' ELSE '0' END), '') AS simhash
       FROM documents ORDER BY doc_id""") { (s, d) =>
    // the 32-bit simhash is exactly the MSB half of the 64-bit one (bit i
    // = sign of the vote on the high bit of md5 hex digit i), so this
    // rides the native one-pass expression instead of simhashExpr's
    // 32-aggregate HOF (which re-splits and re-hashes per bit)
    graft.functions.SimHash64.register(s)
    Tables.documents(s, d)
      .withColumn("md5s", expr("transform(split(text, ' '), t -> md5(t))"))
      .select(col("doc_id"),
        substring(graft.functions.SimHash64.simhash64(col("md5s")), 1, 32).as("simhash"))
      .orderBy("doc_id")
  }

  /** Duplicate clusters: LSH candidate pairs → connected components
    * (iterative min-label propagation in Spark; recursive-CTE transitive
    * closure in the oracle). Cap pinned to [[DefaultBucketCap]] with the
    * oracle's QUALIFY mirror (the m10/p01 discipline), so a session
    * `maxBucketSize` override can never desynchronize engine and oracle;
    * on collision-dense corpora the TOTAL edge count is the real cost
    * driver (measured 8.6× at 10× docs on the saturated-vocab probe) —
    * the `graft.dedup.maxCandidateEdges` budget is the operational lever
    * there ([[edgeBudgetCap]]; priced in ScaleProbeDedup). */
  private val d08 = Q(
    "d08_dedup_groups",
    """WITH RECURSIVE docs AS (
         SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
       sh AS (
         SELECT doc_id, ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] AS sh
         FROM (SELECT doc_id, ws,
                      unnest(generate_series(1, greatest(len(ws) - 2, 1))) AS i
               FROM docs)),
       hs AS (
         SELECT doc_id, ('0x' || substring(md5(sh), 1, 8))::BIGINT AS h1,
                ('0x' || substring(md5(sh), 9, 8))::BIGINT AS h2
         FROM sh),
       sig AS (
         SELECT doc_id, seed, min(h1 + seed * h2) AS mh
         FROM hs, (SELECT unnest(generate_series(0, 7)) AS seed) seeds
         GROUP BY doc_id, seed),
       bands0 AS (
         SELECT doc_id, CAST(seed // 2 AS INT) AS band,
                md5(string_agg(CAST(mh AS VARCHAR), '|' ORDER BY seed)) AS band_key
         FROM sig GROUP BY doc_id, CAST(seed // 2 AS INT)),
       bands AS (
         SELECT * FROM bands0
         QUALIFY count(*) OVER (PARTITION BY band, band_key) <= 1000),
       pairs AS (
         SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
         FROM bands a JOIN bands b
           ON a.band = b.band AND a.band_key = b.band_key AND a.doc_id < b.doc_id),
       nodes AS (
         SELECT DISTINCT id FROM (
           SELECT id_a AS id FROM pairs UNION ALL SELECT id_b AS id FROM pairs)),
       edges AS (
         SELECT id_a AS src, id_b AS dst FROM pairs
         UNION ALL SELECT id_b AS src, id_a AS dst FROM pairs),
       reach(a, b) AS (
         SELECT id, id FROM nodes
         UNION
         SELECT r.a, e.dst FROM reach r JOIN edges e ON r.b = e.src)
       SELECT a AS doc_id, min(b) AS component
       FROM reach GROUP BY a ORDER BY doc_id""") { (s, d) =>
    val buckets = lshBuckets(Tables.documents(s, d), "doc_id", "text",
      shingleWords = 3, bands = 4, rowsPerBand = 2)
    // cap pinned (not the session conf): the QUALIFY above hardcodes 1000
    connectedComponents(candidatePairs(buckets, cap = DefaultBucketCap))
      .select(col("id").as("doc_id"), col("component"))
      .orderBy("doc_id")
  }

  /** The full curation pipeline a training-data run would execute: drop
    * exact duplicates, collapse near-dup clusters to their root document,
    * apply a quality floor, report the kept corpus per language. Composes
    * exact dedup + LSH + exact-Jaccard VERIFICATION + connected
    * components + quality scoring into one dataflow (each piece
    * individually verified by d01/d03/d15/t02). Near-dup clusters come
    * from the verified edge set — a band collision alone never removes a
    * document (the production dedup contract, same as d15). */
  private val d09 = Q(
    "d09_curation_pipeline",
    """WITH RECURSIVE docs AS (
         SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
       sh AS (
         SELECT doc_id, ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] AS sh
         FROM (SELECT doc_id, ws,
                      unnest(generate_series(1, greatest(len(ws) - 2, 1))) AS i
               FROM docs)),
       hs AS (
         SELECT doc_id, ('0x' || substring(md5(sh), 1, 8))::BIGINT AS h1,
                ('0x' || substring(md5(sh), 9, 8))::BIGINT AS h2
         FROM sh),
       sig AS (
         SELECT doc_id, seed, min(h1 + seed * h2) AS mh
         FROM hs, (SELECT unnest(generate_series(0, 7)) AS seed) seeds
         GROUP BY doc_id, seed),
       bands AS (
         SELECT doc_id, CAST(seed // 2 AS INT) AS band,
                md5(string_agg(CAST(mh AS VARCHAR), '|' ORDER BY seed)) AS band_key
         FROM sig GROUP BY doc_id, CAST(seed // 2 AS INT)),
       pairs AS (
         SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
         FROM bands a JOIN bands b
           ON a.band = b.band AND a.band_key = b.band_key AND a.doc_id < b.doc_id),
       shd AS (SELECT DISTINCT doc_id, h1 * 134217728 + h2 % 134217728 AS h
               FROM hs),
       sz AS (SELECT doc_id, count(*) AS n FROM shd GROUP BY doc_id),
       inter AS (
         SELECT p.id_a, p.id_b, count(*) AS ni
         FROM pairs p
           JOIN shd a ON a.doc_id = p.id_a
           JOIN shd b ON b.doc_id = p.id_b AND b.h = a.h
         GROUP BY p.id_a, p.id_b),
       vpairs AS (
         SELECT i.id_a, i.id_b FROM inter i
           JOIN sz sa ON sa.doc_id = i.id_a
           JOIN sz sb ON sb.doc_id = i.id_b
         WHERE i.ni * 1.0 / (sa.n + sb.n - i.ni) >= 0.5),
       nodes AS (
         SELECT DISTINCT id FROM (
           SELECT id_a AS id FROM vpairs UNION ALL SELECT id_b AS id FROM vpairs)),
       edges AS (
         SELECT id_a AS src, id_b AS dst FROM vpairs
         UNION ALL SELECT id_b AS src, id_a AS dst FROM vpairs),
       reach(a, b) AS (
         SELECT id, id FROM nodes
         UNION
         SELECT r.a, e.dst FROM reach r JOIN edges e ON r.b = e.src),
       cc AS (SELECT a AS doc_id, min(b) AS component FROM reach GROUP BY a),
       exact_kept AS (
         SELECT min(doc_id) AS doc_id FROM documents GROUP BY md5(text)),
       near_removed AS (SELECT doc_id FROM cc WHERE doc_id <> component),
       kept AS (
         SELECT d.* FROM documents d
         JOIN exact_kept e ON d.doc_id = e.doc_id
         WHERE d.doc_id NOT IN (SELECT doc_id FROM near_removed)
           AND len(string_split(d.text, ' ')) >= 20)
       SELECT lang,
              count(*) AS n_kept,
              CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS kept_tokens,
              min(doc_id) AS first_kept
       FROM kept GROUP BY lang ORDER BY lang""") { (s, d) =>
    val docs = Tables.documents(s, d)
    val exactKept = exact(docs, "text", "doc_id").select(col("keep_id").as("doc_id"))
    val (buckets, shingles) = lshBucketsAndShingles(docs, "doc_id", "text",
      shingleWords = 3, bands = 4, rowsPerBand = 2)
    val components = connectedComponents(jaccardVerifiedPairs(
      candidatePairs(buckets, materialize = false), shingles, tau = 0.5))
    val nearRemoved = components.filter(col("id") =!= col("component"))
      .select(col("id").as("doc_id"))
    docs
      .join(exactKept, "doc_id") // survivor of each exact-content group
      .join(nearRemoved, Seq("doc_id"), "left_anti") // non-root near-dups out
      .filter(size(split(col("text"), " ")) >= 20) // quality floor
      .groupBy("lang")
      .agg(count(lit(1)).as("n_kept"),
        sum(size(split(col("text"), " ")).cast(org.apache.spark.sql.types.LongType))
          .as("kept_tokens"),
        min(col("doc_id")).as("first_kept"))
      .orderBy("lang")
  }

  /** Benchmark decontamination: remove from the training corpus any
    * document that exactly matches (md5) or near-matches (shares an LSH
    * band bucket with) a held-out benchmark document — the standard
    * eval-leakage guard in a training-data pipeline. The benchmark side
    * is tiny relative to the corpus, so its hashes and bucket keys are
    * BROADCAST: the corpus is never shuffled, only scanned. Here docs
    * with doc_id % 7 = 0 stand in as the benchmark set. */
  private val d10 = Q(
    "d10_decontaminate",
    """WITH docs AS (
         SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
       sh AS (
         SELECT doc_id, ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] AS sh
         FROM (SELECT doc_id, ws,
                      unnest(generate_series(1, greatest(len(ws) - 2, 1))) AS i
               FROM docs)),
       hs AS (
         SELECT doc_id, ('0x' || substring(md5(sh), 1, 8))::BIGINT AS h1,
                ('0x' || substring(md5(sh), 9, 8))::BIGINT AS h2
         FROM sh),
       sig AS (
         SELECT doc_id, seed, min(h1 + seed * h2) AS mh
         FROM hs, (SELECT unnest(generate_series(0, 7)) AS seed) seeds
         GROUP BY doc_id, seed),
       bands AS (
         SELECT doc_id, CAST(seed // 2 AS INT) AS band,
                md5(string_agg(CAST(mh AS VARCHAR), '|' ORDER BY seed)) AS band_key
         FROM sig GROUP BY doc_id, CAST(seed // 2 AS INT)),
       bench_hashes AS (
         SELECT DISTINCT md5(text) AS h FROM documents WHERE doc_id % 7 = 0),
       exact_bad AS (
         SELECT DISTINCT doc_id FROM documents
         WHERE doc_id % 7 != 0 AND md5(text) IN (SELECT h FROM bench_hashes)),
       bench_buckets AS (
         SELECT DISTINCT band, band_key FROM bands WHERE doc_id % 7 = 0),
       near_bad AS (
         SELECT DISTINCT b.doc_id
         FROM bands b JOIN bench_buckets bb
           ON b.band = bb.band AND b.band_key = bb.band_key
         WHERE b.doc_id % 7 != 0)
       SELECT verdict, count(*) AS n_docs,
              min(doc_id) AS min_id, max(doc_id) AS max_id
       FROM (
         SELECT t.doc_id,
                CASE WHEN e.doc_id IS NOT NULL THEN 'exact_contaminated'
                     WHEN n.doc_id IS NOT NULL THEN 'near_contaminated'
                     ELSE 'clean' END AS verdict
         FROM (SELECT doc_id FROM documents WHERE doc_id % 7 != 0) t
         LEFT JOIN exact_bad e ON t.doc_id = e.doc_id
         LEFT JOIN near_bad n ON t.doc_id = n.doc_id) v
       GROUP BY verdict ORDER BY verdict""") { (s, d) =>
    val docs = Tables.documents(s, d)
    val train = docs.filter(col("doc_id") % 7 =!= 0)
    val benchHashes = docs.filter(col("doc_id") % 7 === 0)
      .select(md5(col("text")).as("bh")).distinct()
    // one minhash pass over the whole corpus, materialized once (the
    // benchmark- and training-side bucket scans below both read it;
    // measured: dropping this persist costs +0.4s — the digest is the
    // expensive subtree here, unlike the shuffle-bounded t23/d26 cases)
    val buckets = reuse(
      lshBuckets(docs, "doc_id", "text", shingleWords = 3, bands = 4, rowsPerBand = 2))
    val benchBuckets = buckets.filter(col("id") % 7 === 0)
      .select("band", "band_key").distinct()
    val nearIds = buckets.filter(col("id") % 7 =!= 0)
      .join(benchSide(benchBuckets), Seq("band", "band_key"))
      .select(col("id").as("near_id")).distinct()
    // nearIds inherits the knob too: with a corpus-scale benchmark the
    // near-contaminated set can be corpus-scale as well
    train.withColumn("h", md5(col("text")))
      .join(benchSide(benchHashes), col("h") === col("bh"), "left")
      .join(benchSide(nearIds), col("doc_id") === col("near_id"), "left")
      .select(col("doc_id"),
        when(col("bh").isNotNull, "exact_contaminated")
          .when(col("near_id").isNotNull, "near_contaminated")
          .otherwise("clean").as("verdict"))
      .groupBy("verdict")
      .agg(count(lit(1)).as("n_docs"),
        min(col("doc_id")).as("min_id"), max(col("doc_id")).as("max_id"))
      .orderBy("verdict")
  }

  /** SimHash banded near-dup join: complete the d04 signature into a
    * DEDUP operator. A 64-bit simhash is cut into 4 bands of 16 bits;
    * by pigeonhole, any pair within hamming distance 3 agrees on at
    * least one whole band, so an equi-join on (band, bits) finds every
    * such pair WITHOUT the O(n²) all-pairs comparison — the exact
    * hamming filter then drops the band-collision false positives.
    * (A 32-bit hash with 8-bit bands collides on >50% of all pairs on
    * this template-heavy corpus — measured 28s at sf0.1; 16-bit bands
    * cut candidates ~20× to ~sub-second.) Output is the pair census
    * per distance (bounded rows, but hashed over the full pair set). */
  private val d11 = Q(
    "d11_simhash_dedup",
    """WITH hashed AS (
         SELECT doc_id, list_transform(string_split(text, ' '), t -> md5(t)) AS md5s
         FROM documents),
       s AS (
         SELECT doc_id,
                array_to_string(list_transform(generate_series(1, 64), i ->
                  CASE WHEN list_sum(list_transform(md5s, h ->
                    CASE WHEN i <= 32
                         THEN CASE WHEN substring(h, i, 1) IN ('8','9','a','b','c','d','e','f')
                              THEN 1 ELSE -1 END
                         ELSE CASE WHEN substring(h, i - 32, 1) IN ('1','3','5','7','9','b','d','f')
                              THEN 1 ELSE -1 END
                    END)) > 0 THEN '1' ELSE '0' END), '') AS sig
         FROM hashed),
       bands AS (
         SELECT doc_id, b, substring(sig, b*16 + 1, 16) AS bits
         FROM s, (SELECT unnest(generate_series(0, 3)) AS b) bs),
       cand AS (
         SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
         FROM bands a JOIN bands b
           ON a.b = b.b AND a.bits = b.bits AND a.doc_id < b.doc_id),
       h AS (
         SELECT id_a, id_b,
                CAST(list_sum(list_transform(generate_series(1, 64), i ->
                  CASE WHEN substring(sa.sig, i, 1) = substring(sb.sig, i, 1)
                       THEN 0 ELSE 1 END)) AS BIGINT) AS hamming
         FROM cand JOIN s sa ON sa.doc_id = id_a JOIN s sb ON sb.doc_id = id_b)
       SELECT hamming, count(*) AS n_pairs,
              min(id_a) AS min_id_a, max(id_b) AS max_id_b
       FROM h WHERE hamming <= 3
       GROUP BY hamming ORDER BY hamming""") { (s, d) =>
    // signatures are CPU-heavy and read three times (band explode + both
    // sides of the pair lookup) — spread across cores, hash each token
    // ONCE, materialize
    val docs = spreadToCores(Tables.documents(s, d))
    // carry the signature both as the 16-bit band strings (join keys) and
    // as 4 packed ints: hamming over the ~hundreds-of-thousands candidate
    // pairs is then 4 XOR+bit_count ops per pair instead of 64 substring
    // compares (same value as the oracle's character-wise count)
    // native one-pass signature (64 vote counters per token digest)
    // instead of the 64-aggregate HOF composition — same bitstring,
    // spec-asserted against simhash64FromMd5s
    graft.functions.SimHash64.register(s)
    val sigs = reuse(
      docs.withColumn("md5s", expr("transform(split(text, ' '), t -> md5(t))"))
        .select(col("doc_id"), graft.functions.SimHash64.simhash64(col("md5s")).as("sig"))
        .withColumn("si", expr(
          "transform(sequence(0, 3), b -> cast(conv(substring(sig, b*16 + 1, 16), 2, 10) as bigint))")))
    // the packed signature rides along through the band explode (32 bytes
    // per row), so the pair stage below never joins back to the signature
    // table — at scale that deletes two N-sized shuffles
    val bands0 = sigs.select(col("doc_id"), col("si"),
      posexplode(array((0 until 4).map(b => substring(col("sig"), b * 16 + 1, 16)): _*))
        .as(Seq("b", "bits")))
    // same degenerate-key guard as the MinHash path: a boilerplate-heavy
    // corpus can collapse a 16-bit band onto one value; cap it before the
    // self-join (sigs are materialized, so the census is a cheap re-read)
    val bands = dropOversizedBuckets(bands0, Seq("b", "bits"), bucketCap(s))
    // hamming BEFORE dedup: a pair colliding in k bands is scored k≤4
    // times at 4 XOR+bit_count ops each — far cheaper than shuffling the
    // full collision set through distinct and re-joining signatures. The
    // ≤3 filter then shrinks the set ~100× before the only pair shuffle.
    bands.as("a")
      .join(bands.as("b"),
        col("a.b") === col("b.b") && col("a.bits") === col("b.bits")
          && col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("id_a"), col("b.doc_id").as("id_b"),
        expr("aggregate(zip_with(a.si, b.si, (x, y) -> bit_count(x ^ y)), 0, (acc, c) -> acc + c)")
          .cast(LongType).as("hamming"))
      .filter(col("hamming") <= 3)
      .distinct()
      .groupBy("hamming")
      .agg(count(lit(1)).as("n_pairs"),
        min(col("id_a")).as("min_id_a"), max(col("id_b")).as("max_id_b"))
      .orderBy("hamming")
  }

  /** Exact 13-gram overlap decontamination — the published standard for
    * LLM benchmark leakage (GPT-3 appendix C lineage): a training doc is
    * contaminated iff it shares any exact 13-word-gram with the
    * benchmark split. Complements d10's LSH variant (near-dup recall)
    * with the exact-overlap definition evals actually use.
    *
    * Scale shape: benchmark grams are distinct-hashed and BROADCAST
    * (benchmarks are small by premise — the same contract as d10); the
    * training corpus is scanned narrowly (explode → hash → broadcast
    * join), and only MATCHED grams — a tiny set — ever shuffle, for the
    * per-doc distinct hit count. Docs shorter than 13 words contribute
    * their whole text as one gram (slice clamps on both engines). */
  private val d13 = Q(
    "d13_ngram_decontaminate",
    """WITH docs AS (
         SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
       g AS (
         SELECT doc_id, md5(array_to_string(ws[i:i+12], ' ')) AS gh
         FROM (SELECT doc_id, ws,
                      unnest(generate_series(1, greatest(len(ws) - 12, 1))) AS i
               FROM docs)),
       bench AS (SELECT DISTINCT gh FROM g WHERE doc_id % 7 = 0),
       hits AS (
         SELECT doc_id, count(*) AS n_hits
         FROM (SELECT DISTINCT t.doc_id, t.gh
               FROM g t JOIN bench b ON t.gh = b.gh
               WHERE t.doc_id % 7 != 0)
         GROUP BY doc_id),
       tr AS (
         SELECT d.doc_id, coalesce(h.n_hits, 0) AS n_hits
         FROM (SELECT doc_id FROM docs WHERE doc_id % 7 != 0) d
         LEFT JOIN hits h ON d.doc_id = h.doc_id)
       SELECT n_hits > 0 AS contaminated, count(*) AS n_docs,
              min(doc_id) AS min_id, max(doc_id) AS max_id,
              CAST(sum(n_hits) AS BIGINT) AS total_hits
       FROM tr GROUP BY n_hits > 0 ORDER BY contaminated""") { (s, d) =>
    val docs = Tables.documents(s, d)
    val grams = docs
      .withColumn("ws", split(col("text"), " "))
      .select(col("doc_id"), explode(expr(
        "transform(sequence(1, greatest(size(ws) - 12, 1)), i -> array_join(slice(ws, i, 13), ' '))"))
        .as("g"))
      .select(col("doc_id"), md5(col("g")).as("gh"))
    val benchGrams = grams.filter(col("doc_id") % 7 === 0).select("gh").distinct()
    val hits = grams.filter(col("doc_id") % 7 =!= 0)
      .join(benchSide(benchGrams), "gh") // corpus grams never shuffle (conf-gated)
      .select("doc_id", "gh").distinct() // only the matched (tiny) set does
      .groupBy("doc_id").agg(count(lit(1)).as("n_hits"))
    docs.filter(col("doc_id") % 7 =!= 0).select("doc_id")
      .join(hits, Seq("doc_id"), "left")
      .select(col("doc_id"), coalesce(col("n_hits"), lit(0L)).as("n_hits"))
      .groupBy((col("n_hits") > 0).as("contaminated"))
      .agg(count(lit(1)).as("n_docs"),
        min(col("doc_id")).as("min_id"), max(col("doc_id")).as("max_id"),
        sum(col("n_hits")).as("total_hits"))
      .orderBy("contaminated")
  }

  /** Jaccard-VERIFIED duplicate clusters — d08's pipeline with the step
    * production MinHash dedup adds between banding and clustering: every
    * band-collision candidate is scored against the true word-shingle
    * sets and only pairs with exact Jaccard ≥ 0.5 become edges. On this
    * corpus the filter drops ~85% of band collisions (the fixture's
    * shared-template vocabulary makes low-similarity docs collide), so
    * the clusters here are the defensible ones: connected components of
    * measured-similar pairs, not of hash luck. d11 gives the simhash path
    * the same treatment (exact hamming ≤ 3 post-band). */
  private val d15 = Q(
    "d15_verified_dedup_groups",
    """WITH RECURSIVE docs AS (
         SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
       sh AS (
         SELECT doc_id, ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] AS sh
         FROM (SELECT doc_id, ws,
                      unnest(generate_series(1, greatest(len(ws) - 2, 1))) AS i
               FROM docs)),
       hs AS (
         SELECT doc_id, ('0x' || substring(md5(sh), 1, 8))::BIGINT AS h1,
                ('0x' || substring(md5(sh), 9, 8))::BIGINT AS h2
         FROM sh),
       sig AS (
         SELECT doc_id, seed, min(h1 + seed * h2) AS mh
         FROM hs, (SELECT unnest(generate_series(0, 7)) AS seed) seeds
         GROUP BY doc_id, seed),
       bands AS (
         SELECT doc_id, CAST(seed // 2 AS INT) AS band,
                md5(string_agg(CAST(mh AS VARCHAR), '|' ORDER BY seed)) AS band_key
         FROM sig GROUP BY doc_id, CAST(seed // 2 AS INT)),
       pairs AS (
         SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
         FROM bands a JOIN bands b
           ON a.band = b.band AND a.band_key = b.band_key AND a.doc_id < b.doc_id),
       shd AS (SELECT DISTINCT doc_id, h1 * 134217728 + h2 % 134217728 AS h
               FROM hs),
       sz AS (SELECT doc_id, count(*) AS n FROM shd GROUP BY doc_id),
       inter AS (
         SELECT p.id_a, p.id_b, count(*) AS ni
         FROM pairs p
           JOIN shd a ON a.doc_id = p.id_a
           JOIN shd b ON b.doc_id = p.id_b AND b.h = a.h
         GROUP BY p.id_a, p.id_b),
       vpairs AS (
         SELECT i.id_a, i.id_b FROM inter i
           JOIN sz sa ON sa.doc_id = i.id_a
           JOIN sz sb ON sb.doc_id = i.id_b
         WHERE i.ni * 1.0 / (sa.n + sb.n - i.ni) >= 0.5),
       nodes AS (
         SELECT DISTINCT id FROM (
           SELECT id_a AS id FROM vpairs UNION ALL SELECT id_b AS id FROM vpairs)),
       edges AS (
         SELECT id_a AS src, id_b AS dst FROM vpairs
         UNION ALL SELECT id_b AS src, id_a AS dst FROM vpairs),
       reach(a, b) AS (
         SELECT id, id FROM nodes
         UNION
         SELECT r.a, e.dst FROM reach r JOIN edges e ON r.b = e.src)
       SELECT a AS doc_id, min(b) AS component
       FROM reach GROUP BY a ORDER BY doc_id""") { (s, d) =>
    val docs = Tables.documents(s, d)
    // single corpus digest: bands and verification sets from one md5 pass
    val (buckets, shingles) = lshBucketsAndShingles(docs, "doc_id", "text",
      shingleWords = 3, bands = 4, rowsPerBand = 2)
    val verified = jaccardVerifiedPairs(
      candidatePairs(buckets, materialize = false), shingles, tau = 0.5)
    connectedComponents(verified)
      .select(col("id").as("doc_id"), col("component"))
      .orderBy("doc_id")
  }

  /** MinHash sketch MERGE — the sketch-algebra property that makes
    * minhash viable at 100 TB: the signature of a UNION of shingle sets
    * is the elementwise min of the parts' signatures, so sketches are a
    * distributive aggregate (they combine in map-side partials, merge
    * across partitions/sources/days in any order, and never need the
    * underlying sets again). The query computes per-source sketches, the
    * whole-corpus sketch directly, AND the merge of the per-source
    * sketches — and emits the merge==direct comparison as a verified
    * output column, so the algebra is checked, not assumed. */
  private val d17 = Q(
    "d17_sketch_merge",
    """WITH docs AS (
         SELECT doc_id, source, string_split(text, ' ') AS ws FROM documents),
       sh AS (
         SELECT doc_id, source, ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] AS sh
         FROM (SELECT doc_id, source, ws,
                      unnest(generate_series(1, greatest(len(ws) - 2, 1))) AS i
               FROM docs)),
       hs AS (
         SELECT source, ('0x' || substring(md5(sh), 1, 8))::BIGINT AS h1,
                ('0x' || substring(md5(sh), 9, 8))::BIGINT AS h2
         FROM sh),
       seeds AS (SELECT unnest(generate_series(0, 7)) AS seed),
       src_sig AS (
         SELECT source, seed, min(h1 + seed * h2) AS mh
         FROM hs, seeds GROUP BY source, seed),
       corpus_direct AS (
         SELECT seed, min(h1 + seed * h2) AS mh FROM hs, seeds GROUP BY seed),
       merged AS (SELECT seed, min(mh) AS mh FROM src_sig GROUP BY seed)
       SELECT s.source, s.seed, s.mh AS source_minhash,
              m.mh AS merged_corpus_minhash,
              (m.mh = c.mh) AS merge_matches_direct
       FROM src_sig s
         JOIN merged m ON s.seed = m.seed
         JOIN corpus_direct c ON s.seed = c.seed
       ORDER BY s.source, s.seed""") { (s, d) =>
    val docs = spreadToCores(Tables.documents(s, d))
    val hs = docs
      .select(col("source"), split(col("text"), " ").as("ws"))
      .select(col("source"), expr(
        "transform(sequence(1, greatest(size(ws) - 2, 1)), " +
          "i -> concat_ws(' ', element_at(ws, i), element_at(ws, i + 1), element_at(ws, i + 2)))")
        .as("sh"))
      .select(col("source"), explode(shingleHashPairs(col("sh"))).as("p"))
      .select(col("source"), col("p.h1").as("h1"), col("p.h2").as("h2"))
      .select(col("source"), explode(expr("sequence(0L, 7L)")).as("seed"),
        col("h1"), col("h2"))
      .select(col("source"), col("seed"), (col("h1") + col("seed") * col("h2")).as("hv"))
    // per-source sketch: ONE hash agg; map-side partials already ARE
    // partial sketches — this is the distributive-aggregate shape
    val srcSig = reuse(hs.groupBy("source", "seed").agg(min(col("hv")).as("mh")))
    val corpusDirect = hs.groupBy("seed").agg(min(col("hv")).as("cmh"))
    val merged = srcSig.groupBy("seed").agg(min(col("mh")).as("mmh"))
    srcSig
      .join(broadcast(merged), "seed")
      .join(broadcast(corpusDirect), "seed")
      .select(col("source"), col("seed"), col("mh").as("source_minhash"),
        col("mmh").as("merged_corpus_minhash"),
        (col("mmh") === col("cmh")).as("merge_matches_direct"))
      .orderBy("source", "seed")
  }

  /** Sketch-ESTIMATED Jaccard vs exact, with the error as a verified
    * output — the d12/d16 "measure the approximation" pattern applied to
    * MinHash itself: per-source 16-register sketches, pairwise
    * register-agreement fraction as the estimate (E[agreement] = Jaccard,
    * Broder 1997), exact Jaccard over the true distinct shingle sets
    * beside it, and the absolute error as a hash-verified column.
    *
    * Hash-family choice is deliberate and DIFFERENT from the banding
    * path: estimation registers are INDEPENDENT digests
    * (md5(seed|shingle) per register) — the Kirsch-Mitzenmacher family
    * the banding/merge path uses (h1 + i·h2, one digest per shingle) is
    * fine for bucket recall, but its per-seed minima are correlated (one
    * small-(h1,h2) element wins many registers), which inflated measured
    * max |err| on this corpus from 0.16 to 0.97 at k=16. Estimation pays
    * k digests per shingle for unbiased low-variance agreement; banding
    * keeps the 1-digest family. At 100 TB only the sketches (16 values
    * per source) meet for estimation — the exact arm exists to measure,
    * and its shared-shingle self-join is the cost the sketch path
    * avoids. */
  private val d18 = Q(
    "d18_sketch_jaccard_estimate",
    """WITH docs AS (
         SELECT doc_id, source, string_split(text, ' ') AS ws FROM documents),
       sh AS (
         SELECT source, ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] AS sh
         FROM (SELECT source, ws,
                      unnest(generate_series(1, greatest(len(ws) - 2, 1))) AS i
               FROM docs)),
       seeds AS (SELECT unnest(generate_series(0, 15)) AS seed),
       src_sig AS (
         SELECT source, seed, min(md5(seed || '|' || sh)) AS mh
         FROM sh, seeds GROUP BY source, seed),
       agree AS (
         SELECT a.source AS source_a, b.source AS source_b,
                CAST(sum(CASE WHEN a.mh = b.mh THEN 1 ELSE 0 END) AS BIGINT) AS n_agree
         FROM src_sig a JOIN src_sig b
           ON a.seed = b.seed AND a.source < b.source
         GROUP BY a.source, b.source),
       shd AS (SELECT DISTINCT source, md5(sh) AS h FROM sh),
       sz AS (SELECT source, count(*) AS n FROM shd GROUP BY source),
       inter AS (
         SELECT a.source AS source_a, b.source AS source_b, count(*) AS ni
         FROM shd a JOIN shd b ON a.h = b.h AND a.source < b.source
         GROUP BY a.source, b.source)
       SELECT g.source_a, g.source_b, g.n_agree,
              round(g.n_agree / 16.0, 4) AS est_jaccard,
              round(coalesce(i.ni, 0) * 1.0
                    / (sa.n + sb.n - coalesce(i.ni, 0)), 6) AS exact_jaccard,
              round(abs(g.n_agree / 16.0
                    - coalesce(i.ni, 0) * 1.0 / (sa.n + sb.n - coalesce(i.ni, 0))), 4)
                AS abs_err
       FROM agree g
         LEFT JOIN inter i ON g.source_a = i.source_a AND g.source_b = i.source_b
         JOIN sz sa ON sa.source = g.source_a
         JOIN sz sb ON sb.source = g.source_b
       ORDER BY g.source_a, g.source_b""") { (s, d) =>
    val docs = spreadToCores(Tables.documents(s, d))
    // the exploded (source, shingle) stream feeds both arms — stage it once
    val sh = reuse(docs
      .select(col("source"), split(col("text"), " ").as("ws"))
      .select(col("source"), explode(expr(
        "transform(sequence(1, greatest(size(ws) - 2, 1)), " +
          "i -> concat_ws(' ', element_at(ws, i), element_at(ws, i + 1), element_at(ws, i + 2)))"))
        .as("sh")))
    // estimation arm: independent per-register digests (see Scaladoc),
    // ONE hash-agg to 16 hex minima per source, then a tiny sketch join
    val srcSig = sh
      .select(col("source"), explode(expr("sequence(0L, 15L)")).as("seed"),
        col("sh"))
      .select(col("source"), col("seed"),
        md5(concat(col("seed").cast("string"), lit("|"), col("sh"))).as("r"))
      .groupBy("source", "seed").agg(min(col("r")).as("mh"))
    val agree = srcSig.as("a")
      .join(srcSig.as("b"),
        col("a.seed") === col("b.seed") && col("a.source") < col("b.source"))
      .groupBy(col("a.source").as("source_a"), col("b.source").as("source_b"))
      .agg(sum(when(col("a.mh") === col("b.mh"), 1L).otherwise(0L)).as("n_agree"))
    // measurement arm: exact Jaccard over the true distinct shingle sets
    val shdR = reuse(sh.select(col("source"), md5(col("sh")).as("h")).distinct())
    val sz = shdR.groupBy("source").agg(count(lit(1)).as("n"))
    val inter = shdR.as("a")
      .join(shdR.as("b"), col("a.h") === col("b.h") && col("a.source") < col("b.source"))
      .groupBy(col("a.source").as("source_a"), col("b.source").as("source_b"))
      .agg(count(lit(1)).as("ni"))
    agree
      .join(inter, Seq("source_a", "source_b"), "left")
      .join(broadcast(sz.select(col("source").as("source_a"), col("n").as("na"))), "source_a")
      .join(broadcast(sz.select(col("source").as("source_b"), col("n").as("nb"))), "source_b")
      .withColumn("ex",
        coalesce(col("ni"), lit(0L)) * lit(1.0)
          / (col("na") + col("nb") - coalesce(col("ni"), lit(0L))))
      .select(col("source_a"), col("source_b"), col("n_agree"),
        round(col("n_agree") / 16.0, 4).as("est_jaccard"),
        round(col("ex"), 6).as("exact_jaccard"),
        round(abs(col("n_agree") / 16.0 - col("ex")), 4).as("abs_err"))
      .orderBy("source_a", "source_b")
  }

  /** Cross-corpus INCREMENTAL dedup — the ingest-time operator: a small
    * incoming batch (doc_id % 10 = 9 stands in) is checked against the
    * existing corpus, banded candidates verified by exact Jaccard ≥ 0.5
    * (the d15 contract), and each new doc gets a duplicate/unique verdict
    * with its best verified match. The scale asymmetry is the point, and
    * it is the MIRROR of d10's: there the tiny benchmark side broadcast;
    * here the tiny NEW-BATCH band keys broadcast while the corpus index —
    * at 100 TB a precomputed, stored band table maintained by
    * sketch-merge (d17), not re-derived as this self-contained query must
    * — is scanned, never shuffled, for the candidate probe. */
  private val d20 = Q(
    "d20_incremental_dedup",
    """WITH docs AS (
         SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
       sh AS (
         SELECT doc_id, ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] AS sh
         FROM (SELECT doc_id, ws,
                      unnest(generate_series(1, greatest(len(ws) - 2, 1))) AS i
               FROM docs)),
       hs AS (
         SELECT doc_id, ('0x' || substring(md5(sh), 1, 8))::BIGINT AS h1,
                ('0x' || substring(md5(sh), 9, 8))::BIGINT AS h2
         FROM sh),
       sig AS (
         SELECT doc_id, seed, min(h1 + seed * h2) AS mh
         FROM hs, (SELECT unnest(generate_series(0, 7)) AS seed) seeds
         GROUP BY doc_id, seed),
       bands AS (
         SELECT doc_id, CAST(seed // 2 AS INT) AS band,
                md5(string_agg(CAST(mh AS VARCHAR), '|' ORDER BY seed)) AS band_key
         FROM sig GROUP BY doc_id, CAST(seed // 2 AS INT)),
       cand AS (
         SELECT DISTINCT n.doc_id AS new_id, o.doc_id AS old_id
         FROM (SELECT * FROM bands WHERE doc_id % 10 = 9) n
         JOIN (SELECT * FROM bands WHERE doc_id % 10 != 9) o
           ON n.band = o.band AND n.band_key = o.band_key),
       shd AS (SELECT DISTINCT doc_id, h1 * 134217728 + h2 % 134217728 AS h
               FROM hs),
       sz AS (SELECT doc_id, count(*) AS n FROM shd GROUP BY doc_id),
       inter AS (
         SELECT c.new_id, c.old_id, count(*) AS ni
         FROM cand c
           JOIN shd a ON a.doc_id = c.new_id
           JOIN shd b ON b.doc_id = c.old_id AND b.h = a.h
         GROUP BY c.new_id, c.old_id),
       ver AS (
         SELECT i.new_id, i.old_id FROM inter i
           JOIN sz sa ON sa.doc_id = i.new_id
           JOIN sz sb ON sb.doc_id = i.old_id
         WHERE i.ni * 1.0 / (sa.n + sb.n - i.ni) >= 0.5),
       cand_n AS (SELECT new_id, count(*) AS n_cand FROM cand GROUP BY new_id),
       ver_n AS (SELECT new_id, count(*) AS n_ver, min(old_id) AS best_match
                 FROM ver GROUP BY new_id)
       SELECT d.doc_id AS new_doc_id,
              CAST(coalesce(c.n_cand, 0) AS BIGINT) AS n_candidates,
              CAST(coalesce(v.n_ver, 0) AS BIGINT) AS n_verified,
              CASE WHEN v.new_id IS NOT NULL THEN 'duplicate' ELSE 'unique' END AS verdict,
              v.best_match
       FROM (SELECT doc_id FROM documents WHERE doc_id % 10 = 9) d
         LEFT JOIN cand_n c ON d.doc_id = c.new_id
         LEFT JOIN ver_n v ON d.doc_id = v.new_id
       ORDER BY new_doc_id""") { (s, d) =>
    val docs = Tables.documents(s, d)
    val (buckets, shingles) = lshBucketsAndShingles(docs, "doc_id", "text",
      shingleWords = 3, bands = 4, rowsPerBand = 2)
    val isNew = col("id") % 10 === 9
    // new-batch band keys are tiny by premise → broadcast; the corpus
    // index side is scanned for the probe, never shuffled
    val cand = buckets.filter(!isNew)
      .join(broadcast(buckets.filter(isNew)
          .select(col("band"), col("band_key"), col("id").as("new_id"))),
        Seq("band", "band_key"))
      .select(col("new_id").as("id_a"), col("id").as("id_b"))
      .distinct()
    val verified = jaccardVerifiedPairs(cand, shingles, tau = 0.5)
    val candN = cand.groupBy(col("id_a").as("new_id"))
      .agg(count(lit(1)).as("n_cand"))
    val verN = verified.groupBy(col("id_a").as("new_id"))
      .agg(count(lit(1)).as("n_ver"), min(col("id_b")).as("best_match"))
    docs.filter(col("doc_id") % 10 === 9).select(col("doc_id").as("new_doc_id"))
      .join(candN, col("new_doc_id") === candN("new_id"), "left")
      .join(verN, col("new_doc_id") === verN("new_id"), "left")
      .select(col("new_doc_id"),
        coalesce(col("n_cand"), lit(0L)).as("n_candidates"),
        coalesce(col("n_ver"), lit(0L)).as("n_verified"),
        when(verN("new_id").isNotNull, "duplicate").otherwise("unique").as("verdict"),
        col("best_match"))
      .orderBy("new_doc_id")
  }

  /** Incremental dedup against a STORED band index — the production form
    * d20's docstring promises. The corpus band keys are WRITTEN once as a
    * bucketed table (8 buckets on the probe key, the src06 machinery) and
    * the ingest batch probes the table: the index side reads its bucketed
    * layout with NO exchange — only the tiny new-batch keys move — and at
    * 100 TB the signature pass over the corpus is skipped entirely on
    * every ingest (the index is maintained by d17's sketch merge).
    * Verification then re-shingles ONLY candidate docs (the
    * [[jaccardVerifiedPairs]] semi-join), not the corpus. Probe
    * exchange-freeness on the bucketed side is plan-asserted in
    * RoundSixSpec. Batch split (doc_id % 7 = 3) differs from d20's so the
    * two queries pin different data paths. */
  private val d21 = Q(
    "d21_stored_index_dedup",
    """WITH docs AS (
         SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
       sh AS (
         SELECT doc_id, ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] AS sh
         FROM (SELECT doc_id, ws,
                      unnest(generate_series(1, greatest(len(ws) - 2, 1))) AS i
               FROM docs)),
       hs AS (
         SELECT doc_id, ('0x' || substring(md5(sh), 1, 8))::BIGINT AS h1,
                ('0x' || substring(md5(sh), 9, 8))::BIGINT AS h2
         FROM sh),
       sig AS (
         SELECT doc_id, seed, min(h1 + seed * h2) AS mh
         FROM hs, (SELECT unnest(generate_series(0, 7)) AS seed) seeds
         GROUP BY doc_id, seed),
       bands AS (
         SELECT doc_id, CAST(seed // 2 AS INT) AS band,
                md5(string_agg(CAST(mh AS VARCHAR), '|' ORDER BY seed)) AS band_key
         FROM sig GROUP BY doc_id, CAST(seed // 2 AS INT)),
       cand AS (
         SELECT DISTINCT n.doc_id AS new_id, o.doc_id AS old_id
         FROM (SELECT * FROM bands WHERE doc_id % 7 = 3) n
         JOIN (SELECT * FROM bands WHERE doc_id % 7 != 3) o
           ON n.band = o.band AND n.band_key = o.band_key),
       shd AS (SELECT DISTINCT doc_id, h1 * 134217728 + h2 % 134217728 AS h
               FROM hs),
       sz AS (SELECT doc_id, count(*) AS n FROM shd GROUP BY doc_id),
       inter AS (
         SELECT c.new_id, c.old_id, count(*) AS ni
         FROM cand c
           JOIN shd a ON a.doc_id = c.new_id
           JOIN shd b ON b.doc_id = c.old_id AND b.h = a.h
         GROUP BY c.new_id, c.old_id),
       ver AS (
         SELECT i.new_id, i.old_id FROM inter i
           JOIN sz sa ON sa.doc_id = i.new_id
           JOIN sz sb ON sb.doc_id = i.old_id
         WHERE i.ni * 1.0 / (sa.n + sb.n - i.ni) >= 0.5),
       cand_n AS (SELECT new_id, count(*) AS n_cand FROM cand GROUP BY new_id),
       ver_n AS (SELECT new_id, count(*) AS n_ver, min(old_id) AS best_match
                 FROM ver GROUP BY new_id)
       SELECT d.doc_id AS new_doc_id,
              CAST(coalesce(c.n_cand, 0) AS BIGINT) AS n_candidates,
              CAST(coalesce(v.n_ver, 0) AS BIGINT) AS n_verified,
              CASE WHEN v.new_id IS NOT NULL THEN 'duplicate' ELSE 'unique' END AS verdict,
              v.best_match
       FROM (SELECT doc_id FROM documents WHERE doc_id % 7 = 3) d
         LEFT JOIN cand_n c ON d.doc_id = c.new_id
         LEFT JOIN ver_n v ON d.doc_id = v.new_id
       ORDER BY new_doc_id""") { (s, d) =>
    val docs = Tables.documents(s, d)
    val (buckets, shingles) = lshBucketsAndShingles(docs, "doc_id", "text",
      shingleWords = 3, bands = 4, rowsPerBand = 2)
    val isNew = col("id") % 7 === 3
    val cand = storedIndexCandidates(s, buckets, isNew)
    val verified = jaccardVerifiedPairs(cand, shingles, tau = 0.5)
    val candN = cand.groupBy(col("id_a").as("new_id"))
      .agg(count(lit(1)).as("n_cand"))
    val verN = verified.groupBy(col("id_a").as("new_id"))
      .agg(count(lit(1)).as("n_ver"), min(col("id_b")).as("best_match"))
    docs.filter(col("doc_id") % 7 === 3).select(col("doc_id").as("new_doc_id"))
      .join(candN, col("new_doc_id") === candN("new_id"), "left")
      .join(verN, col("new_doc_id") === verN("new_id"), "left")
      .select(col("new_doc_id"),
        coalesce(col("n_cand"), lit(0L)).as("n_candidates"),
        coalesce(col("n_ver"), lit(0L)).as("n_verified"),
        when(verN("new_id").isNotNull, "duplicate").otherwise("unique").as("verdict"),
        col("best_match"))
      .orderBy("new_doc_id")
  }

  /** Writes the corpus (non-new) side of `buckets` as a bucketed band
    * index table and probes it with the new-batch keys. The single join
    * column `bk` = band:band_key (fixed-width hex suffix — concat is
    * collision-free) matches the table's bucketing, so the index side
    * satisfies the join's distribution straight from its file layout:
    * no exchange, whether the probe plans as broadcast or shuffled
    * (only the new side ever moves). Returns candidate (id_a=new,
    * id_b=old) pairs. */
  def storedIndexCandidates(s: org.apache.spark.sql.SparkSession,
      buckets: DataFrame, isNew: Column): DataFrame = {
    // per-run table name (the d33 rule): a fixed name collides across
    // concurrent sessions sharing a metastore and outlives the query
    val table = "graft_band_index_" +
      graft.Scratch.nameTag()
    writeBandIndex(s, buckets.filter(!isNew), table)
    probeBandIndex(s, table, buckets.filter(isNew))
  }

  /** The single probe key: band:band_key (fixed-width hex suffix — the
    * concat is collision-free). */
  private def bandKey: Column = concat_ws(":", col("band"), col("band_key"))

  /** Run independent store-write actions CONCURRENTLY on the session's
    * FIFO scheduler (guide §2.6: overlap independent jobs). The
    * lifecycle operators issue several writes that share no data
    * dependency (band index + shingle store + exact store of one
    * generation); calling them sequentially pays each job's scheduling
    * floor and straggler tail back to back while the rest of the
    * cluster idles. Submitting them from sibling threads lets each
    * job's tasks back-fill the others' tails — at toy scale it
    * collapses the per-job floors, at 100 TB it fills the write tails.
    * Failures propagate: the first throwable is rethrown after all
    * actions settle (no write is silently abandoned mid-flight), with
    * every later one attached as suppressed so no leg's error is lost. */
  private[graft] def inParallel(actions: (() => Unit)*): Unit = {
    if (actions.size <= 1) { actions.foreach(_()); return }
    val errs = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val ts = actions.map { a =>
      val t = new Thread(() => try a() catch { case e: Throwable => errs.add(e): Unit })
      t.setDaemon(true); t.start(); t
    }
    ts.foreach(_.join())
    if (!errs.isEmpty) {
      val first = errs.poll()
      errs.forEach(e => if (e ne first) first.addSuppressed(e))
      throw first
    }
  }

  /** Writes a band-bucket DataFrame as the stored index table `table`,
    * bucketed on the probe key (layout: [[BucketedStore]]). Paid once
    * per corpus build; maintained at ingest by [[appendBandIndex]].
    * The bucket count is scale-derived from the source unless given
    * (d64/d65/s42 pin their generation-1 count at 8). */
  def writeBandIndex(s: org.apache.spark.sql.SparkSession,
      corpusBuckets: DataFrame, table: String,
      nBuckets: Option[Int] = None): Unit =
    BucketedStore.write(bandRows(corpusBuckets), "bk",
      nBuckets.getOrElse(BucketedStore.scaleBuckets(corpusBuckets)),
      table, bandPath(table)): Unit

  /** Appends an ingested batch's band keys to an EXISTING stored index
    * — the maintenance write production runs at ingest instead of
    * rebuilding the corpus index. d54's spec proves probe-after-append
    * byte-identical to probe-after-rebuild. */
  def appendBandIndex(s: org.apache.spark.sql.SparkSession,
      batchBuckets: DataFrame, table: String): Unit =
    BucketedStore.append(s, bandRows(batchBuckets), table)

  /** d64 — RE-BUCKET MIGRATION: rewrite the stored band index into a
    * new generation at a DIFFERENT bucket count. Bucket counts are
    * sized to the corpus (per-bucket data must fit an executor's scan
    * budget); a corpus that grew 100× since the index was laid out
    * needs more buckets, and at 100 TB that migration must be an online
    * generation swap, not downtime. Content-preserving, and a
    * compaction too (the rewrite's distinct); the caller publishes
    * (newTable, newCount) atomically so probes and maintenance writers
    * resolve the NEW spec together. */
  def migrateBandIndex(s: org.apache.spark.sql.SparkSession,
      table: String, nBuckets: Int, tag: String): String =
    BucketedStore.rewrite(s, table, bandLocation(tag), Some(nBuckets))(
      _.select(col("bk"), col("id")))

  /** Rewrite a stored band index minus tombstoned ids into a NEW
    * generation table — the d57 reclamation pass as a standalone helper
    * (shared by the document-store trio compaction and the media
    * fingerprint store m11). The tombstone frame (column `id`)
    * broadcasts. Returns the new table name for a catalog publish. */
  def compactBandIndex(s: org.apache.spark.sql.SparkSession,
      table: String, tomb: DataFrame, tag: String): String =
    BucketedStore.rewrite(s, table, bandLocation(tag))(
      _.join(broadcast(tomb.select(col("id"))), Seq("id"), "left_anti")
        .select(col("bk"), col("id")))

  /** A band generation's files live in a scratch dir named after its
    * table (`graft_<table>…/band_index`), where outside readers such as
    * the store benchmark's file census find them. */
  private def bandPath(table: String): String =
    s"${graft.Scratch.dir(s"graft_$table")}/band_index"

  private def bandLocation(tag: String): (String, String) = {
    val table = s"graft_band_index_${tag}_" + graft.Scratch.nameTag()
    (table, bandPath(table))
  }

  /** Stored band-index rows of an LSH bucket frame: (bk, id). */
  private def bandRows(buckets: DataFrame): DataFrame =
    buckets.select(bandKey.as("bk"), col("id"))

  /** Probes a stored band index with (small) new-batch buckets: the index
    * side reads its bucketed layout with no exchange. Returns candidate
    * (id_a=new, id_b=old) pairs. */
  def probeBandIndex(s: org.apache.spark.sql.SparkSession,
      table: String, newBuckets: DataFrame): DataFrame =
    s.table(table)
      .join(newBuckets.select(bandKey.as("bk"), col("id").as("new_id")), "bk")
      .select(col("new_id").as("id_a"), col("id").as("id_b"))
      .distinct()

  /** Positioned word k-grams: one row per (doc, position) with the
    * 60-bit gram hash — the index ExactSubstr-style dedup runs on. Only
    * (id, pos, h) longs ever leave this projection; gram strings are
    * digested in the map stage and never shuffle. */
  def wordGramPositions(df: DataFrame, idCol: String, textCol: String,
      k: Int): DataFrame =
    spreadToCores(df)
      .select(col(idCol).as("id"), split(col(textCol), " ").as("ws"))
      .select(col("id"), posexplode(expr(
        s"transform(sequence(1, greatest(size(ws) - ${k - 1}, 1)), " +
          s"i -> concat_ws(' ', ${(0 until k).map(j => s"element_at(ws, i + $j)").mkString(", ")}))"))
        .as(Seq("p", "gram")))
      .select(col("id"), (col("p") + 1).as("pos"),
        conv(substring(md5(col("gram")), 1, 15), 16, 10).cast(LongType).as("h"))

  /** Exact-substring dedup (the ExactSubstr family of Lee et al. 2022,
    * "Deduplicating Training Data Makes Language Models Better"): flag
    * document pairs sharing a ≥20-token VERBATIM run — overlap near-dup
    * scoring (Jaccard) cannot see, e.g. a long quotation inside two
    * otherwise-different docs. The suffix-array formulation is replaced
    * by a relational one that Spark executes wholesale:
    *
    *  1. anchor k-grams (k=8): positioned gram hashes; grams seen in
    *     2..10 distinct docs anchor candidates (the cap is the LSH
    *     maxBucketSize guard — boilerplate grams in >10 docs would
    *     explode the self-join; the oracle applies the same rule);
    *  2. candidate pairs from anchor co-occurrence, STRIDE-SAMPLED on
    *     the probe side (Lee et al. §4.1's sampling argument): a
    *     ≥20-token verbatim run spans ≥ 20−k+1 = 13 consecutive gram
    *     positions in EACH doc, and any 13 consecutive positions
    *     contain exactly one pos ≡ 0 (mod 13) — so probing only the
    *     stride-aligned grams of one join side still pigeonholes every
    *     qualifying run while shrinking that side ~13×. Pairs are
    *     normalized with least/greatest since either doc may be the
    *     strided one. Only 8-byte hashes + ids shuffle (plan-asserted
    *     in PlanSpec). The stride tightens the anchor requirement to
    *     the aligned position's gram (nd ≤ 10 there specifically); the
    *     oracle applies the identical rule;
    *  3. per-pair verification over the FULL gram sets of candidate
    *     docs only (the d15 semi-join discipline): matched positions
    *     (pa, pb) group by diagonal pa−pb, and a gaps-and-islands
    *     window finds the longest consecutive run — run r means a
    *     verbatim overlap of r+k−1 tokens. The window keys on
    *     (pair, diagonal): millions of small partitions at corpus
    *     scale, never one task per anything. */
  private val d22 = Q(
    "d22_exact_substring",
    """WITH docs AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
       g AS (
         SELECT doc_id AS id, i AS pos,
                ('0x' || substring(md5(concat_ws(' ', ws[i], ws[i+1], ws[i+2],
                   ws[i+3], ws[i+4], ws[i+5], ws[i+6], ws[i+7])), 1, 15))::BIGINT AS h
         FROM (SELECT doc_id, ws,
                      unnest(generate_series(1, greatest(len(ws) - 7, 1))) AS i
               FROM docs)),
       anchors AS (SELECT h FROM (SELECT h, count(DISTINCT id) AS nd
                                  FROM g GROUP BY h)
                   WHERE nd BETWEEN 2 AND 10),
       cand AS (SELECT DISTINCT least(a.id, b.id) AS id_a,
                                greatest(a.id, b.id) AS id_b
                FROM g a JOIN g b ON a.h = b.h AND a.id <> b.id
                WHERE a.pos % 13 = 0 AND a.h IN (SELECT h FROM anchors)),
       cids AS (SELECT id_a AS id FROM cand UNION SELECT id_b FROM cand),
       gc AS (SELECT * FROM g WHERE id IN (SELECT id FROM cids)),
       m AS (SELECT c.id_a, c.id_b, a.pos AS pa, b.pos AS pb
             FROM cand c
               JOIN gc a ON a.id = c.id_a
               JOIN gc b ON b.id = c.id_b AND b.h = a.h),
       runs AS (SELECT id_a, id_b, pa - pb AS diag, pa,
                       row_number() OVER (PARTITION BY id_a, id_b, pa - pb
                                          ORDER BY pa) AS rn
                FROM m),
       isl AS (SELECT id_a, id_b, count(*) AS run
               FROM runs GROUP BY id_a, id_b, diag, pa - rn),
       mx AS (SELECT id_a, id_b, max(run) AS max_run FROM isl GROUP BY id_a, id_b),
       nm AS (SELECT id_a, id_b, count(*) AS n_matched_grams FROM m GROUP BY id_a, id_b)
       SELECT n.id_a, n.id_b,
              CAST(n.n_matched_grams AS BIGINT) AS n_matched_grams,
              CAST(x.max_run + 7 AS BIGINT) AS longest_overlap_tokens
       FROM nm n JOIN mx x ON n.id_a = x.id_a AND n.id_b = x.id_b
       WHERE x.max_run + 7 >= 20
       ORDER BY n.id_a, n.id_b""") { (s, d) =>
    val k = 8
    val g = wordGramPositions(Tables.documents(s, d), "doc_id", "text", k)
    val anchors = g.groupBy("h").agg(countDistinct(col("id")).as("nd"))
      .filter(col("nd").between(2, 10)).select("h")
    val ag = g.join(anchors, Seq("h"), "left_semi")
    val cand = ag.filter(col("pos") % 13 === 0)
      .select(col("h"), col("id").as("id_s"))
      .join(ag.select(col("h"), col("id").as("id_o")), "h")
      .filter(col("id_s") =!= col("id_o"))
      .select(least(col("id_s"), col("id_o")).as("id_a"),
        greatest(col("id_s"), col("id_o")).as("id_b"))
      .distinct()
    val cids = cand.select(col("id_a").as("id"))
      .unionAll(cand.select(col("id_b").as("id"))).distinct()
    // Nothing in this pipeline is explicitly persisted: every repeated
    // subtree (g's gram stream, cand's distinct) sits behind an exchange,
    // and AQE's stage-level exchange reuse executes each once and re-reads
    // the shuffle files (verified: ReusedExchange nodes in the executed
    // plan). That is the 100 TB-appropriate materialization — disk-backed
    // shuffle output, no executor cache pressure — and locally it collapses
    // the former persist-count jobs into one job.
    val gc = g.join(cids, Seq("id"), "left_semi")
    val m = cand
      .join(gc.select(col("id").as("id_a"), col("pos").as("pa"), col("h")), "id_a")
      .join(gc.select(col("id").as("id_b"), col("pos").as("pb"), col("h")),
        Seq("id_b", "h"))
    val wRn = Window.partitionBy(col("id_a"), col("id_b"), col("diag"))
      .orderBy(col("pa"))
    // every m row lands in exactly one (diag, grp) island, so sum(run)
    // IS the per-pair matched-gram count — max and sum ride one pass
    // instead of the nm/mx double aggregation + join
    m.withColumn("diag", col("pa") - col("pb"))
      .withColumn("rn", row_number().over(wRn))
      .groupBy(col("id_a"), col("id_b"), col("diag"),
        (col("pa") - col("rn")).as("grp"))
      .agg(count(lit(1)).as("run"))
      .groupBy("id_a", "id_b")
      .agg(sum(col("run")).as("n_matched_grams"), max(col("run")).as("max_run"))
      .filter(col("max_run") + (k - 1) >= 20)
      .select(col("id_a"), col("id_b"), col("n_matched_grams"),
        (col("max_run") + lit(k - 1).cast(LongType)).as("longest_overlap_tokens"))
      .orderBy("id_a", "id_b")
  }

  /** Bloom-filtered ingest-time EXACT dedup — the d20/d21 asymmetry
    * applied to whole-content hashes: a tiny arriving batch is checked
    * against the full corpus without the corpus ever shuffling. The
    * batch's content hashes build a Bloom filter (sized from the batch,
    * x07's rule) that pre-filters the corpus scan map-side; only the
    * handful of bloom-positive corpus rows reach the exact
    * broadcast-join that eliminates false positives, so the output is
    * EXACTLY the semi-join semantics (oracle needs no bloom model).
    * At 100 TB the alternative direction — a persistent corpus-side
    * bloom maintained at ingest like d21's stored index — trades a
    * GB-scale broadcast for skipping the corpus scan; both asymmetries
    * are one-sided by design. Corpus text never shuffles; zero wide
    * exchanges (plan-asserted in RoundSixSpec). */
  private val d23 = Q(
    "d23_bloom_ingest_dedup",
    """WITH corpus AS (SELECT doc_id, md5(text) AS h FROM documents WHERE doc_id % 9 != 4),
       n AS (SELECT doc_id, md5(text) AS h FROM documents WHERE doc_id % 9 = 4),
       m AS (SELECT n.doc_id AS new_doc_id, min(c.doc_id) AS dup_of
             FROM n JOIN corpus c ON n.h = c.h GROUP BY n.doc_id)
       SELECT n.doc_id AS new_doc_id,
              CASE WHEN m.new_doc_id IS NOT NULL THEN 'duplicate' ELSE 'unique' END AS verdict,
              m.dup_of
       FROM n LEFT JOIN m ON n.doc_id = m.new_doc_id
       ORDER BY new_doc_id""") { (s, d) =>
    val docs = Tables.documents(s, d)
    val isNew = col("doc_id") % 9 === 4
    val newH = reuse(docs.filter(isNew)
      .select(col("doc_id"), md5(col("text")).as("h")))
    val bf = newH.stat.bloomFilter("h", math.max(newH.count(), 1L), 0.01)
    val bfBc = s.sparkContext.broadcast(bf)
    val mightContain = udf((h: String) => h != null && bfBc.value.mightContain(h))
    val matches = docs.filter(!isNew)
      .select(col("doc_id").as("c_id"), md5(col("text")).as("h"))
      .filter(mightContain(col("h"))) // bloom pre-filter: FPs possible
      .join(broadcast(newH.select(col("doc_id").as("new_doc_id"), col("h"))),
        "h") // exact join eliminates FPs; corpus rows never shuffle
      .groupBy("new_doc_id").agg(min(col("c_id")).as("dup_of"))
    newH.select(col("doc_id").as("new_doc_id"))
      .join(matches, Seq("new_doc_id"), "left")
      .select(col("new_doc_id"),
        when(col("dup_of").isNotNull, "duplicate").otherwise("unique").as("verdict"),
        col("dup_of"))
      .orderBy("new_doc_id")
  }

  /** The τ OPERATING CURVE for verified dedup — the tuning artifact a
    * data team reads before picking d15's threshold: candidates are
    * banded and Jaccard-scored ONCE (τ=0 keeps every scored pair), then
    * one tiny broadcast of the τ grid fans the scored pairs into
    * per-threshold counts: verified pairs, band precision (what fraction
    * of LSH collisions survive), docs flagged, and the verified-Jaccard
    * range. Sweeping τ costs ONE extra pass over the scored-pair table —
    * never a re-shingle, never a re-band — because the expensive pipeline
    * is threshold-independent by construction. Order statistics (min/max)
    * rather than a mean keep the fp outputs exact (each Jaccard is a
    * single divide; a mean would accumulate fp across rows). */
  private val d27 = Q(
    "d27_dedup_tau_sweep",
    """WITH docs AS (
         SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
       sh AS (
         SELECT doc_id, ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] AS sh
         FROM (SELECT doc_id, ws,
                      unnest(generate_series(1, greatest(len(ws) - 2, 1))) AS i
               FROM docs)),
       hs AS (
         SELECT doc_id, ('0x' || substring(md5(sh), 1, 8))::BIGINT AS h1,
                ('0x' || substring(md5(sh), 9, 8))::BIGINT AS h2
         FROM sh),
       sig AS (
         SELECT doc_id, seed, min(h1 + seed * h2) AS mh
         FROM hs, (SELECT unnest(generate_series(0, 7)) AS seed) seeds
         GROUP BY doc_id, seed),
       bands AS (
         SELECT doc_id, CAST(seed // 2 AS INT) AS band,
                md5(string_agg(CAST(mh AS VARCHAR), '|' ORDER BY seed)) AS band_key
         FROM sig GROUP BY doc_id, CAST(seed // 2 AS INT)),
       pairs AS (
         SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
         FROM bands a JOIN bands b
           ON a.band = b.band AND a.band_key = b.band_key AND a.doc_id < b.doc_id),
       shd AS (SELECT DISTINCT doc_id, h1 * 134217728 + h2 % 134217728 AS h
               FROM hs),
       sz AS (SELECT doc_id, count(*) AS n FROM shd GROUP BY doc_id),
       inter AS (
         SELECT p.id_a, p.id_b, count(*) AS ni
         FROM pairs p
           JOIN shd a ON a.doc_id = p.id_a
           JOIN shd b ON b.doc_id = p.id_b AND b.h = a.h
         GROUP BY p.id_a, p.id_b),
       scored AS (
         SELECT i.id_a, i.id_b, i.ni * 1.0 / (sa.n + sb.n - i.ni) AS j
         FROM inter i
           JOIN sz sa ON sa.doc_id = i.id_a
           JOIN sz sb ON sb.doc_id = i.id_b),
       taus AS (SELECT unnest([0.3, 0.5, 0.7, 0.96, 0.98]) AS tau),
       nc AS (SELECT count(*) AS n_candidates FROM pairs),
       pa AS (
         SELECT t.tau, count(*) AS n_verified,
                round(min(s.j), 6) AS min_jaccard, round(max(s.j), 6) AS max_jaccard
         FROM taus t JOIN scored s ON s.j >= t.tau GROUP BY t.tau),
       da AS (
         SELECT tau, count(DISTINCT id) AS n_docs_flagged FROM (
           SELECT t.tau, s.id_a AS id FROM taus t JOIN scored s ON s.j >= t.tau
           UNION ALL
           SELECT t.tau, s.id_b FROM taus t JOIN scored s ON s.j >= t.tau) u
         GROUP BY tau)
       SELECT t.tau, nc.n_candidates,
              CAST(coalesce(pa.n_verified, 0) AS BIGINT) AS n_verified,
              round(coalesce(pa.n_verified, 0) * 1.0 / nc.n_candidates, 4) AS band_precision,
              CAST(coalesce(da.n_docs_flagged, 0) AS BIGINT) AS n_docs_flagged,
              pa.min_jaccard, pa.max_jaccard
       FROM taus t CROSS JOIN nc
         LEFT JOIN pa ON pa.tau = t.tau
         LEFT JOIN da ON da.tau = t.tau
       ORDER BY t.tau""") { (s, d) =>
    import s.implicits._
    val docs = Tables.documents(s, d)
    val (buckets, shingles) = lshBucketsAndShingles(docs, "doc_id", "text",
      shingleWords = 3, bands = 4, rowsPerBand = 2)
    val cand = reuse(candidatePairs(buckets, materialize = false))
    val scored = reuse(jaccardVerifiedPairs(cand, shingles, tau = 0.0))
    val taus = Seq(0.3, 0.5, 0.7, 0.96, 0.98).toDF("tau")
    val nCand = cand.agg(count(lit(1)).as("n_candidates"))
    val sweep = scored.crossJoin(broadcast(taus))
      .filter(col("jaccard") >= col("tau"))
    val pa = sweep.groupBy("tau")
      .agg(count(lit(1)).as("n_verified"),
        round(min(col("jaccard")), 6).as("min_jaccard"),
        round(max(col("jaccard")), 6).as("max_jaccard"))
    val da = sweep.select(col("tau"), col("id_a").as("id"))
      .unionAll(sweep.select(col("tau"), col("id_b").as("id")))
      .groupBy("tau").agg(countDistinct(col("id")).as("n_docs_flagged"))
    taus.crossJoin(broadcast(nCand))
      .join(pa, Seq("tau"), "left")
      .join(da, Seq("tau"), "left")
      .select(col("tau"), col("n_candidates"),
        coalesce(col("n_verified"), lit(0L)).as("n_verified"),
        round(coalesce(col("n_verified"), lit(0L)) * lit(1.0) / col("n_candidates"), 4)
          .as("band_precision"),
        coalesce(col("n_docs_flagged"), lit(0L)).as("n_docs_flagged"),
        col("min_jaccard"), col("max_jaccard"))
      .orderBy("tau")
  }

  /** Canonical-survivor selection — the final act of the dedup story
    * (band → verify → cluster → CHOOSE WHO LIVES): per verified duplicate
    * cluster (d15's components), keep the longest member (ties → lowest
    * id; "keep the most complete copy" is the standard crawl policy) and
    * account for exactly how many docs/tokens deletion saves. The argmax
    * is a `min(struct(-n_tok, id))` hash aggregate — map-side combinable,
    * no per-cluster sort — and only (id, component, n_tok) triples ever
    * shuffle; the corpus text stays in the scan. */
  private val d28 = Q(
    "d28_cluster_canonical",
    """WITH RECURSIVE docs AS (
         SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
       sh AS (
         SELECT doc_id, ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] AS sh
         FROM (SELECT doc_id, ws,
                      unnest(generate_series(1, greatest(len(ws) - 2, 1))) AS i
               FROM docs)),
       hs AS (
         SELECT doc_id, ('0x' || substring(md5(sh), 1, 8))::BIGINT AS h1,
                ('0x' || substring(md5(sh), 9, 8))::BIGINT AS h2
         FROM sh),
       sig AS (
         SELECT doc_id, seed, min(h1 + seed * h2) AS mh
         FROM hs, (SELECT unnest(generate_series(0, 7)) AS seed) seeds
         GROUP BY doc_id, seed),
       bands AS (
         SELECT doc_id, CAST(seed // 2 AS INT) AS band,
                md5(string_agg(CAST(mh AS VARCHAR), '|' ORDER BY seed)) AS band_key
         FROM sig GROUP BY doc_id, CAST(seed // 2 AS INT)),
       pairs AS (
         SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
         FROM bands a JOIN bands b
           ON a.band = b.band AND a.band_key = b.band_key AND a.doc_id < b.doc_id),
       shd AS (SELECT DISTINCT doc_id, h1 * 134217728 + h2 % 134217728 AS h
               FROM hs),
       sz AS (SELECT doc_id, count(*) AS n FROM shd GROUP BY doc_id),
       inter AS (
         SELECT p.id_a, p.id_b, count(*) AS ni
         FROM pairs p
           JOIN shd a ON a.doc_id = p.id_a
           JOIN shd b ON b.doc_id = p.id_b AND b.h = a.h
         GROUP BY p.id_a, p.id_b),
       vpairs AS (
         SELECT i.id_a, i.id_b FROM inter i
           JOIN sz sa ON sa.doc_id = i.id_a
           JOIN sz sb ON sb.doc_id = i.id_b
         WHERE i.ni * 1.0 / (sa.n + sb.n - i.ni) >= 0.5),
       nodes AS (
         SELECT DISTINCT id FROM (
           SELECT id_a AS id FROM vpairs UNION ALL SELECT id_b AS id FROM vpairs)),
       edges AS (
         SELECT id_a AS src, id_b AS dst FROM vpairs
         UNION ALL SELECT id_b AS src, id_a AS dst FROM vpairs),
       reach(a, b) AS (
         SELECT id, id FROM nodes
         UNION
         SELECT r.a, e.dst FROM reach r JOIN edges e ON r.b = e.src),
       cc AS (SELECT a AS doc_id, min(b) AS component FROM reach GROUP BY a),
       m AS (
         SELECT c.component, c.doc_id,
                len(string_split(d.text, ' ')) AS n_tok
         FROM cc c JOIN documents d ON d.doc_id = c.doc_id),
       ranked AS (
         SELECT component, doc_id, n_tok,
                row_number() OVER (PARTITION BY component
                  ORDER BY n_tok DESC, doc_id) AS rn,
                count(*) OVER (PARTITION BY component) AS n_members,
                CAST(sum(n_tok) OVER (PARTITION BY component) AS BIGINT) AS total_tok
         FROM m)
       SELECT component, doc_id AS keep_id, CAST(n_tok AS BIGINT) AS keep_tokens,
              n_members, CAST(total_tok - n_tok AS BIGINT) AS tokens_dropped
       FROM ranked WHERE rn = 1 ORDER BY component""") { (s, d) =>
    val docs = Tables.documents(s, d)
    val (buckets, shingles) = lshBucketsAndShingles(docs, "doc_id", "text",
      shingleWords = 3, bands = 4, rowsPerBand = 2)
    val verified = jaccardVerifiedPairs(
      candidatePairs(buckets, materialize = false), shingles, tau = 0.5)
    val cc = connectedComponents(verified)
      .select(col("id").as("doc_id"), col("component"))
    val m = cc.join(
      docs.select(col("doc_id"), size(split(col("text"), " ")).cast(LongType).as("n_tok")),
      "doc_id")
    m.groupBy("component")
      .agg(
        min(struct((-col("n_tok")).as("neg"), col("doc_id").as("id"))).as("best"),
        count(lit(1)).as("n_members"),
        sum(col("n_tok")).as("total_tok"))
      .select(col("component"), col("best.id").as("keep_id"),
        (-col("best.neg")).as("keep_tokens"),
        col("n_members"),
        (col("total_tok") + col("best.neg")).as("tokens_dropped"))
      .orderBy("component")
  }

  /** Cross-source duplication matrix — the provenance diagnostic a corpus
    * team reads before setting mixture weights (t21): for every pair of
    * sources, how many VERIFIED near-duplicate document pairs (Jaccard ≥
    * 0.5, the d15 gate) span them. A hot off-diagonal cell means two
    * feeds crawl the same site and their tokens double-count; a hot
    * diagonal cell means a feed self-duplicates (templates, mirrors).
    *
    * Scale shape: the pair set is LSH-bounded (never O(N²)) and already
    * verified; attaching provenance joins the pair ids against the
    * (doc_id, source) projection — only 8-byte ids and short source
    * strings shuffle, and the matrix itself is #sources² at most. */
  private val d31 = Q(
    "d31_source_overlap",
    """WITH docs AS (
         SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
       sh AS (
         SELECT doc_id, ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] AS sh
         FROM (SELECT doc_id, ws,
                      unnest(generate_series(1, greatest(len(ws) - 2, 1))) AS i
               FROM docs)),
       hs AS (
         SELECT doc_id, ('0x' || substring(md5(sh), 1, 8))::BIGINT AS h1,
                ('0x' || substring(md5(sh), 9, 8))::BIGINT AS h2
         FROM sh),
       sig AS (
         SELECT doc_id, seed, min(h1 + seed * h2) AS mh
         FROM hs, (SELECT unnest(generate_series(0, 7)) AS seed) seeds
         GROUP BY doc_id, seed),
       bands AS (
         SELECT doc_id, CAST(seed // 2 AS INT) AS band,
                md5(string_agg(CAST(mh AS VARCHAR), '|' ORDER BY seed)) AS band_key
         FROM sig GROUP BY doc_id, CAST(seed // 2 AS INT)),
       pairs AS (
         SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
         FROM bands a JOIN bands b
           ON a.band = b.band AND a.band_key = b.band_key AND a.doc_id < b.doc_id),
       shd AS (SELECT DISTINCT doc_id, h1 * 134217728 + h2 % 134217728 AS h
               FROM hs),
       sz AS (SELECT doc_id, count(*) AS n FROM shd GROUP BY doc_id),
       inter AS (
         SELECT p.id_a, p.id_b, count(*) AS ni
         FROM pairs p
           JOIN shd a ON a.doc_id = p.id_a
           JOIN shd b ON b.doc_id = p.id_b AND b.h = a.h
         GROUP BY p.id_a, p.id_b),
       vpairs AS (
         SELECT i.id_a, i.id_b FROM inter i
           JOIN sz sa ON sa.doc_id = i.id_a
           JOIN sz sb ON sb.doc_id = i.id_b
         WHERE i.ni * 1.0 / (sa.n + sb.n - i.ni) >= 0.5),
       src AS (SELECT doc_id, source FROM documents),
       m AS (
         SELECT least(sa.source, sb.source) AS source_a,
                greatest(sa.source, sb.source) AS source_b
         FROM vpairs v
           JOIN src sa ON sa.doc_id = v.id_a
           JOIN src sb ON sb.doc_id = v.id_b)
       SELECT source_a, source_b, count(*) AS n_pairs,
              (source_a = source_b) AS same_source
       FROM m GROUP BY source_a, source_b
       ORDER BY source_a, source_b""") { (s, d) =>
    val docs = Tables.documents(s, d)
    val (buckets, shingles) = lshBucketsAndShingles(docs, "doc_id", "text",
      shingleWords = 3, bands = 4, rowsPerBand = 2)
    val verified = jaccardVerifiedPairs(
      candidatePairs(buckets, materialize = false), shingles, tau = 0.5)
    val src = docs.select(col("doc_id"), col("source"))
    verified
      .join(src.select(col("doc_id").as("id_a"), col("source").as("sa")), "id_a")
      .join(src.select(col("doc_id").as("id_b"), col("source").as("sb")), "id_b")
      .select(least(col("sa"), col("sb")).as("source_a"),
        greatest(col("sa"), col("sb")).as("source_b"))
      .groupBy("source_a", "source_b")
      .agg(count(lit(1)).as("n_pairs"))
      .withColumn("same_source", col("source_a") === col("source_b"))
      .orderBy("source_a", "source_b")
  }

  /** Iterative graph propagation (PageRank form) over the verified
    * duplicate graph — the importance signal a canonical-survivor policy
    * (d28) can weight by: a doc duplicated by many well-connected docs
    * outranks a leaf of the same cluster. Three synchronous iterations,
    * damping 0.85, in FIXED-POINT micro-units: ranks are longs,
    * neighbor contributions are integer floor-divides (rank div degree),
    * and the damped update is one integer multiply-divide — so the
    * result is exact integer math, reproducible across engines and
    * accumulation orders (an fp PageRank would hash-diverge on summation
    * order alone; the quantization error is ≤ degree micro-units per
    * step, far below ranking resolution).
    *
    * Scale shape: delegated to [[pageRank]] — the LSH-pruned edge list
    * takes the driver loop when it fits under the threshold (bit-
    * identical integer math, no per-iteration Spark jobs); above it,
    * each iteration is one join of the rank table against the edge list
    * plus a hash agg on dst — ids and longs only, fixed iteration
    * count, bounded lineage (the connectedComponents machinery above
    * documents the same two-path pattern). */
  private val d34 = Q(
    "d34_pagerank",
    """WITH RECURSIVE docs AS (
         SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
       sh AS (
         SELECT doc_id, ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] AS sh
         FROM (SELECT doc_id, ws,
                      unnest(generate_series(1, greatest(len(ws) - 2, 1))) AS i
               FROM docs)),
       hs AS (
         SELECT doc_id, ('0x' || substring(md5(sh), 1, 8))::BIGINT AS h1,
                ('0x' || substring(md5(sh), 9, 8))::BIGINT AS h2
         FROM sh),
       sig AS (
         SELECT doc_id, seed, min(h1 + seed * h2) AS mh
         FROM hs, (SELECT unnest(generate_series(0, 7)) AS seed) seeds
         GROUP BY doc_id, seed),
       bands AS (
         SELECT doc_id, CAST(seed // 2 AS INT) AS band,
                md5(string_agg(CAST(mh AS VARCHAR), '|' ORDER BY seed)) AS band_key
         FROM sig GROUP BY doc_id, CAST(seed // 2 AS INT)),
       pairs AS (
         SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
         FROM bands a JOIN bands b
           ON a.band = b.band AND a.band_key = b.band_key AND a.doc_id < b.doc_id),
       shd AS (SELECT DISTINCT doc_id, h1 * 134217728 + h2 % 134217728 AS h
               FROM hs),
       sz AS (SELECT doc_id, count(*) AS n FROM shd GROUP BY doc_id),
       inter AS (
         SELECT p.id_a, p.id_b, count(*) AS ni
         FROM pairs p
           JOIN shd a ON a.doc_id = p.id_a
           JOIN shd b ON b.doc_id = p.id_b AND b.h = a.h
         GROUP BY p.id_a, p.id_b),
       vpairs AS (
         SELECT i.id_a, i.id_b FROM inter i
           JOIN sz sa ON sa.doc_id = i.id_a
           JOIN sz sb ON sb.doc_id = i.id_b
         WHERE i.ni * 1.0 / (sa.n + sb.n - i.ni) >= 0.5),
       edges AS (
         SELECT id_a AS src, id_b AS dst FROM vpairs
         UNION ALL SELECT id_b AS src, id_a AS dst FROM vpairs),
       deg AS (SELECT src AS id, count(*) AS deg FROM edges GROUP BY src),
       r0 AS (SELECT id, CAST(1000000 AS BIGINT) AS r FROM deg),
       r1 AS (
         SELECT n.id, CAST(150000 + (CAST(coalesce(s.c, 0) AS BIGINT) * 850000) // 1000000 AS BIGINT) AS r
         FROM deg n LEFT JOIN (
           SELECT e.dst AS id, sum(r0.r // d.deg) AS c
           FROM edges e JOIN r0 ON r0.id = e.src JOIN deg d ON d.id = e.src
           GROUP BY e.dst) s ON s.id = n.id),
       r2 AS (
         SELECT n.id, CAST(150000 + (CAST(coalesce(s.c, 0) AS BIGINT) * 850000) // 1000000 AS BIGINT) AS r
         FROM deg n LEFT JOIN (
           SELECT e.dst AS id, sum(r1.r // d.deg) AS c
           FROM edges e JOIN r1 ON r1.id = e.src JOIN deg d ON d.id = e.src
           GROUP BY e.dst) s ON s.id = n.id),
       r3 AS (
         SELECT n.id, CAST(150000 + (CAST(coalesce(s.c, 0) AS BIGINT) * 850000) // 1000000 AS BIGINT) AS r
         FROM deg n LEFT JOIN (
           SELECT e.dst AS id, sum(r2.r // d.deg) AS c
           FROM edges e JOIN r2 ON r2.id = e.src JOIN deg d ON d.id = e.src
           GROUP BY e.dst) s ON s.id = n.id)
       SELECT r3.id AS doc_id, deg.deg AS degree, r3.r AS rank_micro
       FROM r3 JOIN deg ON deg.id = r3.id
       ORDER BY doc_id""") { (s, d) =>
    val docs = Tables.documents(s, d)
    val (buckets, shingles) = lshBucketsAndShingles(docs, "doc_id", "text",
      shingleWords = 3, bands = 4, rowsPerBand = 2)
    val vpairs = jaccardVerifiedPairs(
      candidatePairs(buckets, materialize = false), shingles, tau = 0.5)
      .select(col("id_a"), col("id_b"))
    pageRank(vpairs, iters = 3).orderBy("doc_id")
  }

  /** LSH banding operating curve — the (bands × rows) tuning artifact
    * that sits beside d27's τ curve: from ONE 8-hash signature pass, the
    * three bandings 8×1 / 4×2 / 2×4 are evaluated together. Because a
    * (b, r) collision requires r consecutive register agreements, the
    * candidate sets NEST (2×4 ⊆ 4×2 ⊆ 8×1), so the loosest set is
    * Jaccard-verified ONCE and every tighter config's precision/recall
    * is a membership count over the same scored pairs — the full
    * S-curve sweep for one banding's verification cost. Emits, per
    * config, candidates, verified (J ≥ 0.5), precision, and recall
    * relative to the loosest config.
    *
    * Scale shape: register agreements join on (seed, mh) — 8-byte keys;
    * band membership is a per-pair count aggregate; the only per-pair
    * text work is the single shared verification (d15's machinery,
    * candidate-restricted). */
  private val d36 = Q(
    "d36_banding_curve",
    """WITH docs AS (
         SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
       sh AS (
         SELECT doc_id, ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] AS sh
         FROM (SELECT doc_id, ws,
                      unnest(generate_series(1, greatest(len(ws) - 2, 1))) AS i
               FROM docs)),
       hs AS (
         SELECT doc_id, ('0x' || substring(md5(sh), 1, 8))::BIGINT AS h1,
                ('0x' || substring(md5(sh), 9, 8))::BIGINT AS h2
         FROM sh),
       sig AS (
         SELECT doc_id, seed, min(h1 + seed * h2) AS mh
         FROM hs, (SELECT unnest(generate_series(0, 7)) AS seed) seeds
         GROUP BY doc_id, seed),
       agr AS (
         SELECT a.doc_id AS id_a, b.doc_id AS id_b, a.seed AS seed
         FROM sig a JOIN sig b
           ON a.seed = b.seed AND a.mh = b.mh AND a.doc_id < b.doc_id),
       pairs AS (SELECT DISTINCT id_a, id_b FROM agr),
       m42 AS (
         SELECT DISTINCT id_a, id_b FROM (
           SELECT id_a, id_b, seed // 2 AS band, count(*) AS c
           FROM agr GROUP BY id_a, id_b, seed // 2) t WHERE c = 2),
       m24 AS (
         SELECT DISTINCT id_a, id_b FROM (
           SELECT id_a, id_b, seed // 4 AS band, count(*) AS c
           FROM agr GROUP BY id_a, id_b, seed // 4) t WHERE c = 4),
       shd AS (SELECT DISTINCT doc_id, h1 * 134217728 + h2 % 134217728 AS h
               FROM hs),
       sz AS (SELECT doc_id, count(*) AS n FROM shd GROUP BY doc_id),
       inter AS (
         SELECT p.id_a, p.id_b, count(*) AS ni
         FROM pairs p
           JOIN shd a ON a.doc_id = p.id_a
           JOIN shd b ON b.doc_id = p.id_b AND b.h = a.h
         GROUP BY p.id_a, p.id_b),
       ver AS (
         SELECT i.id_a, i.id_b FROM inter i
           JOIN sz sa ON sa.doc_id = i.id_a
           JOIN sz sb ON sb.doc_id = i.id_b
         WHERE i.ni * 1.0 / (sa.n + sb.n - i.ni) >= 0.5),
       members AS (
         SELECT '8x1' AS config, id_a, id_b FROM pairs
         UNION ALL SELECT '4x2', id_a, id_b FROM m42
         UNION ALL SELECT '2x4', id_a, id_b FROM m24),
       agg AS (
         SELECT m.config, count(*) AS n_candidates,
                CAST(sum(CASE WHEN v.id_a IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_verified
         FROM members m LEFT JOIN ver v
           ON v.id_a = m.id_a AND v.id_b = m.id_b
         GROUP BY m.config),
       loosest AS (SELECT n_verified AS v81 FROM agg WHERE config = '8x1')
       SELECT c.config,
              CAST(coalesce(a.n_candidates, 0) AS BIGINT) AS n_candidates,
              CAST(coalesce(a.n_verified, 0) AS BIGINT) AS n_verified,
              round(coalesce(a.n_verified * 1.0 / a.n_candidates, 0.0), 4) AS precision_at_05,
              round(coalesce(a.n_verified * 1.0 / l.v81, 0.0), 4) AS recall_vs_loosest
       FROM (SELECT * FROM (VALUES ('8x1'), ('4x2'), ('2x4')) AS t(config)) c
         LEFT JOIN agg a ON a.config = c.config
         CROSS JOIN loosest l
       ORDER BY c.config""") { (s, d) =>
    val docs = Tables.documents(s, d)
    val toks = spreadToCores(docs)
      .select(col("doc_id").as("id"), split(col("text"), " ").as("ws"))
    val sh = toks.select(col("id"),
      expr("transform(sequence(1, greatest(size(ws) - 2, 1)), " +
        "i -> concat_ws(' ', element_at(ws, i), element_at(ws, i + 1), element_at(ws, i + 2)))")
        .as("sh"))
    val hv = reuse(sh.select(col("id"), shingleHashPairs(col("sh")).as("hv")))
    graft.functions.MinHashSig.register(s)
    // the register self-join is a banded self-join in disguise: one
    // degenerate (seed, mh) bucket would emit quadratic agreement rows,
    // so the d03 cap guards it (fixture max bucket: 20 docs — the cap
    // never fires on oracle data; at scale it trades recall on a
    // non-discriminating register for bounded work)
    val sig = dropOversizedBuckets(
      reuse(hv.select(col("id"),
        posexplode(minhashSignature(col("hv"), 8)).as(Seq("seed", "mh")))),
      Seq("seed", "mh"), bucketCap(s))
    val agr = reuse(sig.select(col("id").as("id_a"), col("seed"), col("mh"))
      .join(sig.select(col("id").as("id_b"), col("seed"), col("mh")), Seq("seed", "mh"))
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"), col("seed")))
    val pairs = agr.select(col("id_a"), col("id_b")).distinct()
    def bandMembers(rowsPerBand: Int): DataFrame = agr
      .groupBy(col("id_a"), col("id_b"), (col("seed") / rowsPerBand).cast("int").as("band"))
      .agg(count(lit(1)).as("c"))
      .filter(col("c") === rowsPerBand)
      .select(col("id_a"), col("id_b")).distinct()
    val shingles = hv.select(col("id"), explode(col("hv")).as("p"))
      .select(col("id"),
        (col("p.h1") * lit(134217728L) + col("p.h2") % lit(134217728L)).as("h"))
    val ver = jaccardVerifiedPairs(pairs, shingles, tau = 0.5)
      .select(col("id_a").as("va"), col("id_b").as("vb"))
    val members = pairs.withColumn("config", lit("8x1"))
      .unionByName(bandMembers(2).withColumn("config", lit("4x2")))
      .unionByName(bandMembers(4).withColumn("config", lit("2x4")))
    val agg = reuse(members
      .join(ver, col("va") === col("id_a") && col("vb") === col("id_b"), "left")
      .groupBy("config")
      .agg(count(lit(1)).as("n_candidates"),
        sum(when(col("va").isNotNull, 1L).otherwise(0L)).as("n_verified")))
    val loosest = agg.filter(col("config") === "8x1")
      .select(col("n_verified").as("v81"))
    val configs = s.createDataFrame(Seq(Tuple1("8x1"), Tuple1("4x2"), Tuple1("2x4")))
      .toDF("config")
    configs
      .join(agg, Seq("config"), "left")
      .crossJoin(broadcast(loosest))
      .select(col("config"),
        coalesce(col("n_candidates"), lit(0L)).as("n_candidates"),
        coalesce(col("n_verified"), lit(0L)).as("n_verified"),
        round(coalesce(col("n_verified") * lit(1.0) / col("n_candidates"), lit(0.0)), 4)
          .as("precision_at_05"),
        round(coalesce(col("n_verified") * lit(1.0) / col("v81"), lit(0.0)), 4)
          .as("recall_vs_loosest"))
      .orderBy("config")
  }

  /** Duplicate-cluster size distribution — the log-bucketed histogram
    * every dedup paper plots (and the number a data team quotes:
    * "X% of the corpus sits in clusters of ≥N"): verified components
    * (d15's clusters) bucketed by size into power-of-two bins, with
    * singletons (docs in no verified pair) as the size-1 bin. Bucketing
    * is an integer CASE ladder (never floor(log2(·)) — libm log2 of an
    * exact power of two is not guaranteed exact, and one 2.9999… would
    * flip a bin cross-engine); sizes above 64 lump into the top bin.
    *
    * Scale shape: everything after the d15 pipeline is component-keyed
    * hash aggs over (id, component) longs; the histogram is ≤ 8 rows. */
  private val d37 = Q(
    "d37_cluster_histogram",
    """WITH RECURSIVE docs AS (
         SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
       sh AS (
         SELECT doc_id, ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] AS sh
         FROM (SELECT doc_id, ws,
                      unnest(generate_series(1, greatest(len(ws) - 2, 1))) AS i
               FROM docs)),
       hs AS (
         SELECT doc_id, ('0x' || substring(md5(sh), 1, 8))::BIGINT AS h1,
                ('0x' || substring(md5(sh), 9, 8))::BIGINT AS h2
         FROM sh),
       sig AS (
         SELECT doc_id, seed, min(h1 + seed * h2) AS mh
         FROM hs, (SELECT unnest(generate_series(0, 7)) AS seed) seeds
         GROUP BY doc_id, seed),
       bands AS (
         SELECT doc_id, CAST(seed // 2 AS INT) AS band,
                md5(string_agg(CAST(mh AS VARCHAR), '|' ORDER BY seed)) AS band_key
         FROM sig GROUP BY doc_id, CAST(seed // 2 AS INT)),
       pairs AS (
         SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
         FROM bands a JOIN bands b
           ON a.band = b.band AND a.band_key = b.band_key AND a.doc_id < b.doc_id),
       shd AS (SELECT DISTINCT doc_id, h1 * 134217728 + h2 % 134217728 AS h
               FROM hs),
       sz AS (SELECT doc_id, count(*) AS n FROM shd GROUP BY doc_id),
       inter AS (
         SELECT p.id_a, p.id_b, count(*) AS ni
         FROM pairs p
           JOIN shd a ON a.doc_id = p.id_a
           JOIN shd b ON b.doc_id = p.id_b AND b.h = a.h
         GROUP BY p.id_a, p.id_b),
       vpairs AS (
         SELECT i.id_a, i.id_b FROM inter i
           JOIN sz sa ON sa.doc_id = i.id_a
           JOIN sz sb ON sb.doc_id = i.id_b
         WHERE i.ni * 1.0 / (sa.n + sb.n - i.ni) >= 0.5),
       nodes AS (
         SELECT DISTINCT id FROM (
           SELECT id_a AS id FROM vpairs UNION ALL SELECT id_b AS id FROM vpairs)),
       edges AS (
         SELECT id_a AS src, id_b AS dst FROM vpairs
         UNION ALL SELECT id_b AS src, id_a AS dst FROM vpairs),
       reach(a, b) AS (
         SELECT id, id FROM nodes
         UNION
         SELECT r.a, e.dst FROM reach r JOIN edges e ON r.b = e.src),
       comp AS (SELECT a AS doc_id, min(b) AS component FROM reach GROUP BY a),
       csz AS (SELECT component, count(*) AS csize FROM comp GROUP BY component),
       tot AS (SELECT count(*) AS n_total FROM documents),
       nsing AS (
         SELECT (SELECT count(*) FROM documents) - (SELECT count(*) FROM comp) AS n),
       hist AS (
         SELECT CASE WHEN csize < 4 THEN 2 WHEN csize < 8 THEN 4
                     WHEN csize < 16 THEN 8 WHEN csize < 32 THEN 16
                     WHEN csize < 64 THEN 32 ELSE 64 END AS bucket_min,
                count(*) AS n_clusters, CAST(sum(csize) AS BIGINT) AS n_docs
         FROM csz GROUP BY 1),
       rows_all AS (
         SELECT CAST(1 AS BIGINT) AS bucket_min, CAST(n AS BIGINT) AS n_clusters,
                CAST(n AS BIGINT) AS n_docs
         FROM nsing WHERE n > 0
         UNION ALL
         SELECT CAST(bucket_min AS BIGINT), CAST(n_clusters AS BIGINT), n_docs FROM hist)
       SELECT bucket_min, n_clusters, n_docs,
              round(n_docs * 1.0 / n_total, 6) AS docs_share
       FROM rows_all CROSS JOIN tot ORDER BY bucket_min""") { (s, d) =>
    val docs = Tables.documents(s, d)
    val (buckets, shingles) = lshBucketsAndShingles(docs, "doc_id", "text",
      shingleWords = 3, bands = 4, rowsPerBand = 2)
    val verified = jaccardVerifiedPairs(
      candidatePairs(buckets, materialize = false), shingles, tau = 0.5)
    val comp = reuse(connectedComponents(verified))
    val csz = comp.groupBy("component").agg(count(lit(1)).as("csize"))
    val nTotal = docs.count()
    val nSingle = nTotal - comp.count()
    val hist = csz
      .withColumn("bucket_min",
        when(col("csize") < 4, 2L).when(col("csize") < 8, 4L)
          .when(col("csize") < 16, 8L).when(col("csize") < 32, 16L)
          .when(col("csize") < 64, 32L).otherwise(64L))
      .groupBy("bucket_min")
      .agg(count(lit(1)).as("n_clusters"), sum(col("csize")).as("n_docs"))
    val withSingles =
      if (nSingle > 0)
        hist.unionByName(s.range(1).select(lit(1L).as("bucket_min"),
          lit(nSingle).as("n_clusters"), lit(nSingle).as("n_docs")))
      else hist
    withSingles
      .select(col("bucket_min"), col("n_clusters"), col("n_docs"),
        round(col("n_docs") * lit(1.0) / lit(nTotal), 6).as("docs_share"))
      .orderBy("bucket_min")
  }

  /** Repeated-SEGMENT removal — the RefinedWeb/CCNet paragraph-dedup
    * pass, which deduplicates WITHIN documents at sub-document
    * granularity: a segment (stand-in for a paragraph — the fixtures
    * carry no newlines, so segments are fixed 15-word windows) that
    * recurs across ≥ 3 distinct documents is boilerplate
    * (headers, navigation, license blocks) and is cut from every
    * document, which is then reassembled from its surviving segments in
    * order. Output is the rewrite RECEIPT per doc (segment counts and
    * the md5 of the cleaned text), not the text itself.
    *
    * Scale shape: the dup census and the removal join move ONLY 8-byte
    * segment hashes + (doc_id, seg_idx) — segment TEXT never crosses an
    * exchange (plan-asserted). The hot set (distinct repeated segments)
    * is small by construction — boilerplate is few distinct strings
    * repeated often — and enters the removal join broadcast-side under
    * AQE. Reconstruction co-locates the per-doc removed-index lists
    * (small int arrays) with the ORIGINAL scan and re-derives the
    * cleaned text map-side by re-slicing the token array: when the
    * flagged-doc set is broadcastable (the typical case) the token
    * arrays never move; in the worst case they cross exactly ONE
    * exchange — the irreducible cost of a rewrite operator. The
    * segment-hash stream is persisted: its two consumers (census,
    * removal) sit on different keys, and re-deriving it would re-digest
    * the corpus (the d15 single-digest discipline). */
  private val d38 = Q(
    "d38_segment_dedup",
    """WITH w AS (
         SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
       seg AS (
         SELECT doc_id, i AS seg_idx,
                array_to_string(ws[(15*i + 1):(15*i + 15)], ' ') AS seg
         FROM (SELECT doc_id, ws,
                      unnest(generate_series(0, ((len(ws) + 14) // 15) - 1)) AS i
               FROM w)),
       sh AS (
         SELECT doc_id, seg_idx,
                ('0x' || substring(md5(seg), 1, 15))::BIGINT AS h
         FROM seg),
       hot AS (SELECT h FROM sh GROUP BY h HAVING count(DISTINCT doc_id) >= 3),
       agg AS (
         SELECT doc_id, list_sort(list(seg_idx)) AS rm
         FROM sh JOIN hot USING (h) GROUP BY doc_id),
       out AS (
         SELECT w.doc_id,
                ((len(ws) + 14) // 15) AS n_seg,
                coalesce(len(rm), 0) AS n_removed,
                coalesce(array_to_string(list_transform(
                  list_filter(generate_series(0, ((len(ws) + 14) // 15) - 1),
                    i -> rm IS NULL OR NOT list_contains(rm, i)),
                  i -> array_to_string(ws[(15*i + 1):(15*i + 15)], ' ')),
                  ' '), '') AS clean
         FROM w LEFT JOIN agg ON w.doc_id = agg.doc_id)
       SELECT doc_id, CAST(n_seg AS BIGINT) AS n_seg,
              CAST(n_removed AS BIGINT) AS n_removed,
              CAST(len(clean) AS BIGINT) AS n_chars_clean,
              md5(clean) AS clean_hash
       FROM out ORDER BY doc_id""") { (s, d) =>
    val w = Tables.documents(s, d)
      .select(col("doc_id"), split(col("text"), " ").as("ws"))
    val seg = w.select(col("doc_id"), posexplode(expr(
      "transform(sequence(0, (size(ws) + 14) div 15 - 1), " +
        "i -> array_join(slice(ws, i * 15 + 1, 15), ' '))"))
      .as(Seq("seg_idx", "seg")))
    val sh = reuse(seg.select(col("doc_id"),
      col("seg_idx").cast("long").as("seg_idx"),
      conv(substring(md5(col("seg")), 1, 15), 16, 10).cast("long").as("h")))
    val hot = sh.groupBy("h")
      .agg(countDistinct(col("doc_id")).as("df"))
      .filter(col("df") >= 3).select("h")
    val agg = sh.join(hot, "h")
      .groupBy("doc_id").agg(sort_array(collect_list(col("seg_idx"))).as("rm"))
    w.join(agg, Seq("doc_id"), "left")
      .withColumn("clean", expr(
        "array_join(transform(" +
          "filter(sequence(0, (size(ws) + 14) div 15 - 1), " +
          "i -> rm IS NULL OR NOT array_contains(rm, cast(i AS bigint))), " +
          "i -> array_join(slice(ws, i * 15 + 1, 15), ' ')), ' ')"))
      .select(col("doc_id"),
        expr("bigint((size(ws) + 14) div 15)").as("n_seg"),
        expr("bigint(coalesce(size(rm), 0))").as("n_removed"),
        length(col("clean")).cast("long").as("n_chars_clean"),
        md5(col("clean")).as("clean_hash"))
      .orderBy("doc_id")
  }

  /** Broder CONTAINMENT scoring of LSH candidates: C = |A∩B| / min(|A|,
    * |B|) — the asymmetric similarity a symmetric Jaccard gate is blind
    * to. A short document quoted whole inside a long one has C ≈ 1 but
    * Jaccard ≈ |A|/|B| (arbitrarily small), so a τ-Jaccard dedup keeps
    * both copies; containment is the published gate for quote/repost/
    * wrapper duplication (Broder 1997's resemblance-vs-containment
    * pair). Emits both scores per candidate pair (containment ≥ 0.5) so
    * a curation run reads the asymmetry directly; the planted-case spec
    * pins the semantics (an embedded doc scores C = 1 while staying
    * far below the d15 Jaccard gate).
    *
    * Scale + recall honesty: scoring reuses [[pairOverlapStats]] —
    * exact sets, candidates only, one extra map-side divide, so the
    * cost over d15 is zero. Candidate RECALL, however, is the banding's:
    * an extreme-asymmetry pair has low Jaccard and therefore a low
    * band-collision probability, so LSH-fed containment catches
    * moderate asymmetry (the common case) — the guaranteed-recall path
    * for strict substring containment is d22's positioned-anchor join,
    * which pigeonholes every ≥20-token run regardless of the size
    * ratio. */
  private val d39 = Q(
    "d39_containment_scores",
    """WITH docs AS (
         SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
       sh AS (
         SELECT doc_id, ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] AS sh
         FROM (SELECT doc_id, ws,
                      unnest(generate_series(1, greatest(len(ws) - 2, 1))) AS i
               FROM docs)),
       hs AS (
         SELECT doc_id, ('0x' || substring(md5(sh), 1, 8))::BIGINT AS h1,
                ('0x' || substring(md5(sh), 9, 8))::BIGINT AS h2
         FROM sh),
       sig AS (
         SELECT doc_id, seed, min(h1 + seed * h2) AS mh
         FROM hs, (SELECT unnest(generate_series(0, 7)) AS seed) seeds
         GROUP BY doc_id, seed),
       bands AS (
         SELECT doc_id, CAST(seed // 2 AS INT) AS band,
                md5(string_agg(CAST(mh AS VARCHAR), '|' ORDER BY seed)) AS band_key
         FROM sig GROUP BY doc_id, CAST(seed // 2 AS INT)),
       pairs AS (
         SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
         FROM bands a JOIN bands b
           ON a.band = b.band AND a.band_key = b.band_key AND a.doc_id < b.doc_id),
       shd AS (SELECT DISTINCT doc_id, h1 * 134217728 + h2 % 134217728 AS h
               FROM hs),
       sz AS (SELECT doc_id, count(*) AS n FROM shd GROUP BY doc_id),
       inter AS (
         SELECT p.id_a, p.id_b, count(*) AS ni
         FROM pairs p
           JOIN shd a ON a.doc_id = p.id_a
           JOIN shd b ON b.doc_id = p.id_b AND b.h = a.h
         GROUP BY p.id_a, p.id_b),
       sc AS (
         SELECT i.id_a, i.id_b, i.ni, least(sa.n, sb.n) AS n_min,
                round(i.ni * 1.0 / least(sa.n, sb.n), 6) AS containment,
                round(i.ni * 1.0 / (sa.n + sb.n - i.ni), 6) AS jaccard
         FROM inter i
           JOIN sz sa ON sa.doc_id = i.id_a
           JOIN sz sb ON sb.doc_id = i.id_b)
       SELECT id_a, id_b, ni, n_min, containment, jaccard
       FROM sc WHERE containment >= 0.5
       ORDER BY id_a, id_b""") { (s, d) =>
    val (buckets, shingles) = lshBucketsAndShingles(Tables.documents(s, d),
      "doc_id", "text", shingleWords = 3, bands = 4, rowsPerBand = 2)
    pairOverlapStats(candidatePairs(buckets, materialize = false), shingles)
      .withColumn("n_min", least(col("na"), col("nb")))
      .withColumn("containment", round(col("ni") * lit(1.0) / col("n_min"), 6))
      .withColumn("jaccard",
        round(col("ni") * lit(1.0) / (col("na") + col("nb") - col("ni")), 6))
      .filter(col("containment") >= 0.5)
      .select(col("id_a"), col("id_b"), col("ni"), col("n_min"),
        col("containment"), col("jaccard"))
      .orderBy("id_a", "id_b")
  }

  /** Triangle census + local clustering coefficients on the verified
    * dup graph — the graph-shape diagnostic next to d34's PageRank and
    * the d08/d15 component census: a near-dup graph whose components are
    * triangle-dense cliques is template flooding; chains with zero
    * triangles are drift (quote-of-quote). Counts each triangle ONCE
    * via the degree-ordered orientation (Schank–Wagner): orient every
    * edge from the lower (degree, id) endpoint to the higher, build
    * wedges per source, close with an oriented-edge join.
    *
    * Scale shape: orientation bounds every vertex's OUT-degree by
    * O(√m) — the star node that makes naive wedge counting quadratic
    * has all edges pointing IN, so its wedge count is 0, and the wedge
    * join's fan-out is Σ outdeg² ≤ m·√m worst-case (the classic bound).
    * All joins carry only ids + degrees; the corpus never re-enters
    * after the verified pairs exist. */
  private val d41 = Q(
    "d41_dup_graph_triangles",
    """WITH docs AS (
         SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
       sh AS (
         SELECT doc_id, ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] AS sh
         FROM (SELECT doc_id, ws,
                      unnest(generate_series(1, greatest(len(ws) - 2, 1))) AS i
               FROM docs)),
       hs AS MATERIALIZED (
         SELECT doc_id, ('0x' || substring(md5(sh), 1, 8))::BIGINT AS h1,
                ('0x' || substring(md5(sh), 9, 8))::BIGINT AS h2
         FROM sh),
       sig AS (
         SELECT doc_id, seed, min(h1 + seed * h2) AS mh
         FROM hs, (SELECT unnest(generate_series(0, 7)) AS seed) seeds
         GROUP BY doc_id, seed),
       bands AS MATERIALIZED (
         SELECT doc_id, CAST(seed // 2 AS INT) AS band,
                md5(string_agg(CAST(mh AS VARCHAR), '|' ORDER BY seed)) AS band_key
         FROM sig GROUP BY doc_id, CAST(seed // 2 AS INT)),
       pairs AS MATERIALIZED (
         SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
         FROM bands a JOIN bands b
           ON a.band = b.band AND a.band_key = b.band_key AND a.doc_id < b.doc_id),
       shd AS MATERIALIZED (SELECT DISTINCT doc_id, h1 * 134217728 + h2 % 134217728 AS h
               FROM hs),
       sz AS MATERIALIZED (SELECT doc_id, count(*) AS n FROM shd GROUP BY doc_id),
       inter AS (
         SELECT p.id_a, p.id_b, count(*) AS ni
         FROM pairs p
           JOIN shd a ON a.doc_id = p.id_a
           JOIN shd b ON b.doc_id = p.id_b AND b.h = a.h
         GROUP BY p.id_a, p.id_b),
       vpairs AS MATERIALIZED (
         SELECT i.id_a, i.id_b FROM inter i
           JOIN sz sa ON sa.doc_id = i.id_a
           JOIN sz sb ON sb.doc_id = i.id_b
         WHERE i.ni * 1.0 / (sa.n + sb.n - i.ni) >= 0.5),
       und AS (
         SELECT id_a AS u, id_b AS v FROM vpairs
         UNION ALL SELECT id_b AS u, id_a AS v FROM vpairs),
       deg AS MATERIALIZED (SELECT u AS id, count(*) AS deg FROM und GROUP BY u),
       o AS MATERIALIZED (
         SELECT CASE WHEN (da.deg < db.deg) OR (da.deg = db.deg AND e.id_a < e.id_b)
                     THEN e.id_a ELSE e.id_b END AS src,
                CASE WHEN (da.deg < db.deg) OR (da.deg = db.deg AND e.id_a < e.id_b)
                     THEN e.id_b ELSE e.id_a END AS dst
         FROM vpairs e
           JOIN deg da ON da.id = e.id_a
           JOIN deg db ON db.id = e.id_b),
       od AS MATERIALIZED (SELECT o.src, o.dst, dd.deg AS ddeg
              FROM o JOIN deg dd ON dd.id = o.dst),
       wed AS (
         SELECT a.src AS u, a.dst AS v, b.dst AS w
         FROM od a JOIN od b ON a.src = b.src
         WHERE (a.ddeg < b.ddeg) OR (a.ddeg = b.ddeg AND a.dst < b.dst)),
       tri AS MATERIALIZED (
         SELECT wed.u, wed.v, wed.w
         FROM wed JOIN o ON o.src = wed.v AND o.dst = wed.w),
       tv AS (
         SELECT id, count(*) AS n_tri FROM (
           SELECT u AS id FROM tri
           UNION ALL SELECT v AS id FROM tri
           UNION ALL SELECT w AS id FROM tri)
         GROUP BY id)
       SELECT deg.id AS doc_id, deg.deg AS degree,
              CAST(coalesce(tv.n_tri, 0) AS BIGINT) AS n_triangles,
              CAST(CASE WHEN deg.deg >= 2
                   THEN round(2.0 * coalesce(tv.n_tri, 0) * 1000000
                              / (deg.deg * (deg.deg - 1)))
                   ELSE 0 END AS BIGINT) AS coef_micro
       FROM deg LEFT JOIN tv ON tv.id = deg.id
       ORDER BY doc_id""") { (s, d) =>
    val docs = Tables.documents(s, d)
    val (buckets, shingles) = lshBucketsAndShingles(docs, "doc_id", "text",
      shingleWords = 3, bands = 4, rowsPerBand = 2)
    val vpairs = reuse(jaccardVerifiedPairs(
      candidatePairs(buckets, materialize = false), shingles, tau = 0.5)
      .select(col("id_a"), col("id_b")))
    val und = vpairs.select(col("id_a").as("u"))
      .unionByName(vpairs.select(col("id_b").as("u")))
    val deg = reuse(und.groupBy("u").agg(count(lit(1)).as("deg"))
      .select(col("u").as("id"), col("deg")))
    val lowFirst = vpairs
      .join(deg.select(col("id").as("id_a"), col("deg").as("dega")), "id_a")
      .join(deg.select(col("id").as("id_b"), col("deg").as("degb")), "id_b")
      .select(
        when(col("dega") < col("degb")
          || (col("dega") === col("degb") && col("id_a") < col("id_b")),
          struct(col("id_a").as("src"), col("id_b").as("dst")))
          .otherwise(struct(col("id_b").as("src"), col("id_a").as("dst")))
          .as("e"))
      .select(col("e.src").as("src"), col("e.dst").as("dst"))
    val o = reuse(lowFirst)
    val od = o.join(deg.select(col("id").as("dst"), col("deg").as("ddeg")), "dst")
    val a = od.select(col("src"), col("dst").as("v"), col("ddeg").as("dv"))
    val b = od.select(col("src"), col("dst").as("w"), col("ddeg").as("dw"))
    val wed = a.join(b, Seq("src"))
      .filter(col("dv") < col("dw") || (col("dv") === col("dw") && col("v") < col("w")))
      .select(col("src").as("u"), col("v"), col("w"))
    val tri = wed.join(o.select(col("src").as("v"), col("dst").as("w")), Seq("v", "w"))
    val tv = tri.select(explode(array(col("u"), col("v"), col("w"))).as("id"))
      .groupBy("id").agg(count(lit(1)).as("n_tri"))
    deg.join(tv, Seq("id"), "left")
      .select(col("id").as("doc_id"), col("deg").as("degree"),
        coalesce(col("n_tri"), lit(0L)).as("n_triangles"),
        when(col("deg") >= 2,
          round(lit(2.0) * coalesce(col("n_tri"), lit(0L)) * lit(1000000)
            / (col("deg") * (col("deg") - 1))).cast(LongType))
          .otherwise(lit(0L)).as("coef_micro"))
      .orderBy("doc_id")
  }

  /** Per-document contamination overlap FRACTION — the number the GPT-3
    * appendix actually reports (Brown et al. 2020, App. C): not just
    * "does this doc share a 13-gram with the benchmark" (d13's flag) but
    * WHAT SHARE of the doc's distinct 13-grams are benchmark grams —
    * the dirtiness measure a removal threshold is set against. Same
    * machinery as d13 (benchmark gram set broadcast, corpus grams never
    * shuffle; only matched grams — tiny by construction — reach an
    * exchange), plus one distinct-gram census per doc. Dirty at > 5%
    * overlap (the order of magnitude the published thresholds use). */
  private val d42 = Q(
    "d42_contamination_fraction",
    """WITH docs AS (
         SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
       g AS (
         SELECT DISTINCT doc_id, md5(array_to_string(ws[i:i+12], ' ')) AS gh
         FROM (SELECT doc_id, ws,
                      unnest(generate_series(1, greatest(len(ws) - 12, 1))) AS i
               FROM docs)),
       bench AS (SELECT DISTINCT gh FROM g WHERE doc_id % 7 = 0),
       corpus AS (SELECT doc_id, gh FROM g WHERE doc_id % 7 != 0),
       census AS (SELECT doc_id, count(*) AS n_grams FROM corpus GROUP BY doc_id),
       hits AS (
         SELECT c.doc_id, count(*) AS n_hits
         FROM corpus c JOIN bench b ON c.gh = b.gh
         GROUP BY c.doc_id)
       SELECT census.doc_id, census.n_grams,
              CAST(coalesce(h.n_hits, 0) AS BIGINT) AS n_hits,
              round(coalesce(h.n_hits, 0) * 1.0 / census.n_grams, 4) AS overlap,
              (coalesce(h.n_hits, 0) * 1.0 / census.n_grams) > 0.05 AS dirty
       FROM census LEFT JOIN hits h ON h.doc_id = census.doc_id
       ORDER BY census.doc_id""") { (s, d) =>
    val grams = reuse(Tables.documents(s, d)
      .withColumn("ws", split(col("text"), " "))
      .select(col("doc_id"), explode(expr(
        "transform(sequence(1, greatest(size(ws) - 12, 1), 1), i -> array_join(slice(ws, i, 13), ' '))"))
        .as("g"))
      .select(col("doc_id"), md5(col("g")).as("gh"))
      .distinct())
    val bench = grams.filter(col("doc_id") % 7 === 0).select("gh").distinct()
    val corpus = grams.filter(col("doc_id") % 7 =!= 0)
    val census = corpus.groupBy("doc_id").agg(count(lit(1)).as("n_grams"))
    val hits = corpus.join(benchSide(bench), "gh")
      .groupBy("doc_id").agg(count(lit(1)).as("n_hits"))
    census.join(hits, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_grams"),
        coalesce(col("n_hits"), lit(0L)).as("n_hits"),
        round(coalesce(col("n_hits"), lit(0L)) * lit(1.0) / col("n_grams"), 4)
          .as("overlap"),
        (coalesce(col("n_hits"), lit(0L)) * lit(1.0) / col("n_grams") > 0.05)
          .as("dirty"))
      .orderBy("doc_id")
  }

  /** SimHash hamming-threshold operating curve — the tuning artifact
    * that completes the curve family (d27 = MinHash τ curve, d36 = LSH
    * banding curve): for every hamming cutoff h ∈ {0..4, 6, 8}, the
    * precision and recall of "hamming ≤ h" as a near-dup gate, judged
    * against EXACT 3-gram Jaccard ≥ 0.5 (the d15 truth standard). The
    * candidate pool is the 4×16 band-collision set scored ONCE for both
    * hamming and Jaccard; thresholds then fan over the scored table
    * (score-once-fan-thresholds — the d27 discipline), so the curve
    * costs one verification pass regardless of how many operating
    * points it reports. Recall is RELATIVE to the colliding pool (the
    * banding pigeonhole only guarantees hamming ≤ 3 collides — the same
    * honesty note as d11); precision is absolute.
    *
    * Scale shape: d11's banding + packed-XOR hamming (4 bit_count ops
    * per pair), d15's candidate-restricted overlap engine — nothing new
    * shuffles; the curve aggregation runs on |thresholds| × |candidate
    * pairs| rows of ids and small ints. */
  private val d43 = Q(
    "d43_simhash_curve",
    """WITH hashed AS (
         SELECT doc_id, list_transform(string_split(text, ' '), t -> md5(t)) AS md5s
         FROM documents),
       s AS (
         SELECT doc_id,
                array_to_string(list_transform(generate_series(1, 64), i ->
                  CASE WHEN list_sum(list_transform(md5s, h ->
                    CASE WHEN i <= 32
                         THEN CASE WHEN substring(h, i, 1) IN ('8','9','a','b','c','d','e','f')
                              THEN 1 ELSE -1 END
                         ELSE CASE WHEN substring(h, i - 32, 1) IN ('1','3','5','7','9','b','d','f')
                              THEN 1 ELSE -1 END
                    END)) > 0 THEN '1' ELSE '0' END), '') AS sig
         FROM hashed),
       bands AS (
         SELECT doc_id, b, substring(sig, b*16 + 1, 16) AS bits
         FROM s, (SELECT unnest(generate_series(0, 3)) AS b) bs),
       cand AS (
         SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
         FROM bands a JOIN bands b
           ON a.b = b.b AND a.bits = b.bits AND a.doc_id < b.doc_id),
       hp AS (
         SELECT id_a, id_b,
                CAST(list_sum(list_transform(generate_series(1, 64), i ->
                  CASE WHEN substring(sa.sig, i, 1) = substring(sb.sig, i, 1)
                       THEN 0 ELSE 1 END)) AS BIGINT) AS hamming
         FROM cand JOIN s sa ON sa.doc_id = id_a JOIN s sb ON sb.doc_id = id_b
         WHERE CAST(list_sum(list_transform(generate_series(1, 64), i ->
                  CASE WHEN substring(sa.sig, i, 1) = substring(sb.sig, i, 1)
                       THEN 0 ELSE 1 END)) AS BIGINT) <= 8),
       docs2 AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
       sh3 AS (
         SELECT doc_id, ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] AS sh
         FROM (SELECT doc_id, ws,
                      unnest(generate_series(1, greatest(len(ws) - 2, 1))) AS i
               FROM docs2)),
       shd AS (
         SELECT DISTINCT doc_id,
                ('0x' || substring(md5(sh), 1, 8))::BIGINT * 134217728
                + ('0x' || substring(md5(sh), 9, 8))::BIGINT % 134217728 AS h
         FROM sh3),
       sz AS (SELECT doc_id, count(*) AS n FROM shd GROUP BY doc_id),
       inter AS (
         SELECT p.id_a, p.id_b, count(*) AS ni
         FROM hp p
           JOIN shd a ON a.doc_id = p.id_a
           JOIN shd b ON b.doc_id = p.id_b AND b.h = a.h
         GROUP BY p.id_a, p.id_b),
       scored AS (
         SELECT hp.id_a, hp.id_b, hp.hamming,
                coalesce(i.ni, 0) * 1.0
                  / (sa.n + sb.n - coalesce(i.ni, 0)) AS jacc
         FROM hp
           LEFT JOIN inter i ON i.id_a = hp.id_a AND i.id_b = hp.id_b
           JOIN sz sa ON sa.doc_id = hp.id_a
           JOIN sz sb ON sb.doc_id = hp.id_b),
       ts AS (SELECT unnest([0, 1, 2, 3, 4, 6, 8]) AS threshold),
       tot AS (SELECT count(*) AS all_true FROM scored WHERE jacc >= 0.5),
       curve AS (
         SELECT ts.threshold,
                count(scored.id_a) AS n_pairs,
                CAST(coalesce(sum(CASE WHEN jacc >= 0.5 THEN 1 END), 0) AS BIGINT) AS n_true
         FROM ts LEFT JOIN scored ON scored.hamming <= ts.threshold
         GROUP BY ts.threshold)
       SELECT CAST(threshold AS BIGINT) AS threshold,
              CAST(n_pairs AS BIGINT) AS n_pairs, n_true,
              round(CASE WHEN n_pairs = 0 THEN 0
                    ELSE n_true * 1.0 / n_pairs END, 4) AS precision_,
              round(CASE WHEN tot.all_true = 0 THEN 0
                    ELSE n_true * 1.0 / tot.all_true END, 4) AS recall_
       FROM curve CROSS JOIN tot ORDER BY threshold""") { (s, d) =>
    graft.functions.SimHash64.register(s)
    val docs = spreadToCores(Tables.documents(s, d))
    val sigs = reuse(
      docs.withColumn("md5s", expr("transform(split(text, ' '), t -> md5(t))"))
        .select(col("doc_id"), graft.functions.SimHash64.simhash64(col("md5s")).as("sig"))
        .withColumn("si", expr(
          "transform(sequence(0, 3), b -> cast(conv(substring(sig, b*16 + 1, 16), 2, 10) as bigint))")))
    val bands0 = sigs.select(col("doc_id"), col("si"),
      posexplode(array((0 until 4).map(b => substring(col("sig"), b * 16 + 1, 16)): _*))
        .as(Seq("b", "bits")))
    val bands = dropOversizedBuckets(bands0, Seq("b", "bits"), bucketCap(s))
    val hp = reuse(bands.as("a")
      .join(bands.as("b"),
        col("a.b") === col("b.b") && col("a.bits") === col("b.bits")
          && col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("id_a"), col("b.doc_id").as("id_b"),
        expr("aggregate(zip_with(a.si, b.si, (x, y) -> bit_count(x ^ y)), 0, (acc, c) -> acc + c)")
          .cast(LongType).as("hamming"))
      .filter(col("hamming") <= 8)
      .distinct())
    val (_, shingles) = lshBucketsAndShingles(docs, "doc_id", "text",
      shingleWords = 3, bands = 4, rowsPerBand = 2)
    // pairOverlapStats only emits pairs with ni >= 1; a band-colliding
    // pair sharing NO shingle scores Jaccard 0, not null
    val scored = reuse(pairOverlapStats(hp.select("id_a", "id_b"), shingles)
      .join(hp, Seq("id_a", "id_b"), "right")
      .select(col("id_a"), col("id_b"), col("hamming"),
        when(col("na").isNull, lit(0.0))
          .otherwise(col("ni") * lit(1.0) / (col("na") + col("nb") - col("ni")))
          .as("jacc")))
    val allTrue = scored.filter(col("jacc") >= 0.5).count()
    val ts = s.createDataFrame(Seq(0, 1, 2, 3, 4, 6, 8).map(Tuple1(_)))
      .toDF("threshold")
    broadcast(ts).join(scored, col("hamming") <= col("threshold"), "left")
      .groupBy("threshold")
      .agg(count(col("hamming")).as("n_pairs_raw"),
        coalesce(sum(when(col("jacc") >= 0.5, 1L)), lit(0L)).as("n_true"))
      .select(col("threshold").cast(LongType).as("threshold"),
        col("n_pairs_raw").cast(LongType).as("n_pairs"),
        col("n_true"),
        round(when(col("n_pairs_raw") === 0, 0.0)
          .otherwise(col("n_true") * lit(1.0) / col("n_pairs_raw")), 4).as("precision_"),
        round(if (allTrue == 0) lit(0.0)
          else col("n_true") * lit(1.0) / lit(allTrue.toDouble), 4).as("recall_"))
      .orderBy("threshold")
  }

  /** Effective dataset size — THE headline number of every dataset
    * paper ("X raw → Y after dedup"): raw vs dedup-weighted doc AND
    * token counts, where each verified near-dup cluster (d15's
    * components) keeps only its canonical member (min doc_id — the d28
    * rule's deterministic base case) and every singleton survives.
    * d09/d28/d37 census the CLUSTERS; this reports what dedup buys in
    * the unit a training budget is priced in — tokens. Token reduction
    * exceeding doc reduction here means the fixture's duplicates skew
    * long (itself a curation fact).
    *
    * Scale shape: d15's pipeline (the expensive part, already priced)
    * + one map-side token count + a components LEFT JOIN keyed on
    * doc_id + a single-row rollup. Nothing new shuffles wider than
    * (id, component). */
  private val d44 = Q(
    "d44_effective_size",
    """WITH RECURSIVE docs AS (
         SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
       sh AS (
         SELECT doc_id, ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] AS sh
         FROM (SELECT doc_id, ws,
                      unnest(generate_series(1, greatest(len(ws) - 2, 1))) AS i
               FROM docs)),
       hs AS (
         SELECT doc_id, ('0x' || substring(md5(sh), 1, 8))::BIGINT AS h1,
                ('0x' || substring(md5(sh), 9, 8))::BIGINT AS h2
         FROM sh),
       sig AS (
         SELECT doc_id, seed, min(h1 + seed * h2) AS mh
         FROM hs, (SELECT unnest(generate_series(0, 7)) AS seed) seeds
         GROUP BY doc_id, seed),
       bands AS (
         SELECT doc_id, CAST(seed // 2 AS INT) AS band,
                md5(string_agg(CAST(mh AS VARCHAR), '|' ORDER BY seed)) AS band_key
         FROM sig GROUP BY doc_id, CAST(seed // 2 AS INT)),
       pairs AS (
         SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
         FROM bands a JOIN bands b
           ON a.band = b.band AND a.band_key = b.band_key AND a.doc_id < b.doc_id),
       shd AS (SELECT DISTINCT doc_id, h1 * 134217728 + h2 % 134217728 AS h
               FROM hs),
       sz AS (SELECT doc_id, count(*) AS n FROM shd GROUP BY doc_id),
       inter AS (
         SELECT p.id_a, p.id_b, count(*) AS ni
         FROM pairs p
           JOIN shd a ON a.doc_id = p.id_a
           JOIN shd b ON b.doc_id = p.id_b AND b.h = a.h
         GROUP BY p.id_a, p.id_b),
       vpairs AS (
         SELECT i.id_a, i.id_b FROM inter i
           JOIN sz sa ON sa.doc_id = i.id_a
           JOIN sz sb ON sb.doc_id = i.id_b
         WHERE i.ni * 1.0 / (sa.n + sb.n - i.ni) >= 0.5),
       nodes AS (
         SELECT DISTINCT id FROM (
           SELECT id_a AS id FROM vpairs UNION ALL SELECT id_b AS id FROM vpairs)),
       edges AS (
         SELECT id_a AS src, id_b AS dst FROM vpairs
         UNION ALL SELECT id_b AS src, id_a AS dst FROM vpairs),
       reach(a, b) AS (
         SELECT id, id FROM nodes
         UNION
         SELECT r.a, e.dst FROM reach r JOIN edges e ON r.b = e.src)
       , comp AS (SELECT a AS doc_id, min(b) AS component FROM reach GROUP BY a),
       census AS (
         SELECT d.doc_id, len(d.ws) AS n_tok,
                (c.doc_id IS NULL OR c.component = d.doc_id) AS kept
         FROM docs d LEFT JOIN comp c ON c.doc_id = d.doc_id)
       SELECT count(*) AS n_docs,
              CAST(sum(n_tok) AS BIGINT) AS n_tokens,
              CAST(sum(CASE WHEN kept THEN 1 ELSE 0 END) AS BIGINT) AS n_docs_kept,
              CAST(sum(CASE WHEN kept THEN n_tok ELSE 0 END) AS BIGINT) AS n_tokens_kept,
              round(1.0 - sum(CASE WHEN kept THEN 1 ELSE 0 END) * 1.0 / count(*), 4)
                AS doc_reduction,
              round(1.0 - sum(CASE WHEN kept THEN n_tok ELSE 0 END) * 1.0 / sum(n_tok), 4)
                AS token_reduction
       FROM census""") { (s, d) =>
    val docs = Tables.documents(s, d)
    val (buckets, shingles) = lshBucketsAndShingles(docs, "doc_id", "text",
      shingleWords = 3, bands = 4, rowsPerBand = 2)
    val verified = jaccardVerifiedPairs(
      candidatePairs(buckets, materialize = false), shingles, tau = 0.5)
    val comp = connectedComponents(verified)
      .select(col("id").as("doc_id"), col("component"))
    docs.select(col("doc_id"), size(split(col("text"), " ")).cast(LongType).as("n_tok"))
      .join(comp, Seq("doc_id"), "left")
      .select(col("n_tok"),
        (col("component").isNull || col("component") === col("doc_id")).as("kept"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_tok")).as("n_tokens"),
        sum(when(col("kept"), 1L).otherwise(0L)).as("n_docs_kept"),
        sum(when(col("kept"), col("n_tok")).otherwise(0L)).as("n_tokens_kept"))
      .select(col("n_docs"), col("n_tokens"), col("n_docs_kept"), col("n_tokens_kept"),
        round(lit(1.0) - col("n_docs_kept") * lit(1.0) / col("n_docs"), 4)
          .as("doc_reduction"),
        round(lit(1.0) - col("n_tokens_kept") * lit(1.0) / col("n_tokens"), 4)
          .as("token_reduction"))
  }

  /** Soft dedup weights — the alternative to removal when hard dedup is
    * too blunt (d44 prices removal; this prices DOWNWEIGHTING): every
    * member of a verified near-dup cluster trains with weight
    * 1/cluster_size, so each piece of content contributes one unit of
    * gradient mass regardless of how many copies the crawl caught, and
    * nothing is thrown away. Exactly d44's pipeline (banded candidates →
    * Jaccard-verified edges → connected components) plus one component
    * census and a left join back to the corpus — per-doc weights instead
    * of a keep flag; Σ weights ≈ #content-units (spec-pinned). */
  private val d49 = Q(
    "d49_soft_dedup_weights",
    """WITH RECURSIVE docs AS (
         SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
       sh AS (
         SELECT doc_id, ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] AS sh
         FROM (SELECT doc_id, ws,
                      unnest(generate_series(1, greatest(len(ws) - 2, 1))) AS i
               FROM docs)),
       hs AS (
         SELECT doc_id, ('0x' || substring(md5(sh), 1, 8))::BIGINT AS h1,
                ('0x' || substring(md5(sh), 9, 8))::BIGINT AS h2
         FROM sh),
       sig AS (
         SELECT doc_id, seed, min(h1 + seed * h2) AS mh
         FROM hs, (SELECT unnest(generate_series(0, 7)) AS seed) seeds
         GROUP BY doc_id, seed),
       bands AS (
         SELECT doc_id, CAST(seed // 2 AS INT) AS band,
                md5(string_agg(CAST(mh AS VARCHAR), '|' ORDER BY seed)) AS band_key
         FROM sig GROUP BY doc_id, CAST(seed // 2 AS INT)),
       pairs AS (
         SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
         FROM bands a JOIN bands b
           ON a.band = b.band AND a.band_key = b.band_key AND a.doc_id < b.doc_id),
       shd AS (SELECT DISTINCT doc_id, h1 * 134217728 + h2 % 134217728 AS h
               FROM hs),
       sz AS (SELECT doc_id, count(*) AS n FROM shd GROUP BY doc_id),
       inter AS (
         SELECT p.id_a, p.id_b, count(*) AS ni
         FROM pairs p
           JOIN shd a ON a.doc_id = p.id_a
           JOIN shd b ON b.doc_id = p.id_b AND b.h = a.h
         GROUP BY p.id_a, p.id_b),
       vpairs AS (
         SELECT i.id_a, i.id_b FROM inter i
           JOIN sz sa ON sa.doc_id = i.id_a
           JOIN sz sb ON sb.doc_id = i.id_b
         WHERE i.ni * 1.0 / (sa.n + sb.n - i.ni) >= 0.5),
       nodes AS (
         SELECT DISTINCT id FROM (
           SELECT id_a AS id FROM vpairs UNION ALL SELECT id_b AS id FROM vpairs)),
       edges AS (
         SELECT id_a AS src, id_b AS dst FROM vpairs
         UNION ALL SELECT id_b AS src, id_a AS dst FROM vpairs),
       reach(a, b) AS (
         SELECT id, id FROM nodes
         UNION
         SELECT r.a, e.dst FROM reach r JOIN edges e ON r.b = e.src)
       , comp AS (SELECT a AS doc_id, min(b) AS component FROM reach GROUP BY a),
       cl AS (SELECT component, count(*) AS sz FROM comp GROUP BY component),
       wt AS (
         SELECT d.doc_id,
                coalesce(c.component, d.doc_id) AS cluster_id,
                coalesce(cl.sz, 1) AS cluster_size
         FROM docs d
         LEFT JOIN comp c ON c.doc_id = d.doc_id
         LEFT JOIN cl ON cl.component = c.component)
       SELECT doc_id, cluster_id, CAST(cluster_size AS BIGINT) AS cluster_size,
              round(1.0 / cluster_size, 6) AS weight
       FROM wt ORDER BY doc_id""") { (s, d) =>
    val docs = Tables.documents(s, d)
    val (buckets, shingles) = lshBucketsAndShingles(docs, "doc_id", "text",
      shingleWords = 3, bands = 4, rowsPerBand = 2)
    val verified = jaccardVerifiedPairs(
      candidatePairs(buckets, materialize = false), shingles, tau = 0.5)
    val comp = connectedComponents(verified)
      .select(col("id").as("doc_id"), col("component"))
    val cl = comp.groupBy("component").agg(count(lit(1)).as("sz"))
    docs.select(col("doc_id"))
      .join(comp, Seq("doc_id"), "left")
      .join(cl, Seq("component"), "left")
      .select(col("doc_id"),
        coalesce(col("component"), col("doc_id")).as("cluster_id"),
        coalesce(col("sz"), lit(1L)).as("cluster_size"))
      .withColumn("weight", round(lit(1.0) / col("cluster_size"), 6))
      .orderBy("doc_id")
  }

  /** Duplicate-span REMOVAL — the transform half of d22's ExactSubstr
    * story (Lee et al. 2022 delete the repeated substring from all but
    * one occurrence; d22 only reports it): every ≥20-token island found
    * by the stride-anchored gram match is cut from the HIGHER doc_id of
    * its pair (the lower id keeps the canonical copy), overlapping spans
    * are interval-merged per doc so no token is double-counted, and the
    * cleaned text is reconstructed by position filter — never by string
    * surgery. Output: per AFFECTED doc, before/removed/after token
    * counts and the md5 of the cleaned token stream (empty docs hash
    * md5('') — full removals are a real outcome and the fixture
    * exercises them).
    *
    * Scale: d22's candidate discipline bounds everything upstream; the
    * removal tail touches only affected docs (left-semi first), the
    * interval set per doc is tiny post-merge (disjoint ⇒ the
    * position-range left join cannot fan out), and reconstruction is a
    * per-doc collect_list of (pos, tok) structs — bounded by doc length,
    * the d38 no-re-tokenization discipline. */
  private val d50 = Q(
    "d50_span_removal",
    """WITH docs AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
       g AS (
         SELECT doc_id AS id, i AS pos,
                ('0x' || substring(md5(concat_ws(' ', ws[i], ws[i+1], ws[i+2],
                   ws[i+3], ws[i+4], ws[i+5], ws[i+6], ws[i+7])), 1, 15))::BIGINT AS h
         FROM (SELECT doc_id, ws,
                      unnest(generate_series(1, greatest(len(ws) - 7, 1))) AS i
               FROM docs)),
       anchors AS (SELECT h FROM (SELECT h, count(DISTINCT id) AS nd
                                  FROM g GROUP BY h)
                   WHERE nd BETWEEN 2 AND 10),
       cand AS (SELECT DISTINCT least(a.id, b.id) AS id_a,
                                greatest(a.id, b.id) AS id_b
                FROM g a JOIN g b ON a.h = b.h AND a.id <> b.id
                WHERE a.pos % 13 = 0 AND a.h IN (SELECT h FROM anchors)),
       cids AS (SELECT id_a AS id FROM cand UNION SELECT id_b FROM cand),
       gc AS (SELECT * FROM g WHERE id IN (SELECT id FROM cids)),
       m AS (SELECT c.id_a, c.id_b, a.pos AS pa, b.pos AS pb
             FROM cand c
               JOIN gc a ON a.id = c.id_a
               JOIN gc b ON b.id = c.id_b AND b.h = a.h),
       runs AS (SELECT id_a, id_b, pa - pb AS diag, pa, pb,
                       row_number() OVER (PARTITION BY id_a, id_b, pa - pb
                                          ORDER BY pa) AS rn
                FROM m),
       isl AS (SELECT id_a, id_b, count(*) AS run, min(pb) AS pb0
               FROM runs GROUP BY id_a, id_b, diag, pa - rn),
       spans AS (SELECT DISTINCT id_b AS id, pb0 AS s, pb0 + run + 6 AS e
                 FROM isl WHERE run + 7 >= 20),
       mrg AS (
         SELECT id, s, e,
                max(e) OVER (PARTITION BY id ORDER BY s, e
                             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pmax
         FROM spans),
       grpd AS (
         SELECT id, s, e,
                sum(CASE WHEN pmax IS NULL OR s > pmax THEN 1 ELSE 0 END)
                  OVER (PARTITION BY id ORDER BY s, e
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS gid
         FROM mrg),
       iv AS (SELECT id, min(s) AS s, max(e) AS e FROM grpd GROUP BY id, gid),
       toks AS (
         SELECT doc_id AS id, i AS pos, ws[i] AS tok, len(ws) AS n_before
         FROM (SELECT doc_id, ws, unnest(generate_series(1, len(ws))) AS i FROM docs)
         WHERE doc_id IN (SELECT DISTINCT id FROM iv)),
       marked AS (
         SELECT t.id, t.pos, t.tok, t.n_before,
                EXISTS (SELECT 1 FROM iv
                        WHERE iv.id = t.id AND t.pos BETWEEN iv.s AND iv.e) AS rm
         FROM toks t)
       SELECT id AS doc_id,
              CAST(max(n_before) AS BIGINT) AS n_tok_before,
              CAST(sum(CASE WHEN rm THEN 1 ELSE 0 END) AS BIGINT) AS n_tok_removed,
              CAST(max(n_before) - sum(CASE WHEN rm THEN 1 ELSE 0 END) AS BIGINT) AS n_tok_after,
              md5(coalesce(string_agg(CASE WHEN NOT rm THEN tok END, ' ' ORDER BY pos), ''))
                AS clean_hash
       FROM marked GROUP BY id ORDER BY doc_id""") { (s, d) =>
    val k = 8
    val docs = Tables.documents(s, d)
    val g = wordGramPositions(docs, "doc_id", "text", k)
    val anchors = g.groupBy("h").agg(countDistinct(col("id")).as("nd"))
      .filter(col("nd").between(2, 10)).select("h")
    val ag = g.join(anchors, Seq("h"), "left_semi")
    val cand = ag.filter(col("pos") % 13 === 0)
      .select(col("h"), col("id").as("id_s"))
      .join(ag.select(col("h"), col("id").as("id_o")), "h")
      .filter(col("id_s") =!= col("id_o"))
      .select(least(col("id_s"), col("id_o")).as("id_a"),
        greatest(col("id_s"), col("id_o")).as("id_b"))
      .distinct()
    val cids = cand.select(col("id_a").as("id"))
      .unionAll(cand.select(col("id_b").as("id"))).distinct()
    val gc = g.join(cids, Seq("id"), "left_semi")
    val m = cand
      .join(gc.select(col("id").as("id_a"), col("pos").as("pa"), col("h")), "id_a")
      .join(gc.select(col("id").as("id_b"), col("pos").as("pb"), col("h")),
        Seq("id_b", "h"))
    val wRn = Window.partitionBy(col("id_a"), col("id_b"), col("diag"))
      .orderBy(col("pa"))
    val spans = m.withColumn("diag", col("pa") - col("pb"))
      .withColumn("rn", row_number().over(wRn))
      .groupBy(col("id_a"), col("id_b"), col("diag"),
        (col("pa") - col("rn")).as("grp"))
      .agg(count(lit(1)).as("run"), min(col("pb")).as("pb0"))
      .filter(col("run") + (k - 1) >= 20)
      .select(col("id_b").as("id"), col("pb0").as("s"),
        (col("pb0") + col("run") + (k - 2)).as("e"))
      .distinct()
    val wPrev = Window.partitionBy(col("id")).orderBy(col("s"), col("e"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val wCum = Window.partitionBy(col("id")).orderBy(col("s"), col("e"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val iv = spans.withColumn("pmax", max(col("e")).over(wPrev))
      .withColumn("gid",
        sum(when(col("pmax").isNull || col("s") > col("pmax"), 1).otherwise(0)).over(wCum))
      .groupBy(col("id"), col("gid"))
      .agg(min(col("s")).as("s"), max(col("e")).as("e"))
      .select("id", "s", "e")
    val affected = iv.select("id").distinct()
    val toks = docs.join(affected, docs("doc_id") === affected("id"), "left_semi")
      .withColumn("ws", split(col("text"), " "))
      .select(col("doc_id").as("id"), size(col("ws")).cast(LongType).as("n_before"),
        posexplode(col("ws")).as(Seq("pos0", "tok")))
      .withColumn("pos", col("pos0") + 1)
    // merged intervals are DISJOINT per doc ⇒ this left join matches at
    // most one interval per position: no row fan-out possible
    val marked = toks.as("tk").join(iv.as("iv"),
        col("tk.id") === col("iv.id") &&
          col("tk.pos").between(col("iv.s"), col("iv.e")), "left")
      .select(col("tk.id").as("id"), col("tk.pos").as("pos"),
        col("tk.tok").as("tok"), col("tk.n_before").as("n_before"),
        col("iv.s").isNotNull.as("rm"))
    marked.groupBy(col("id").as("doc_id"))
      .agg(max(col("n_before")).as("n_tok_before"),
        sum(when(col("rm"), 1L).otherwise(0L)).as("n_tok_removed"),
        md5(array_join(transform(
          array_sort(collect_list(when(!col("rm"), struct(col("pos"), col("tok"))))),
          x => x.getField("tok")), " ")).as("clean_hash"))
      .select(col("doc_id"), col("n_tok_before"), col("n_tok_removed"),
        (col("n_tok_before") - col("n_tok_removed")).as("n_tok_after"), col("clean_hash"))
      .select(col("doc_id"), col("n_tok_before"), col("n_tok_removed"),
        col("n_tok_after"), col("clean_hash"))
      .orderBy("doc_id")
  }

  /** Incremental band-index MAINTENANCE — the missing half of the d21
    * story. d21 builds a stored index once and probes it; production
    * never rebuilds a 100 TB corpus index per crawl — it APPENDS each
    * ingested batch's band keys and keeps probing. This runs that exact
    * lifecycle: index built from the base corpus (doc_id % 7 ∉ {3, 5}),
    * wave-1 batch (% 7 = 3) appended via the bucketed-append path (new
    * files under the SAME bucket spec — the layout invariant survives,
    * so the probe side still reads exchange-free), then wave-2 (% 7 = 5)
    * probes the updated index and verifies candidates by exact Jaccard.
    * The oracle recomputes against the full base∪wave1 corpus, so
    * "update ≡ rebuild" is hash-checked here and byte-compared
    * explicitly in RoundSevenSpec (probe-after-append vs
    * probe-after-rebuild on the same session).
    *
    * Scale shape: the append writes ONLY the batch (index cost per crawl
    * ∝ batch, not corpus); probing stays the d21 plan — index side scan
    * with no exchange, new-batch side shuffles 8-byte ids + band keys. */
  private val d53 = Q(
    "d53_index_update",
    """WITH docs AS (
         SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
       sh AS (
         SELECT doc_id, ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] AS sh
         FROM (SELECT doc_id, ws,
                      unnest(generate_series(1, greatest(len(ws) - 2, 1))) AS i
               FROM docs)),
       hs AS (
         SELECT doc_id, ('0x' || substring(md5(sh), 1, 8))::BIGINT AS h1,
                ('0x' || substring(md5(sh), 9, 8))::BIGINT AS h2
         FROM sh),
       sig AS (
         SELECT doc_id, seed, min(h1 + seed * h2) AS mh
         FROM hs, (SELECT unnest(generate_series(0, 7)) AS seed) seeds
         GROUP BY doc_id, seed),
       bands AS (
         SELECT doc_id, CAST(seed // 2 AS INT) AS band,
                md5(string_agg(CAST(mh AS VARCHAR), '|' ORDER BY seed)) AS band_key
         FROM sig GROUP BY doc_id, CAST(seed // 2 AS INT)),
       cand AS (
         SELECT DISTINCT n.doc_id AS new_id, o.doc_id AS old_id
         FROM (SELECT * FROM bands WHERE doc_id % 7 = 5) n
         JOIN (SELECT * FROM bands WHERE doc_id % 7 != 5) o
           ON n.band = o.band AND n.band_key = o.band_key),
       shd AS (SELECT DISTINCT doc_id, h1 * 134217728 + h2 % 134217728 AS h
               FROM hs),
       sz AS (SELECT doc_id, count(*) AS n FROM shd GROUP BY doc_id),
       inter AS (
         SELECT c.new_id, c.old_id, count(*) AS ni
         FROM cand c
           JOIN shd a ON a.doc_id = c.new_id
           JOIN shd b ON b.doc_id = c.old_id AND b.h = a.h
         GROUP BY c.new_id, c.old_id),
       ver AS (
         SELECT i.new_id, i.old_id FROM inter i
           JOIN sz sa ON sa.doc_id = i.new_id
           JOIN sz sb ON sb.doc_id = i.old_id
         WHERE i.ni * 1.0 / (sa.n + sb.n - i.ni) >= 0.5),
       cand_n AS (SELECT new_id, count(*) AS n_cand FROM cand GROUP BY new_id),
       ver_n AS (SELECT new_id, count(*) AS n_ver, min(old_id) AS best_match
                 FROM ver GROUP BY new_id)
       SELECT d.doc_id AS new_doc_id,
              CAST(coalesce(c.n_cand, 0) AS BIGINT) AS n_candidates,
              CAST(coalesce(v.n_ver, 0) AS BIGINT) AS n_verified,
              CASE WHEN v.new_id IS NOT NULL THEN 'duplicate' ELSE 'unique' END AS verdict,
              v.best_match
       FROM (SELECT doc_id FROM documents WHERE doc_id % 7 = 5) d
         LEFT JOIN cand_n c ON d.doc_id = c.new_id
         LEFT JOIN ver_n v ON d.doc_id = v.new_id
       ORDER BY new_doc_id""") { (s, d) =>
    val docs = Tables.documents(s, d)
    val (buckets, shingles) = lshBucketsAndShingles(docs, "doc_id", "text",
      shingleWords = 3, bands = 4, rowsPerBand = 2)
    val isWave1 = col("id") % 7 === 3
    val isWave2 = col("id") % 7 === 5
    val table = "graft_band_index_upd_" +
      graft.Scratch.nameTag()
    // day 0: index the base corpus; day 1: APPEND the ingested batch
    writeBandIndex(s, buckets.filter(!isWave1 && !isWave2), table)
    appendBandIndex(s, buckets.filter(isWave1), table)
    // day 2: probe the UPDATED index with the next wave
    val cand = probeBandIndex(s, table, buckets.filter(isWave2))
    val verified = jaccardVerifiedPairs(cand, shingles, tau = 0.5)
    val candN = cand.groupBy(col("id_a").as("new_id"))
      .agg(count(lit(1)).as("n_cand"))
    val verN = verified.groupBy(col("id_a").as("new_id"))
      .agg(count(lit(1)).as("n_ver"), min(col("id_b")).as("best_match"))
    docs.filter(col("doc_id") % 7 === 5).select(col("doc_id").as("new_doc_id"))
      .join(candN, col("new_doc_id") === candN("new_id"), "left")
      .join(verN, col("new_doc_id") === verN("new_id"), "left")
      .select(col("new_doc_id"),
        coalesce(col("n_cand"), lit(0L)).as("n_candidates"),
        coalesce(col("n_ver"), lit(0L)).as("n_verified"),
        when(verN("new_id").isNotNull, "duplicate").otherwise("unique").as("verdict"),
        col("best_match"))
      .orderBy("new_doc_id")
  }

  /** Prefix-filtering set-similarity join (the PPJoin/AllPairs family —
    * Xiao et al., WWW'08) — the EXACT, 100%-recall alternative to
    * MinHash banding for Jaccard ≥ τ. Where LSH (d03/d15) trades recall
    * for speed probabilistically, prefix filtering is a THEOREM: order
    * every doc's shingle set by global rarity (frequency asc, hash asc —
    * one canonical total order), keep only each set's first
    * n − ⌈τ·n⌉ + 1 elements as join keys, and any pair with true
    * Jaccard ≥ τ MUST collide on at least one prefix element (if two
    * sets share nothing in their prefixes, their overlap is too small
    * for τ by pigeonhole). Candidates then go through the same exact
    * verification as d15. The DuckDB oracle computes ALL qualifying
    * pairs by brute force, so the hash check IS the completeness proof —
    * a recall miss would drop a row and fail the gate.
    *
    * Scale shape: the rarity census is a (shingle, cnt) table bounded by
    * the shingle universe; ordering is a per-doc window over its own
    * ~100 shingles; the candidate join keys on single shingle hashes but
    * only over the PREFIX stream (≈ half the set at τ = 0.5, and the
    * RAREST half — exactly the keys with the smallest buckets; the
    * frequency ordering is what makes the join sparse). An exact LENGTH
    * filter (τ·|A| ≤ |B| ≤ |A|/τ, implied by J ≥ τ) prunes cross-length
    * candidates inside the join condition. Verification is
    * candidate-restricted, ids/8-byte hashes only.
    *
    * PRECONDITION (measured on the synthetic probe corpus): prefix
    * filtering's sparsity comes from Zipfian token skew — rare tokens
    * must exist. On a corpus with ~uniform shingle frequencies every
    * prefix bucket is corpus_size/universe docs and the candidate stage
    * goes quadratic even when the true result is tiny (the ScaleProbe
    * generator is exactly that degenerate case — see its exclusion
    * note). Real text is Zipfian (t32 fits the fixture's curve); for
    * non-text or adversarial inputs, use the capped LSH family
    * (d03/d15), which bounds work by trading recall. */
  private val d54 = Q(
    "d54_prefix_filter_join",
    """WITH docs AS (
         SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
       sh AS (
         SELECT doc_id, ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] AS g
         FROM (SELECT doc_id, ws,
                      unnest(generate_series(1, greatest(len(ws) - 2, 1))) AS i
               FROM docs)),
       hs AS (
         SELECT DISTINCT doc_id,
                ('0x' || substring(md5(g), 1, 8))::BIGINT * 134217728
                  + ('0x' || substring(md5(g), 9, 8))::BIGINT % 134217728 AS h
         FROM sh),
       sz AS (SELECT doc_id, count(*) AS n FROM hs GROUP BY doc_id),
       inter AS (
         SELECT a.doc_id AS ia, b.doc_id AS ib, count(*) AS ni
         FROM hs a JOIN hs b ON a.h = b.h AND a.doc_id < b.doc_id
         GROUP BY 1, 2),
       j AS (
         SELECT ia AS id_a, ib AS id_b,
                ni * 1.0 / (sa.n + sb.n - ni) AS jac
         FROM inter
           JOIN sz sa ON sa.doc_id = ia
           JOIN sz sb ON sb.doc_id = ib)
       SELECT id_a, id_b, CAST(round(jac * 1000000) AS BIGINT) AS jac_micro
       FROM j WHERE jac >= 0.5 ORDER BY id_a, id_b""") { (s, d) =>
    prefixFilterPairs(s, d, tau = 0.5)
      .select(col("id_a"), col("id_b"),
        round(col("jaccard") * 1000000).cast(LongType).as("jac_micro"))
      .orderBy("id_a", "id_b")
  }

  /** The d54 prefix-filtering pipeline as a reusable building block:
    * returns EVERY pair with exact shingle-set Jaccard ≥ τ as
    * (id_a, id_b, jaccard) — ground truth for recall evaluation (d55). */
  def prefixFilterPairs(s: org.apache.spark.sql.SparkSession, d: String,
      tau: Double): DataFrame = {
    val docs = Tables.documents(s, d)
    val grams = spreadToCores(docs)
      .select(col("doc_id").as("id"), split(col("text"), " ").as("ws"))
      .select(col("id"), expr(
        "transform(sequence(1, greatest(size(ws) - 2, 1)), " +
          "i -> concat_ws(' ', element_at(ws, i), element_at(ws, i + 1), element_at(ws, i + 2)))")
        .as("sh"))
      .select(col("id"), shingleHashPairs(col("sh")).as("hv"))
    val sh = reuse(grams.select(col("id"), explode(col("hv")).as("p"))
      .select(col("id"),
        (col("p.h1") * lit(134217728L) + col("p.h2") % lit(134217728L)).as("h"))
      .distinct())
    // global rarity census → the canonical element order every doc uses
    val freq = sh.groupBy("h").agg(count(lit(1)).as("cnt"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("id").orderBy(col("cnt").asc, col("h").asc)
    val wn = org.apache.spark.sql.expressions.Window.partitionBy("id")
    val prefix = sh.join(freq, "h")
      .withColumn("rk", row_number().over(w))
      .withColumn("n", count(lit(1)).over(wn))
      .filter(col("rk") <= col("n") - ceil(lit(tau) * col("n")) + 1)
      .select(col("id"), col("h"))
    // LENGTH FILTER (exact, from the same theorem family): J ≥ τ forces
    // τ·|A| ≤ |B| ≤ |A|/τ, so cross-length pairs are pruned inside the
    // join condition — pure candidate reduction, the result set (and the
    // oracle) are unchanged
    val prefixN = prefix.join(
      sh.groupBy("id").agg(count(lit(1)).as("setn")), "id")
    val cand = prefixN.as("a")
      .join(prefixN.as("b"),
        col("a.h") === col("b.h") && col("a.id") < col("b.id")
          && col("b.setn") >= ceil(lit(tau) * col("a.setn"))
          && col("b.setn") * lit(tau) <= col("a.setn"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"))
      .distinct()
    jaccardVerifiedPairs(cand, sh, tau)
  }

  /** MEASURED recall of the banded MinHash pipeline against exact ground
    * truth — the closure of the dedup family: d15's production path
    * (4×2 banding → candidate pairs → exact-Jaccard verification) is
    * recall-lossy BY DESIGN (a pair colliding in no band is never
    * scored), and until d54 existed the loss could only be estimated
    * from the S-curve. Now it is a measured, hash-verified quantity:
    * ground truth = the prefix-filter join (exact, 100% recall), approx
    * = the banded pipeline, both verifying with the SAME τ on the SAME
    * shingle sets — so approx ⊆ exact holds by construction and the
    * output pins it (`n_hit = n_approx` is hash-checked, not assumed).
    * recall = |approx| / |exact| in micro-units.
    *
    * This is d12/d16's "measure the ANN's recall" discipline applied to
    * the dedup side — the number a 100 TB deployment quotes when it
    * chooses banding parameters (d36's curve gives the knob, d55 gives
    * the achieved operating point).
    *
    * Scale shape: two candidate generators over one shared shingle
    * digest; the comparison joins are pair-id sets (16 bytes/row). */
  private val d55 = Q(
    "d55_lsh_recall",
    """WITH docs AS (
         SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
       sh AS (
         SELECT doc_id, ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] AS g
         FROM (SELECT doc_id, ws,
                      unnest(generate_series(1, greatest(len(ws) - 2, 1))) AS i
               FROM docs)),
       hs AS (
         SELECT doc_id, ('0x' || substring(md5(g), 1, 8))::BIGINT AS h1,
                ('0x' || substring(md5(g), 9, 8))::BIGINT AS h2
         FROM sh),
       hsd AS (SELECT DISTINCT doc_id, h1 * 134217728 + h2 % 134217728 AS h
               FROM hs),
       sz AS (SELECT doc_id, count(*) AS n FROM hsd GROUP BY doc_id),
       inter AS (
         SELECT a.doc_id AS ia, b.doc_id AS ib, count(*) AS ni
         FROM hsd a JOIN hsd b ON a.h = b.h AND a.doc_id < b.doc_id
         GROUP BY 1, 2),
       scored AS (
         SELECT ia, ib, ni * 1.0 / (sa.n + sb.n - ni) AS jac
         FROM inter JOIN sz sa ON sa.doc_id = ia JOIN sz sb ON sb.doc_id = ib),
       exact AS (SELECT ia, ib FROM scored WHERE jac >= 0.5),
       sig AS (
         SELECT doc_id, seed, min(h1 + seed * h2) AS mh
         FROM hs, (SELECT unnest(generate_series(0, 7)) AS seed) seeds
         GROUP BY doc_id, seed),
       bands AS (
         SELECT doc_id, CAST(seed // 2 AS INT) AS band,
                md5(string_agg(CAST(mh AS VARCHAR), '|' ORDER BY seed)) AS band_key
         FROM sig GROUP BY doc_id, CAST(seed // 2 AS INT)),
       cand AS (
         SELECT DISTINCT a.doc_id AS ia, b.doc_id AS ib
         FROM bands a JOIN bands b
           ON a.band = b.band AND a.band_key = b.band_key AND a.doc_id < b.doc_id),
       approx AS (
         SELECT s.ia, s.ib FROM scored s JOIN cand c ON c.ia = s.ia AND c.ib = s.ib
         WHERE s.jac >= 0.5),
       hit AS (SELECT a.ia, a.ib FROM approx a JOIN exact e ON e.ia = a.ia AND e.ib = a.ib)
       SELECT (SELECT count(*) FROM exact) AS n_exact,
              (SELECT count(*) FROM approx) AS n_approx,
              (SELECT count(*) FROM hit) AS n_hit,
              CAST(round(1000000.0 * (SELECT count(*) FROM hit)
                         / (SELECT count(*) FROM exact)) AS BIGINT) AS recall_micro
       ORDER BY n_exact""") { (s, d) =>
    val docs = Tables.documents(s, d)
    val (buckets, shingles) = lshBucketsAndShingles(docs, "doc_id", "text",
      shingleWords = 3, bands = 4, rowsPerBand = 2)
    val approx = jaccardVerifiedPairs(
      candidatePairs(buckets, materialize = false), shingles, tau = 0.5)
      .select(col("id_a"), col("id_b"))
    val exact = prefixFilterPairs(s, d, tau = 0.5).select(col("id_a"), col("id_b"))
    val hit = approx.join(exact, Seq("id_a", "id_b"), "left_semi")
    exact.agg(count(lit(1)).as("n_exact"))
      .crossJoin(broadcast(approx.agg(count(lit(1)).as("n_approx"))))
      .crossJoin(broadcast(hit.agg(count(lit(1)).as("n_hit"))))
      .select(col("n_exact"), col("n_approx"), col("n_hit"),
        round(lit(1000000.0) * col("n_hit") / col("n_exact"))
          .cast(LongType).as("recall_micro"))
      .orderBy("n_exact")
  }

  /** d64 — RE-BUCKET MIGRATION behind the catalog: the store operation a
    * 100× corpus growth actually forces. Bucket counts are sized so a
    * bucket's data fits an executor's scan budget; an index laid out at
    * count N eventually needs count M ≫ N, and at scale that migration
    * must be an online generation swap. The bucket spec therefore
    * becomes GENERATION STATE: the d58 catalog carries (table handle,
    * bucket count) as one atomic pair, probes resolve both, and the
    * maintenance append writes at the RESOLVED count — an append at a
    * stale spec fails loudly in Spark's bucket validation (drilled), so
    * the catalog is what makes post-migration maintenance safe, not
    * convention.
    *
    * Phases: `pre` probes generation 1 (8 buckets, base corpus);
    * migration rewrites the content at 32 buckets and publishes
    * (gen-2, "32") atomically; the wave-1 ingest batch then appends AT
    * THE RESOLVED 32-bucket spec, and `post_migrate` probes the
    * migrated+maintained index. The oracle computes both phases from
    * the doc sets directly — layout must never change an answer, and a
    * migration that dropped/duplicated rows or broke the append path
    * surfaces as a phase mismatch. RoundTwelveSpec adds the layout
    * drills: content equality across the migration, exchange-free
    * bucket-aware probes on the 32-bucket generation, and the
    * stale-spec append rejection. */
  private val d64 = Q(
    "d64_rebucket_migration",
    """WITH docs AS (
         SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
       sh AS (
         SELECT doc_id, ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] AS sh
         FROM (SELECT doc_id, ws,
                      unnest(generate_series(1, greatest(len(ws) - 2, 1))) AS i
               FROM docs)),
       hs AS MATERIALIZED (
         SELECT doc_id, ('0x' || substring(md5(sh), 1, 8))::BIGINT AS h1,
                ('0x' || substring(md5(sh), 9, 8))::BIGINT AS h2
         FROM sh),
       sig AS (
         SELECT doc_id, seed, min(h1 + seed * h2) AS mh
         FROM hs, (SELECT unnest(generate_series(0, 7)) AS seed) seeds
         GROUP BY doc_id, seed),
       bands AS MATERIALIZED (
         SELECT doc_id, CAST(seed // 2 AS INT) AS band,
                md5(string_agg(CAST(mh AS VARCHAR), '|' ORDER BY seed)) AS band_key
         FROM sig GROUP BY doc_id, CAST(seed // 2 AS INT)),
       cand_pre AS (
         SELECT DISTINCT n.doc_id AS new_id, o.doc_id AS old_id
         FROM (SELECT * FROM bands WHERE doc_id % 7 = 5) n
         JOIN (SELECT * FROM bands WHERE doc_id % 7 != 5 AND doc_id % 7 != 3) o
           ON n.band = o.band AND n.band_key = o.band_key),
       cand_post AS (
         SELECT DISTINCT n.doc_id AS new_id, o.doc_id AS old_id
         FROM (SELECT * FROM bands WHERE doc_id % 7 = 5) n
         JOIN (SELECT * FROM bands WHERE doc_id % 7 != 5) o
           ON n.band = o.band AND n.band_key = o.band_key),
       shd AS MATERIALIZED (
         SELECT DISTINCT doc_id, h1 * 134217728 + h2 % 134217728 AS h FROM hs),
       sz AS (SELECT doc_id, count(*) AS n FROM shd GROUP BY doc_id),
       inter_pre AS (
         SELECT c.new_id, c.old_id, count(*) AS ni
         FROM cand_pre c
           JOIN shd a ON a.doc_id = c.new_id
           JOIN shd b ON b.doc_id = c.old_id AND b.h = a.h
         GROUP BY c.new_id, c.old_id),
       ver_pre AS (
         SELECT i.new_id, i.old_id FROM inter_pre i
           JOIN sz sa ON sa.doc_id = i.new_id
           JOIN sz sb ON sb.doc_id = i.old_id
         WHERE i.ni * 1.0 / (sa.n + sb.n - i.ni) >= 0.5),
       inter_post AS (
         SELECT c.new_id, c.old_id, count(*) AS ni
         FROM cand_post c
           JOIN shd a ON a.doc_id = c.new_id
           JOIN shd b ON b.doc_id = c.old_id AND b.h = a.h
         GROUP BY c.new_id, c.old_id),
       ver_post AS (
         SELECT i.new_id, i.old_id FROM inter_post i
           JOIN sz sa ON sa.doc_id = i.new_id
           JOIN sz sb ON sb.doc_id = i.old_id
         WHERE i.ni * 1.0 / (sa.n + sb.n - i.ni) >= 0.5),
       probes AS (SELECT doc_id FROM documents WHERE doc_id % 7 = 5),
       out_pre AS (
         SELECT 'pre' AS phase, d.doc_id AS new_doc_id,
                CAST(coalesce(c.n_cand, 0) AS BIGINT) AS n_candidates,
                CAST(coalesce(v.n_ver, 0) AS BIGINT) AS n_verified,
                CASE WHEN v.new_id IS NOT NULL THEN 'duplicate' ELSE 'unique' END AS verdict,
                v.best_match
         FROM probes d
           LEFT JOIN (SELECT new_id, count(*) AS n_cand FROM cand_pre GROUP BY new_id) c
             ON d.doc_id = c.new_id
           LEFT JOIN (SELECT new_id, count(*) AS n_ver, min(old_id) AS best_match
                      FROM ver_pre GROUP BY new_id) v
             ON d.doc_id = v.new_id),
       out_post AS (
         SELECT 'post_migrate' AS phase, d.doc_id AS new_doc_id,
                CAST(coalesce(c.n_cand, 0) AS BIGINT) AS n_candidates,
                CAST(coalesce(v.n_ver, 0) AS BIGINT) AS n_verified,
                CASE WHEN v.new_id IS NOT NULL THEN 'duplicate' ELSE 'unique' END AS verdict,
                v.best_match
         FROM probes d
           LEFT JOIN (SELECT new_id, count(*) AS n_cand FROM cand_post GROUP BY new_id) c
             ON d.doc_id = c.new_id
           LEFT JOIN (SELECT new_id, count(*) AS n_ver, min(old_id) AS best_match
                      FROM ver_post GROUP BY new_id) v
             ON d.doc_id = v.new_id)
       SELECT * FROM (SELECT * FROM out_pre UNION ALL SELECT * FROM out_post)
       ORDER BY phase, new_doc_id""") { (s, d) =>
    val docs = Tables.documents(s, d)
    val (buckets, shingles) = lshBucketsAndShingles(docs, "doc_id", "text",
      shingleWords = 3, bands = 4, rowsPerBand = 2)
    val isWave1 = col("id") % 7 === 3
    val isWave2 = col("id") % 7 === 5
    val t1 = "graft_band_mig_" +
      graft.Scratch.nameTag()
    writeBandIndex(s, buckets.filter(!isWave1 && !isWave2), t1, Some(8))
    val cat = graft.Scratch.dir("graft_d64_cat") + "/store.catalog"
    graft.ops.Incremental.publishCatalog(cat, Seq(t1, "8"))

    def probePhase(phase: String): DataFrame = {
      val handles = graft.ops.Incremental.resolveCatalog(cat, expect = 2)
      val cand = probeBandIndex(s, handles(0), buckets.filter(isWave2))
      val verified = jaccardVerifiedPairs(cand, shingles, tau = 0.5)
      val candN = cand.groupBy(col("id_a").as("new_id"))
        .agg(count(lit(1)).as("n_cand"))
      val verN = verified.groupBy(col("id_a").as("new_id"))
        .agg(count(lit(1)).as("n_ver"), min(col("id_b")).as("best_match"))
      docs.filter(col("doc_id") % 7 === 5).select(col("doc_id").as("new_doc_id"))
        .join(candN, col("new_doc_id") === candN("new_id"), "left")
        .join(verN, col("new_doc_id") === verN("new_id"), "left")
        .select(lit(phase).as("phase"), col("new_doc_id"),
          coalesce(col("n_cand"), lit(0L)).as("n_candidates"),
          coalesce(col("n_ver"), lit(0L)).as("n_verified"),
          when(verN("new_id").isNotNull, "duplicate").otherwise("unique").as("verdict"),
          col("best_match"))
    }

    // phase 1: the handles bind t1 at plan CONSTRUCTION (probePhase
    // resolves the catalog eagerly on the driver), and t1 is never
    // mutated — the migration writes t2 and wave 1 appends to t2 — so
    // the probe stays LAZY: the final union executes both phases in one
    // job (shared digest caches, overlapped stages) instead of paying
    // the pre-phase pipeline as its own checkpoint job (guide §2.6).
    val pre = probePhase("pre")
    // the online migration: resolve → rewrite at 32 buckets → ONE atomic
    // publish of (handle, spec); maintenance then appends to the
    // resolved handle at its stored 32-bucket spec
    val cur = graft.ops.Incremental.resolveCatalog(cat, expect = 2)
    val t2 = migrateBandIndex(s, cur(0), nBuckets = 32, "d64")
    graft.ops.Incremental.publishCatalog(cat, Seq(t2, "32"))
    val post = graft.ops.Incremental.resolveCatalog(cat, expect = 2)
    appendBandIndex(s, buckets.filter(isWave1), post(0))
    pre.unionByName(probePhase("post_migrate"))
      .orderBy("phase", "new_doc_id")
  }

  /** d65 — GROWTH-GATED MIGRATION: the measured trigger for d64 (the
    * d61→d62 signal→decision→action triple, on the LAYOUT axis). A
    * bucket count is right until the corpus outgrows it; production
    * wants a measured "when" and a measured "to what", not a guess. The
    * census is one aggregation over the stored index (total rows,
    * distinct band keys, the largest single key — the skew the cap
    * machinery watches); the gate is a PINNED per-bucket row budget
    * (256 — holds at sf0.001/0.01 at 250 rows/bucket, fires at sf0.1 at
    * 2500: the growth gate fires exactly when the corpus GROWS, the
    * inverse of d62's fixture profile, so both branches are exercised
    * across the family); the SIZING POLICY — the smallest 8·2^k whose
    * per-bucket rows fit the budget — is a bounded CASE ladder
    * hardcoded on both sides (the d37 discipline: exact cross-engine,
    * no fp log2), so the decision AND the chosen target count are
    * hash-checked, not trusted. When the gate fires, the d64 machinery
    * runs: one content-preserving rewrite at the chosen count + one
    * atomic (handle, spec) publish. RoundTwelveSpec asserts the
    * physical outcome at both SFs: the catalog still holds (gen-1, 8)
    * where the gate holds, and a REAL 128-bucket table where it fired.
    *
    * Scale shape: the census is one map-side-combined agg over the
    * bucketed index scan (8-byte keys only); the gate is a one-row
    * driver branch; the migration itself is d64's single bucketed
    * rewrite. Nothing else is data-sized. */
  private val d65 = Q(
    "d65_growth_gated_migration",
    """WITH docs AS (
         SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
       sh AS (
         SELECT doc_id, ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] AS sh
         FROM (SELECT doc_id, ws,
                      unnest(generate_series(1, greatest(len(ws) - 2, 1))) AS i
               FROM docs)),
       hs AS (
         SELECT doc_id, ('0x' || substring(md5(sh), 1, 8))::BIGINT AS h1,
                ('0x' || substring(md5(sh), 9, 8))::BIGINT AS h2
         FROM sh),
       sig AS (
         SELECT doc_id, seed, min(h1 + seed * h2) AS mh
         FROM hs, (SELECT unnest(generate_series(0, 7)) AS seed) seeds
         GROUP BY doc_id, seed),
       bands AS (
         SELECT doc_id, CAST(seed // 2 AS INT) AS band,
                md5(string_agg(CAST(mh AS VARCHAR), '|' ORDER BY seed)) AS band_key
         FROM sig GROUP BY doc_id, CAST(seed // 2 AS INT)),
       keys AS (SELECT band, band_key, count(*) AS c FROM bands GROUP BY band, band_key),
       census AS (
         SELECT CAST(sum(c) AS BIGINT) AS n_rows,
                count(*) AS n_keys,
                CAST(max(c) AS BIGINT) AS max_key_rows
         FROM keys)
       SELECT n_rows, n_keys, max_key_rows,
              n_rows >= 256 * 8 AS acted,
              CAST(8 AS BIGINT) AS n_buckets_pre,
              CAST(CASE WHEN n_rows < 256 * 8 THEN 8
                        WHEN n_rows < 256 * 16 THEN 16
                        WHEN n_rows < 256 * 32 THEN 32
                        WHEN n_rows < 256 * 64 THEN 64
                        WHEN n_rows < 256 * 128 THEN 128
                        WHEN n_rows < 256 * 256 THEN 256
                        WHEN n_rows < 256 * 512 THEN 512
                        ELSE 1024 END AS BIGINT) AS n_buckets_post
       FROM census ORDER BY n_rows""") { (s, d) =>
    val docs = Tables.documents(s, d)
    val (buckets, _) = lshBucketsAndShingles(docs, "doc_id", "text",
      shingleWords = 3, bands = 4, rowsPerBand = 2)
    val t1 = "graft_band_grw_" +
      graft.Scratch.nameTag()
    writeBandIndex(s, buckets, t1, Some(8))
    val cat = graft.Scratch.dir("graft_d65_cat") + "/store.catalog"
    graft.ops.Incremental.publishCatalog(cat, Seq(t1, "8"))
    d65Catalog = cat
    // the census: ONE agg over the stored index (8-byte keys only)
    val cur = graft.ops.Incremental.resolveCatalog(cat, expect = 2)
    val nbPre = cur(1).toInt
    val perKey = s.table(cur(0)).groupBy("bk").agg(count(lit(1)).as("c"))
    val cRow = perKey.agg(sum(col("c")).as("n_rows"),
      count(lit(1)).as("n_keys"), max(col("c")).as("max_key_rows")).head
    val (nRows, nKeys, maxKey) = (cRow.getLong(0), cRow.getLong(1), cRow.getLong(2))
    // pinned budget + bounded sizing ladder — both hardcoded in the
    // oracle; acting (or not) and the TARGET count are hash-checked
    val budget = 256L
    val acted = nRows >= budget * nbPre
    val nbPost =
      Seq(8, 16, 32, 64, 128, 256, 512).find(k => nRows < budget * k).getOrElse(1024)
    if (acted) {
      val t2 = migrateBandIndex(s, cur(0), nbPost, "d65")
      graft.ops.Incremental.publishCatalog(cat, Seq(t2, nbPost.toString))
    }
    import s.implicits._
    Seq((nRows, nKeys, maxKey, acted, nbPre.toLong, nbPost.toLong))
      .toDF("n_rows", "n_keys", "max_key_rows", "acted",
        "n_buckets_pre", "n_buckets_post")
      .orderBy("n_rows")
  }

  /** Catalog path of the most recent d65 run (test-only introspection). */
  @volatile private[graft] var d65Catalog: String = _

  /** d66 — CATALOG HISTORY: pinned-generation reads + retention GC (the
    * Iceberg snapshot semantics on the d58 catalog). Two production
    * needs the bare pointer can't serve: (1) SESSION CONSISTENCY — a
    * long-running consumer (a training run, an audit) must keep reading
    * the generation it started on even while maintenance swaps the
    * current pointer under it; (2) RECLAMATION — swapped-out
    * generations hold real storage and must eventually be deleted, but
    * only past a retention horizon that makes outstanding pins safe.
    * Each publish now also writes an immutable history version
    * (`publishCatalogVersioned`); a reader pins with
    * `resolveCatalogVersion`; `gcCatalogHistory(retain)` physically
    * reclaims everything older than the newest `retain` generations
    * (DROP TABLE + storage delete), keeping handles still referenced by
    * a retained generation.
    *
    * Phases: `pre` probes generation 1; a takedown compaction publishes
    * generation 2; `pinned_gen1` probes THROUGH THE PIN taken before
    * the swap and must equal `pre` EXACTLY (the oracle emits the same
    * ranking under both phases — a pin that silently drifted to the new
    * generation fails the hash); `current_post` re-resolves the pointer
    * and must see the takedown. The GC mechanics (a generation beyond
    * retention is PHYSICALLY gone — table dropped, storage deleted,
    * pinned read fails loudly; generations within retention stay
    * readable) are RoundTwelveSpec drills on the same run. */
  private val d66 = Q(
    "d66_catalog_history_timetravel",
    """WITH docs AS (
         SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
       sh AS (
         SELECT doc_id, ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] AS sh
         FROM (SELECT doc_id, ws,
                      unnest(generate_series(1, greatest(len(ws) - 2, 1))) AS i
               FROM docs)),
       hs AS MATERIALIZED (
         SELECT doc_id, ('0x' || substring(md5(sh), 1, 8))::BIGINT AS h1,
                ('0x' || substring(md5(sh), 9, 8))::BIGINT AS h2
         FROM sh),
       sig AS (
         SELECT doc_id, seed, min(h1 + seed * h2) AS mh
         FROM hs, (SELECT unnest(generate_series(0, 7)) AS seed) seeds
         GROUP BY doc_id, seed),
       bands AS MATERIALIZED (
         SELECT doc_id, CAST(seed // 2 AS INT) AS band,
                md5(string_agg(CAST(mh AS VARCHAR), '|' ORDER BY seed)) AS band_key
         FROM sig GROUP BY doc_id, CAST(seed // 2 AS INT)),
       cand_g1 AS (
         SELECT DISTINCT n.doc_id AS new_id, o.doc_id AS old_id
         FROM (SELECT * FROM bands WHERE doc_id % 7 = 5) n
         JOIN (SELECT * FROM bands WHERE doc_id % 7 != 5) o
           ON n.band = o.band AND n.band_key = o.band_key),
       cand_g2 AS (
         SELECT DISTINCT n.doc_id AS new_id, o.doc_id AS old_id
         FROM (SELECT * FROM bands WHERE doc_id % 7 = 5) n
         JOIN (SELECT * FROM bands WHERE doc_id % 7 != 5 AND doc_id % 7 != 3) o
           ON n.band = o.band AND n.band_key = o.band_key),
       shd AS MATERIALIZED (
         SELECT DISTINCT doc_id, h1 * 134217728 + h2 % 134217728 AS h FROM hs),
       sz AS (SELECT doc_id, count(*) AS n FROM shd GROUP BY doc_id),
       inter_g1 AS (
         SELECT c.new_id, c.old_id, count(*) AS ni
         FROM cand_g1 c
           JOIN shd a ON a.doc_id = c.new_id
           JOIN shd b ON b.doc_id = c.old_id AND b.h = a.h
         GROUP BY c.new_id, c.old_id),
       ver_g1 AS (
         SELECT i.new_id, i.old_id FROM inter_g1 i
           JOIN sz sa ON sa.doc_id = i.new_id
           JOIN sz sb ON sb.doc_id = i.old_id
         WHERE i.ni * 1.0 / (sa.n + sb.n - i.ni) >= 0.5),
       inter_g2 AS (
         SELECT c.new_id, c.old_id, count(*) AS ni
         FROM cand_g2 c
           JOIN shd a ON a.doc_id = c.new_id
           JOIN shd b ON b.doc_id = c.old_id AND b.h = a.h
         GROUP BY c.new_id, c.old_id),
       ver_g2 AS (
         SELECT i.new_id, i.old_id FROM inter_g2 i
           JOIN sz sa ON sa.doc_id = i.new_id
           JOIN sz sb ON sb.doc_id = i.old_id
         WHERE i.ni * 1.0 / (sa.n + sb.n - i.ni) >= 0.5),
       probes AS (SELECT doc_id FROM documents WHERE doc_id % 7 = 5),
       g1 AS MATERIALIZED (
         SELECT d.doc_id AS new_doc_id,
                CAST(coalesce(c.n_cand, 0) AS BIGINT) AS n_candidates,
                CAST(coalesce(v.n_ver, 0) AS BIGINT) AS n_verified,
                CASE WHEN v.new_id IS NOT NULL THEN 'duplicate' ELSE 'unique' END AS verdict,
                v.best_match
         FROM probes d
           LEFT JOIN (SELECT new_id, count(*) AS n_cand FROM cand_g1 GROUP BY new_id) c
             ON d.doc_id = c.new_id
           LEFT JOIN (SELECT new_id, count(*) AS n_ver, min(old_id) AS best_match
                      FROM ver_g1 GROUP BY new_id) v
             ON d.doc_id = v.new_id),
       g2 AS (
         SELECT d.doc_id AS new_doc_id,
                CAST(coalesce(c.n_cand, 0) AS BIGINT) AS n_candidates,
                CAST(coalesce(v.n_ver, 0) AS BIGINT) AS n_verified,
                CASE WHEN v.new_id IS NOT NULL THEN 'duplicate' ELSE 'unique' END AS verdict,
                v.best_match
         FROM probes d
           LEFT JOIN (SELECT new_id, count(*) AS n_cand FROM cand_g2 GROUP BY new_id) c
             ON d.doc_id = c.new_id
           LEFT JOIN (SELECT new_id, count(*) AS n_ver, min(old_id) AS best_match
                      FROM ver_g2 GROUP BY new_id) v
             ON d.doc_id = v.new_id)
       SELECT phase, new_doc_id, n_candidates, n_verified, verdict, best_match
       FROM (
         SELECT 'pre' AS phase, * FROM g1
         UNION ALL SELECT 'pinned_gen1', * FROM g1
         UNION ALL SELECT 'current_post', * FROM g2)
       ORDER BY phase, new_doc_id""") { (s, d) =>
    val docs = Tables.documents(s, d)
    val (buckets, shingles) = lshBucketsAndShingles(docs, "doc_id", "text",
      shingleWords = 3, bands = 4, rowsPerBand = 2)
    val isTomb = col("id") % 7 === 3
    val isProbe = col("id") % 7 === 5
    val t1 = "graft_band_tt_" +
      graft.Scratch.nameTag()
    writeBandIndex(s, buckets.filter(!isProbe), t1)
    val cat = graft.Scratch.dir("graft_d66_cat") + "/store.catalog"
    graft.ops.Incremental.publishCatalogVersioned(cat, Seq(t1))
    d66Catalog = cat

    def probePhase(phase: String, table: String): DataFrame = {
      val cand = probeBandIndex(s, table, buckets.filter(isProbe))
      val verified = jaccardVerifiedPairs(cand, shingles, tau = 0.5)
      val candN = cand.groupBy(col("id_a").as("new_id"))
        .agg(count(lit(1)).as("n_cand"))
      val verN = verified.groupBy(col("id_a").as("new_id"))
        .agg(count(lit(1)).as("n_ver"), min(col("id_b")).as("best_match"))
      docs.filter(col("doc_id") % 7 === 5).select(col("doc_id").as("new_doc_id"))
        .join(candN, col("new_doc_id") === candN("new_id"), "left")
        .join(verN, col("new_doc_id") === verN("new_id"), "left")
        .select(lit(phase).as("phase"), col("new_doc_id"),
          coalesce(col("n_cand"), lit(0L)).as("n_candidates"),
          coalesce(col("n_ver"), lit(0L)).as("n_verified"),
          when(verN("new_id").isNotNull, "duplicate").otherwise("unique").as("verdict"),
          col("best_match"))
    }

    // the long-running consumer's PIN, taken before any swap.
    // `pre` stays LAZY: its handle binds t1 at plan construction, and
    // nothing ever mutates t1 — the compaction writes a NEW table (d69's
    // immutable-generation discipline) and the retain=2 GC below drops
    // nothing (require'd) — so an eager checkpoint here would only buy
    // immunity the layout already guarantees, at the price of running
    // the full probe pipeline as its own job. Lazy, the final union
    // executes pre+pinned+current in ONE job where pre's and pinned's
    // IDENTICAL subtrees (same table, same plan — the time-travel
    // invariant) are deduplicated by ReuseExchange instead of computed
    // twice (guide §2.4).
    val pinnedV = graft.ops.Incremental.catalogVersions(cat).last
    val pre = probePhase("pre",
      graft.ops.Incremental.resolveCatalog(cat, expect = 1).head)
    // maintenance: takedown compaction publishes generation 2
    val tomb = docs.filter(col("doc_id") % 7 === 3).select(col("doc_id").as("id"))
    val t2 = compactBandIndex(s,
      graft.ops.Incremental.resolveCatalog(cat, expect = 1).head, tomb, "d66")
    graft.ops.Incremental.publishCatalogVersioned(cat, Seq(t2))
    // time travel: the pin still answers EXACTLY like `pre` (hash-
    // demanded), while the re-resolved pointer sees the takedown
    val pinned = probePhase("pinned_gen1",
      graft.ops.Incremental.resolveCatalogVersion(cat, pinnedV, expect = 1).head)
    val current = probePhase("current_post",
      graft.ops.Incremental.resolveCatalog(cat, expect = 1).head)
    // retention: both generations are inside retain=2 — nothing drops
    // here; the reclamation path is drilled in RoundTwelveSpec
    val dropped = graft.ops.Incremental.gcCatalogHistory(s, cat, retain = 2)
    require(dropped.isEmpty, s"retain=2 GC dropped $dropped with 2 generations")
    pre.unionByName(pinned).unionByName(current)
      .orderBy("phase", "new_doc_id")
  }

  /** Catalog path of the most recent d66 run (test-only introspection). */
  @volatile private[graft] var d66Catalog: String = _

  /** d67 — RECLAMATION-GATED COMPACTION: the measured trigger for d57's
    * rewrite, completing the signal→decision→action triple on the
    * RECLAMATION axis (d61→d62 = drift, d65→d64 = layout). Compaction
    * pays a full store rewrite; production runs it when the RECLAIMABLE
    * VOLUME justifies that write amplification, not on a timer. The
    * census is exact and one pass over the stored index: total rows,
    * distinct live rows (their difference = crash-retry residue — this
    * run PLANTS a double-append so the residue term is non-zero and
    * verified), and tombstoned-doc live rows; `reclaimable = residue +
    * tombstoned`. The gate is a pinned absolute volume (1000 rows —
    * HOLDS at sf0.001/0.01 at 572 reclaimable, FIRES at sf0.1 at 5716:
    * like d65, the gate fires when the corpus grows, so both branches
    * are exercised across the fixture family and BOTH the decision and
    * the post-action row count are hash-checked). A firing gate runs
    * the d57 machinery: compactBandIndex (tombstones anti-joined,
    * residue collapsed) + one atomic publish. */
  private val d67 = Q(
    "d67_reclamation_gated_compaction",
    """WITH docs AS (
         SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
       sh AS (
         SELECT doc_id, ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] AS sh
         FROM (SELECT doc_id, ws,
                      unnest(generate_series(1, greatest(len(ws) - 2, 1))) AS i
               FROM docs)),
       hs AS (
         SELECT doc_id, ('0x' || substring(md5(sh), 1, 8))::BIGINT AS h1,
                ('0x' || substring(md5(sh), 9, 8))::BIGINT AS h2
         FROM sh),
       sig AS (
         SELECT doc_id, seed, min(h1 + seed * h2) AS mh
         FROM hs, (SELECT unnest(generate_series(0, 7)) AS seed) seeds
         GROUP BY doc_id, seed),
       bands AS MATERIALIZED (
         SELECT doc_id, CAST(seed // 2 AS INT) AS band,
                md5(string_agg(CAST(mh AS VARCHAR), '|' ORDER BY seed)) AS band_key
         FROM sig GROUP BY doc_id, CAST(seed // 2 AS INT)),
       base AS (SELECT * FROM bands WHERE doc_id % 7 != 3 AND doc_id % 7 != 5),
       batch AS (SELECT * FROM bands WHERE doc_id % 7 = 3),
       store AS (SELECT * FROM base
                 UNION ALL SELECT * FROM batch
                 UNION ALL SELECT * FROM batch),
       dr AS MATERIALIZED (SELECT DISTINCT band, band_key, doc_id FROM store),
       census AS (
         SELECT (SELECT count(*) FROM store) AS n_rows,
                (SELECT count(*) FROM dr) AS n_distinct,
                (SELECT count(*) FROM dr WHERE doc_id % 7 = 1) AS n_tomb_live)
       SELECT CAST(n_rows AS BIGINT) AS n_rows,
              CAST(n_rows - n_distinct AS BIGINT) AS n_residue,
              CAST(n_tomb_live AS BIGINT) AS n_tomb_live,
              CAST((n_rows - n_distinct) + n_tomb_live AS BIGINT) AS n_reclaimable,
              (n_rows - n_distinct) + n_tomb_live >= 1000 AS acted,
              CAST(CASE WHEN (n_rows - n_distinct) + n_tomb_live >= 1000
                   THEN n_distinct - n_tomb_live ELSE n_rows END AS BIGINT) AS n_rows_post
       FROM census ORDER BY n_rows""") { (s, d) =>
    val docs = Tables.documents(s, d)
    val (buckets, _) = lshBucketsAndShingles(docs, "doc_id", "text",
      shingleWords = 3, bands = 4, rowsPerBand = 2)
    val isBatch = col("id") % 7 === 3
    val isProbe = col("id") % 7 === 5
    val t1 = "graft_band_rgc_" +
      graft.Scratch.nameTag()
    writeBandIndex(s, buckets.filter(!isBatch && !isProbe), t1)
    // the crash-retry plant: one ingest batch lands TWICE, so the
    // census's residue term is non-zero and the count is verified
    appendBandIndex(s, buckets.filter(isBatch), t1)
    appendBandIndex(s, buckets.filter(isBatch), t1)
    val cat = graft.Scratch.dir("graft_d67_cat") + "/store.catalog"
    graft.ops.Incremental.publishCatalog(cat, Seq(t1))
    d67Catalog = cat
    // the census: one pass over the stored index, exact integers
    val st = s.table(t1)
    val nRows = st.count()
    val dist = reuse(st.distinct())
    val nDist = dist.count()
    val nTombLive = dist.filter(col("id") % 7 === 1).count()
    val nReclaimable = (nRows - nDist) + nTombLive
    val acted = nReclaimable >= 1000L
    if (acted) {
      val tomb = docs.filter(col("doc_id") % 7 === 1).select(col("doc_id").as("id"))
      val t2 = compactBandIndex(s, t1, tomb, "d67")
      graft.ops.Incremental.publishCatalog(cat, Seq(t2))
    }
    val nPost =
      s.table(graft.ops.Incremental.resolveCatalog(cat, expect = 1).head).count()
    import s.implicits._
    Seq((nRows, nRows - nDist, nTombLive, nReclaimable, acted, nPost))
      .toDF("n_rows", "n_residue", "n_tomb_live", "n_reclaimable",
        "acted", "n_rows_post")
      .orderBy("n_rows")
  }

  /** Catalog path of the most recent d67 run (test-only introspection). */
  @volatile private[graft] var d67Catalog: String = _

  /** A NEW band-index generation = an existing stored generation plus an
    * ingested batch's band keys — the ingest update under Iceberg-style
    * immutable-generation discipline (d69's publisher A): the current
    * generation's files are never touched, so a lost CAS race abandons a
    * table, never corrupts one. */
  def cloneBandIndexWithBatch(s: org.apache.spark.sql.SparkSession,
      table: String, batchBuckets: DataFrame, tag: String): String =
    BucketedStore.rewrite(s, table, bandLocation(tag))(
      _.unionByName(bandRows(batchBuckets)))

  /** d69 — OPTIMISTIC-CONCURRENCY CATALOG COMMIT: the multi-writer story
    * for every maintained store. A real deployment has ingest,
    * compaction, and re-train jobs publishing CONCURRENTLY against one
    * catalog; under plain last-writer-wins publish one of them silently
    * loses its update (the r11 verdict's top gap). The commit becomes a
    * compare-and-swap on the d66 version machinery
    * ([[graft.ops.Incremental.publishCatalogCas]]): each publisher
    * carries the version it based its update on, exactly one racer wins
    * each version (atomic hard-link claim), and the loser re-reads the
    * winner's generation, RE-APPLIES its change on top, and retries —
    * so BOTH updates survive, serialized instead of clobbered.
    *
    * This run drills the deterministic interleave (both publishers base
    * on v1; ingest commits v2; compaction's stale commit CONFLICTS, is
    * re-applied against v2, commits v3); the genuinely concurrent
    * thread race and the plain-publish lost-update anomaly are drilled
    * in RoundThirteenSpec. Every branch is hash-checked: the conflict
    * event, both committed versions, and the final census — which
    * equals base ∪ batch minus tombstones only if NEITHER update was
    * lost (ingest-lost drops the batch docs; compaction-lost leaves the
    * tombstoned docs). Disjoint plants (batch = doc_id%7=3, tombstones
    * = doc_id%7=1) make the final set order-independent, which is what
    * makes the race's outcome deterministic and oracle-checkable. */
  private val d69 = Q(
    "d69_cas_catalog_commit",
    """WITH docs AS (
         SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
       sh AS (
         SELECT doc_id, ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] AS sh
         FROM (SELECT doc_id, ws,
                      unnest(generate_series(1, greatest(len(ws) - 2, 1))) AS i
               FROM docs)),
       hs AS (
         SELECT doc_id, ('0x' || substring(md5(sh), 1, 8))::BIGINT AS h1,
                ('0x' || substring(md5(sh), 9, 8))::BIGINT AS h2
         FROM sh),
       sig AS (
         SELECT doc_id, seed, min(h1 + seed * h2) AS mh
         FROM hs, (SELECT unnest(generate_series(0, 7)) AS seed) seeds
         GROUP BY doc_id, seed),
       bands AS MATERIALIZED (
         SELECT doc_id, CAST(seed // 2 AS INT) AS band,
                md5(string_agg(CAST(mh AS VARCHAR), '|' ORDER BY seed)) AS band_key
         FROM sig GROUP BY doc_id, CAST(seed // 2 AS INT)),
       fin AS MATERIALIZED (
         SELECT DISTINCT band, band_key, doc_id FROM bands
         WHERE doc_id % 7 != 1),
       census AS (
         SELECT (SELECT count(*) FROM fin) AS n_rows,
                (SELECT count(DISTINCT doc_id) FROM fin) AS n_docs,
                (SELECT sum(doc_id) FROM (SELECT DISTINCT doc_id FROM fin)) AS sum_doc_ids)
       SELECT step, attempt, committed_version, conflict, n_rows, n_docs, sum_doc_ids
       FROM (
         SELECT 'publish_ingest' AS step, CAST(1 AS BIGINT) AS attempt,
                CAST(2 AS BIGINT) AS committed_version, false AS conflict,
                CAST(0 AS BIGINT) AS n_rows, CAST(0 AS BIGINT) AS n_docs,
                CAST(0 AS BIGINT) AS sum_doc_ids
         UNION ALL
         SELECT 'publish_compact', 1, -1, true, 0, 0, 0
         UNION ALL
         SELECT 'publish_compact', 2, 3, false, 0, 0, 0
         UNION ALL
         SELECT 'final', 0, 3, false, CAST(n_rows AS BIGINT),
                CAST(n_docs AS BIGINT), CAST(sum_doc_ids AS BIGINT)
         FROM census)
       ORDER BY step, attempt""") { (s, d) =>
    val docs = Tables.documents(s, d)
    val (buckets, _) = lshBucketsAndShingles(docs, "doc_id", "text",
      shingleWords = 3, bands = 4, rowsPerBand = 2)
    val isBatch = col("id") % 7 === 3
    val t1 = "graft_band_cas_" + graft.Scratch.nameTag()
    writeBandIndex(s, buckets.filter(!isBatch), t1)
    val cat = graft.Scratch.dir("graft_d69_cat") + "/store.catalog"
    graft.ops.Incremental.publishCatalogVersioned(cat, Seq(t1))

    val events = mutable.ArrayBuffer[(String, Long, Long, Boolean)]()
    // BOTH publishers base their update on the same snapshot (v1) —
    // the racing read that makes plain publish lose an update
    val baseV = graft.ops.Incremental.currentCatalogVersion(cat)
    val baseTable = graft.ops.Incremental.readCatalogVersion(cat, baseV).head

    // publisher A (ingest): base ∪ batch as a NEW generation; its CAS
    // against v1 wins v2
    val tA = cloneBandIndexWithBatch(s, baseTable, buckets.filter(isBatch), "d69i")
    val vA = graft.ops.Incremental.publishCatalogCas(cat, baseV, Seq(tA))
    events += (("publish_ingest", 1L, vA.toLong, false))

    // publisher B (compaction): computed against the SAME stale v1 —
    // its CAS must fail loudly instead of silently erasing the ingest
    val tomb = docs.filter(col("doc_id") % 7 === 1).select(col("doc_id").as("id"))
    val tB = compactBandIndex(s, baseTable, tomb, "d69c")
    try {
      val v = graft.ops.Incremental.publishCatalogCas(cat, baseV, Seq(tB))
      events += (("publish_compact", 1L, v.toLong, false))
    } catch {
      case _: graft.ops.Incremental.CatalogCasConflict =>
        events += (("publish_compact", 1L, -1L, true))
        // the retry protocol: re-read the winner's generation, re-apply
        // the compaction ON TOP of it, commit — both updates survive
        val (v2, _) = graft.ops.Incremental.commitCatalogCas(cat) { (_, curLines) =>
          Seq(compactBandIndex(s, curLines.head, tomb, "d69r"))
        }
        events += (("publish_compact", 2L, v2.toLong, false))
    }

    val finV = graft.ops.Incremental.currentCatalogVersion(cat)
    val fin = s.table(graft.ops.Incremental.readCatalogVersion(cat, finV).head)
    val nRows = fin.count()
    val ids = reuse(fin.select(col("id")).distinct())
    val nDocs = ids.count()
    val sumIds = ids.agg(sum(col("id"))).head.getLong(0)

    import s.implicits._
    (events.toSeq.map { case (st, at, v, c) => (st, at, v, c, 0L, 0L, 0L) } :+
      (("final", 0L, finV.toLong, false, nRows, nDocs, sumIds)))
      .toDF("step", "attempt", "committed_version", "conflict",
        "n_rows", "n_docs", "sum_doc_ids")
      .orderBy("step", "attempt")
  }

  val defs: Seq[Q] = Seq(d01, d02, d03, d04, d08, d09, d10, d11, d13, d15,
    d17, d18, d20, d21, d22, d23, d27, d28, d31, d34, d36, d37, d38, d39,
    d41, d42, d43, d44, d49, d50, d53, d54, d55, d64, d65, d66, d67, d69)
}
