package graft.ops

import scala.collection.mutable.ArrayBuffer

import graft.{Q, Tables}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** BPE tokenizer TRAINING at corpus scale (Sennrich et al. 2016, "Neural
  * Machine Translation of Rare Words with Subword Units") — the one pass
  * every LLM training pipeline runs that no SQL engine ships: learn the
  * top-K byte-pair merges from the corpus, then segment the corpus with
  * them.
  *
  * Scale shape — why this survives 100 TB:
  *  - The corpus is touched ONCE, by the word-frequency census (a
  *    shuffle-keyed count on `word`). Everything after runs on the
  *    word-TYPE table: training cost is O(vocab × K merges) and does not
  *    grow with corpus size at all — 100 TB of text is ~10⁸ word types,
  *    a table of megabytes, not terabytes (the same census-not-stream
  *    insight as t29's bigram scoring).
  *  - Each merge iteration is one small job over the symbol table: pair
  *    census (map-side explode + partial agg), a global argmax
  *    (TakeOrdered(1) — tiny by construction), and a map-side greedy
  *    re-segmentation via a fold expression. Lineage is truncated with a
  *    localCheckpoint every 8 merges so K=1000 doesn't build a
  *    K-deep plan.
  *  - Mirroring d34's PageRank discipline, a census of at most
  *    [[DriverThreshold]] word types (100k — megabytes) runs the
  *    identical loop driver-side, skipping per-iteration job overhead;
  *    BpeSpec pins the two routes bit-identical.
  *  - Segmentation (t31) never tokenizes the stream: the final symbol
  *    table IS the tokenization of every word type, and per-doc BPE
  *    token counts are one join of the per-doc word census against it —
  *    hot words (stopword skew) ride an explicit top-32 broadcast, tail
  *    words hit a uniform shuffled join (the t13 hybrid).
  *
  * Determinism contract: the merge ranking is (pair count desc, left
  * asc, right asc) — a total order, so the learned merges are a pure
  * function of the corpus, independent of partitioning; the greedy
  * left-to-right application is the standard BPE re-segmentation.
  * BOTH halves are cross-engine hash-checked: the APPLICATION (t31)
  * renders the learned merges into DuckDB SQL and DuckDB re-segments
  * the corpus independently, and the TRAINING (t30) — whose
  * data-dependent per-iteration argmax no recursive CTE can express —
  * unrolls into k chained census→argmax→replace CTE steps
  * ([[TokenizerOracles.t30Sql]]), so DuckDB re-LEARNS the merge table
  * from scratch and the driver hash-compares it. BpeSpec still carries
  * the route-equality evidence (distributed == driver, first merge ==
  * the independently-counted hottest pair, segmentation == a plain
  * Scala reference, the token-count envelope).
  */
object BpeTokenizer {

  /** Merge count K the queries learn (t30, t31, t39, t54, s41), and the
    * word-type count up to which [[learn]] runs driver-side. */
  private[graft] val Merges = 40
  private val DriverThreshold = 100000L

  /** Word chars as array<string> ("abc" → [a, b, c]). */
  private def charsCol(c: Column): Column =
    filter(split(c, ""), x => x =!= "")

  /** One merge rule applied greedily left-to-right as a fold: append each
    * symbol, collapsing it into the accumulator's last element when that
    * element is `l` and the symbol is `r`. Equivalent to the two-pointer
    * greedy scan (BpeSpec checks this against the Scala reference),
    * because a fresh merge result `l+r` can only chain when it itself
    * equals `l` — exactly the overlapping-run semantics of BPE. */
  private def mergeCol(syms: Column, l: String, r: String): Column =
    aggregate(syms, array().cast("array<string>"), (acc, x) =>
      when(size(acc) === 0, array(x))
        .when(element_at(acc, -1) === lit(l) && x === lit(r),
          concat(slice(acc, lit(1), size(acc) - 1), array(lit(l + r))))
        .otherwise(concat(acc, array(x))))

  /** Reference/driver implementation of one greedy merge pass. */
  private[graft] def applyMergeSeq(sym: Array[String], l: String, r: String): Array[String] = {
    val out = new ArrayBuffer[String](sym.length)
    var i = 0
    while (i < sym.length) {
      if (i + 1 < sym.length && sym(i) == l && sym(i + 1) == r) { out += (l + r); i += 2 }
      else { out += sym(i); i += 1 }
    }
    out.toArray
  }

  /** Driver-side merge loop over a collected census — the identical
    * algorithm as the distributed route (same ranking, same greedy
    * application); returns the merge table and the final per-word
    * segmentation. */
  private[graft] def learnDriver(words: Seq[(String, Long)], k: Int)
      : (Seq[(Int, String, String, Long)], Seq[(String, Int)]) = {
    var tab: Array[(Array[String], Long)] =
      words.map { case (w, f) => (w.map(_.toString).toArray, f) }.toArray
    val merges = new ArrayBuffer[(Int, String, String, Long)]
    var rank = 1
    var done = false
    while (rank <= k && !done) {
      val counts = scala.collection.mutable.HashMap.empty[(String, String), Long]
      tab.foreach { case (sym, f) =>
        var i = 0
        while (i + 1 < sym.length) {
          val p = (sym(i), sym(i + 1))
          counts(p) = counts.getOrElse(p, 0L) + f
          i += 1
        }
      }
      val best = counts.toSeq
        .sortBy { case ((l, r), n) => (-n, l, r) }.headOption
      best match {
        case Some(((l, r), n)) if n >= 2 =>
          merges += ((rank, l, r, n))
          tab = tab.map { case (sym, f) => (applyMergeSeq(sym, l, r), f) }
          rank += 1
        case _ => done = true
      }
    }
    (merges.toSeq,
      words.map(_._1).zip(tab.map(_._1.length)).map { case (w, n) => (w, n) })
  }

  /** Learn K merges from a (word, freq) census. Routes driver-side up to
    * [[DriverThreshold]] types; both routes return the merge table and
    * the final (word, n_tok) segmentation table. */
  private[graft] def learn(s: SparkSession, census: DataFrame, k: Int)
      : (Seq[(Int, String, String, Long)], DataFrame) = {
    import s.implicits._
    val cached = Dedup.reuse(census)
    if (cached.count() <= DriverThreshold) {
      val rows = cached.select(col("word"), col("freq"))
        .as[(String, Long)].collect().sortBy(_._1).toSeq
      val (merges, segs) = learnDriver(rows, k)
      (merges, segs.toDF("word", "n_tok"))
    } else learnDistributed(cached, k)
  }

  /** The distributed merge loop over a (word, freq) census: one pair
    * census + argmax job per merge, lineage truncated every 8 merges. */
  private[graft] def learnDistributed(census: DataFrame, k: Int)
      : (Seq[(Int, String, String, Long)], DataFrame) = {
    var syms = census
      .select(col("word"), col("freq"), charsCol(col("word")).as("syms"))
      .persist()
    syms.count()
    val merges = new ArrayBuffer[(Int, String, String, Long)]
    var rank = 1
    var done = false
    while (rank <= k && !done) {
      val top = syms.filter(size(col("syms")) >= 2)
        .select(col("freq"), explode(expr(
          "transform(sequence(1, size(syms) - 1), i -> struct(syms[i-1] AS l, syms[i] AS r))"))
          .as("p"))
        .groupBy(col("p.l").as("l"), col("p.r").as("r"))
        .agg(sum(col("freq")).as("n"))
        .orderBy(col("n").desc, col("l"), col("r"))
        .limit(1).collect()
      if (top.isEmpty || top(0).getLong(2) < 2) done = true
      else {
        val (l, r, n) = (top(0).getString(0), top(0).getString(1), top(0).getLong(2))
        merges += ((rank, l, r, n))
        val nextRaw = syms.withColumn("syms", mergeCol(col("syms"), l, r))
        val next =
          if (rank % 8 == 0) nextRaw.localCheckpoint(true)
          else { val p = nextRaw.persist(); p.count(); p }
        syms.unpersist()
        syms = next
        rank += 1
      }
    }
    (merges.toSeq, syms.select(col("word"), size(col("syms")).as("n_tok")))
  }

  private[graft] def wordCensus(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .select(explode(TextAnalysis.tokens(col("text"), "whitespace")).as("word"))
      .filter(length(col("word")) > 0)
      .groupBy("word").agg(count(lit(1)).as("freq"))

  /** t30: the learned merge table — rank, the merged pair, the merged
    * symbol, and the weighted pair count that won the rank. Oracle:
    * DYNAMIC-rendered but corpus-independent — DuckDB RE-LEARNS the
    * merge table from scratch via [[TokenizerOracles.t30Sql]]'s unrolled
    * k-step train loop (pair census → tie-broken argmax → greedy
    * replace per rank), so the training itself is cross-engine
    * hash-checked, not just the application. */
  private val t30 = Q.dynamic("t30_bpe_merges") { (s, d) =>
    import s.implicits._
    val (merges, _) = learn(s, wordCensus(s, d), Merges)
    merges.toDF("rank", "left", "right", "n_pairs")
      .select(col("rank"), col("left"), col("right"),
        concat(col("left"), col("right")).as("merged"), col("n_pairs"))
      .orderBy("rank")
  } { (_, _) => TokenizerOracles.t30Sql(Merges) }

  /** t31's body: the corpus segmented with `k` learned merges — per-doc
    * BPE token count next to the word count, the compression a tokenizer
    * report needs. The stream is never re-tokenized: the per-doc word
    * census joins the type-level segmentation, hot words broadcast. */
  private[graft] def segmentDocs(s: SparkSession, d: String, k: Int): DataFrame = {
    val census = Dedup.reuse(wordCensus(s, d))
    val (_, seg) = learn(s, census, k)
    val segDf = Dedup.reuse(seg)
    val docWords = Tables.documents(s, d)
      .select(col("doc_id"), explode(TextAnalysis.tokens(col("text"), "whitespace")).as("word"))
      .filter(length(col("word")) > 0)
      .groupBy("doc_id", "word").agg(count(lit(1)).as("cnt"))
    // hot/tail: the 32 hottest word types ride an explicit broadcast
    val hot = census.orderBy(col("freq").desc, col("word")).limit(32)
      .join(segDf, "word").select(col("word"), col("n_tok").as("hot_n"))
    val tagged = docWords.join(broadcast(hot), Seq("word"), "left")
    val scored = tagged.filter(col("hot_n").isNotNull)
      .select(col("doc_id"), col("cnt"), col("hot_n").as("n_tok"))
      .unionByName(tagged.filter(col("hot_n").isNull)
        .select(col("doc_id"), col("word"), col("cnt"))
        .join(segDf, "word")
        .select(col("doc_id"), col("cnt"), col("n_tok")))
    scored.groupBy("doc_id")
      .agg(sum(col("cnt")).as("n_words"),
        sum(col("cnt") * col("n_tok")).as("n_bpe_tokens"))
      .orderBy("doc_id")
  }

  /** t31: [[segmentDocs]] at [[Merges]]. Oracle: DYNAMIC — the learned
    * merge table renders into DuckDB SQL ([[TokenizerOracles.t31Sql]])
    * and DuckDB re-segments the corpus independently, hash-checking the
    * whole application path. */
  private val t31 = Q.dynamic("t31_bpe_segment") { (s, d) =>
    segmentDocs(s, d, Merges)
  } { (s, d) =>
    val (merges, _) = learn(s, wordCensus(s, d), Merges)
    TokenizerOracles.t31Sql(merges)
  }

  /** Segment arbitrary word TYPES under an already-learned merge table —
    * the APPLICATION path an arriving batch takes against the STORED
    * tokenizer (training touches only the base census; serving a new
    * batch must not re-train). The merge chain is checkpointed every 10
    * rules to bound expression depth; the fold semantics is the proven
    * t31 machinery ([[mergeCol]], BpeSpec-checked against the Scala
    * reference). */
  private[graft] def segmentTypes(types: DataFrame,
      merges: Seq[(Int, String, String, Long)]): DataFrame = {
    var df = types.select(col("word"), charsCol(col("word")).as("syms"))
    merges.grouped(10).foreach { grp =>
      grp.foreach { case (_, l, r, _) =>
        df = df.withColumn("syms", mergeCol(col("syms"), l, r))
      }
      df = df.localCheckpoint(true)
    }
    df.select(col("word"), size(col("syms")).cast("long").as("n_tok"))
  }

  /** t54 — TOKENIZER DRIFT CENSUS: the d61 signal pattern on the
    * tokenizer surface, completing the drift-trigger family (vectors
    * d61, layout d65, reclamation d67). A stored merge table is
    * training-corpus state: as the ingest distribution drifts, merges
    * stop firing and fertility (tokens emitted per character) climbs —
    * the cost signal that schedules a tokenizer re-train (itself t30's
    * training, a REBUILD by design, like centroid re-training). The
    * census segments the BASE census and an ARRIVING batch under the
    * SAME stored merges (one shared type table, one application pass)
    * and compares integer-micro fertilities; the drift gate (≥ 30000
    * micros) is pinned in the oracle, so the re-train decision is
    * hash-checked. The batch is a PLANTED distribution shift (reversed
    * words — deterministic, oracle-expressible, and guaranteed to
    * starve left-to-right learned merges), the d62/s37 planting
    * discipline.
    *
    * Oracle: DYNAMIC — the learned merge table renders into the t31
    * recursive-apply SQL and DuckDB independently re-segments BOTH
    * populations, recomputes both fertilities, and re-decides the gate. */
  private val t54 = Q.dynamic("t54_tokenizer_drift_census") { (s, d) =>
    val docs = Tables.documents(s, d)
    val baseCen = Dedup.reuse(docs.filter(col("doc_id") % 5 =!= 3)
      .select(explode(TextAnalysis.tokens(col("text"), "whitespace")).as("word"))
      .filter(length(col("word")) > 0)
      .groupBy("word").agg(count(lit(1)).as("cnt")))
    val batchCen = Dedup.reuse(docs.filter(col("doc_id") % 5 === 3)
      .select(explode(TextAnalysis.tokens(col("text"), "whitespace")).as("w0"))
      .filter(length(col("w0")) > 0)
      .select(reverse(col("w0")).as("word"))
      .groupBy("word").agg(count(lit(1)).as("cnt")))
    // the stored tokenizer: merges learned on the BASE census only
    val (merges, _) = learn(s,
      baseCen.select(col("word"), col("cnt").as("freq")), Merges)
    // ONE application pass over the union of type tables serves both
    // fertility censuses
    val segAll = Dedup.reuse(segmentTypes(
      baseCen.select("word").union(batchCen.select("word")).distinct(), merges))
    def wide(cen: DataFrame, p: String): DataFrame =
      cen.join(segAll, "word")
        .agg(sum(col("cnt")).as(s"${p}_words"),
          sum(col("cnt") * length(col("word"))).as(s"${p}_chars"),
          sum(col("cnt") * col("n_tok")).as(s"${p}_tokens"))
    val tpc = (tok: String, ch: String) =>
      round(lit(1000000.0) * col(tok) / col(ch)).cast("long")
    wide(baseCen, "base").crossJoin(wide(batchCen, "batch"))
      .select(col("base_words"), col("base_chars"), col("base_tokens"),
        col("batch_words"), col("batch_chars"), col("batch_tokens"),
        tpc("base_tokens", "base_chars").as("base_tpc_micro"),
        tpc("batch_tokens", "batch_chars").as("batch_tpc_micro"),
        (tpc("batch_tokens", "batch_chars") - tpc("base_tokens", "base_chars"))
          .as("drift_micro"),
        (tpc("batch_tokens", "batch_chars") - tpc("base_tokens", "base_chars")
          >= 30000L).as("acted"))
      .orderBy("base_words")
  } { (s, d) =>
    val baseCen = Tables.documents(s, d).filter(col("doc_id") % 5 =!= 3)
      .select(explode(TextAnalysis.tokens(col("text"), "whitespace")).as("word"))
      .filter(length(col("word")) > 0)
      .groupBy("word").agg(count(lit(1)).as("freq"))
    TokenizerOracles.t54Sql(learn(s, baseCen, Merges)._1, gateMicro = 30000L)
  }

  val defs: Seq[Q] = Seq(t30, t31, t54)
}
