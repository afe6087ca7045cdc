package graft.ops

import scala.collection.mutable

import graft.{Q, Tables}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Unigram-LM tokenizer TRAINING at corpus scale (Kudo 2018, "Subword
  * Regularization") — the SentencePiece algorithm, and the BPE (t30/t31)
  * counterpart: instead of greedy merges, keep a piece VOCABULARY with a
  * probability per piece and segment each word with Viterbi under
  * -log p costs; train by hard-EM (Viterbi E-step, count-renormalize
  * M-step).
  *
  * Scale shape — identical discipline to BPE:
  *  - The corpus is touched ONCE by the word-type census; seeding and
  *    every EM iteration run on TYPES. Cost O(vocab × L · iters),
  *    corpus-size-independent.
  *  - Seeding: explode every ≤4-char substring of every word type
  *    weighted by freq (a types-table explode, not a stream explode),
  *    one hash agg, TakeOrdered(M) — plus ALL single chars for closure.
  *  - Each E-step is one job: the piece-cost table (≤ M + alphabet
  *    entries — kilobytes) is BROADCAST, each word type runs integer
  *    Viterbi map-side, and only the (piece, count) table — vocab-sized
  *    — comes back to the driver for the M-step renormalize.
  *  - Up to [[DriverThreshold]] word types the identical loop runs
  *    driver-side (d34/t30's discipline); UnigramSpec pins the two
  *    routes bit-identical.
  *
  * Determinism contract: costs are INTEGER micro-nats
  * (round(-ln p · 10⁶)) with Laplace-smoothed probs of exact integer
  * counts, so DP sums are exact; Viterbi ties break toward the LONGEST
  * last piece (smallest split point), a total rule; seed ranking is
  * (score desc, piece asc). The result is a pure function of the corpus,
  * independent of partitioning. The EM LOOP unrolls into the t36 dynamic
  * oracle ([[TokenizerOracles.t36Sql]]: DuckDB re-learns the piece table
  * via chained seed→cost→Viterbi→renormalize CTEs, t30's discipline),
  * with UnigramSpec still carrying route equality, a from-scratch driver
  * recount of the E-step counts, the pieces-concatenate-to-word
  * invariant, and the n_words ≤ n_tokens ≤ n_chars envelope;
  * APPLICATION (t37/t39) has a dynamic oracle — the
  * learned piece table renders into DuckDB SQL whose recursive-CTE
  * Viterbi ([[TokenizerOracles]]) re-segments the corpus independently,
  * hash-checked by the driver.
  */
object UnigramTokenizer {

  private val MaxPieceLen = 4

  /** Seed vocabulary size M (multi-char pieces, plus every char), the
    * hard-EM iteration count, and the word-type count up to which
    * [[learn]] runs driver-side. */
  private val Pieces = 200
  private val Iters = 2
  private val DriverThreshold = 100000L

  /** Viterbi segmentation of one word under integer micro-nat piece
    * costs. Ties break toward the longest last piece. Total: every
    * single char is guaranteed in `cost`, so every word segments. */
  private[graft] def viterbi(word: String, cost: collection.Map[String, Long]): Seq[String] = {
    val n = word.length
    if (n == 0) return Nil
    val best = Array.fill(n + 1)(Long.MaxValue)
    val back = Array.fill(n + 1)(-1)
    best(0) = 0L
    var i = 1
    while (i <= n) {
      var j = math.max(0, i - MaxPieceLen)
      // ascending j: the FIRST improving candidate has the longest piece;
      // strict < keeps it on ties
      while (j < i) {
        if (best(j) != Long.MaxValue) {
          cost.get(word.substring(j, i)) match {
            case Some(c) if best(j) + c < best(i) =>
              best(i) = best(j) + c; back(i) = j
            case _ => ()
          }
        }
        j += 1
      }
      i += 1
    }
    require(back(n) >= 0, s"unsegmentable word '$word' — char closure broken")
    val out = mutable.ArrayBuffer.empty[String]
    var k = n
    while (k > 0) { out += word.substring(back(k), k); k = back(k) }
    out.reverse.toSeq
  }

  /** Laplace-smoothed integer micro-nat costs from raw piece counts:
    * cost = round(-ln((c + 1) / (total + |vocab|)) · 10⁶). Pure integer
    * inputs → identical on driver and executors. */
  private[graft] def costsFromCounts(counts: collection.Map[String, Long]): Map[String, Long] = {
    val total = counts.valuesIterator.sum.toDouble + counts.size
    counts.iterator.map { case (p, c) =>
      p -> math.round(-math.log((c + 1).toDouble / total) * 1e6)
    }.toMap
  }

  /** Seed piece counts driver-side from a (word, freq) census: every
    * substring of length 1..MaxPieceLen, occurrence-weighted. */
  private[graft] def seedDriver(words: Seq[(String, Long)], m: Int): Map[String, Long] = {
    val acc = mutable.HashMap.empty[String, Long]
    words.foreach { case (w, f) =>
      var i = 0
      while (i < w.length) {
        var l = 1
        while (l <= MaxPieceLen && i + l <= w.length) {
          val p = w.substring(i, i + l)
          acc(p) = acc.getOrElse(p, 0L) + f
          l += 1
        }
        i += 1
      }
    }
    pickSeed(acc, m)
  }

  /** Top-m multi-char pieces by (score desc, piece asc) + every single
    * char (closure); identical rule on both routes. */
  private[graft] def pickSeed(scores: collection.Map[String, Long], m: Int): Map[String, Long] = {
    val chars = scores.filter(_._1.length == 1)
    val multi = scores.iterator.filter(_._1.length > 1).toSeq
      .sortBy { case (p, c) => (-c, p) }.take(m)
    (chars ++ multi).toMap
  }

  /** One hard-EM E-step driver-side: Viterbi counts over the census. */
  private[graft] def countsDriver(words: Seq[(String, Long)],
      cost: collection.Map[String, Long]): Map[String, Long] = {
    val acc = mutable.HashMap.empty[String, Long]
    words.foreach { case (w, f) =>
      viterbi(w, cost).foreach(p => acc(p) = acc.getOrElse(p, 0L) + f)
    }
    acc.toMap
  }

  /** Train: returns the final (piece, count, cost_micro) table and the
    * per-word-type segmentation (word, n_tok). Routes driver-side up to
    * [[DriverThreshold]] types; the distributed route broadcasts the
    * cost map and collects only vocab-sized count tables. */
  private[graft] def learn(s: SparkSession, census: DataFrame)
      : (Seq[(String, Long, Long)], DataFrame) = {
    import s.implicits._
    val cached = Dedup.reuse(census)
    if (cached.count() <= DriverThreshold) {
      val rows = cached.select(col("word"), col("freq"))
        .as[(String, Long)].collect().sortBy(_._1).toSeq
      val (table, segs) = learnDriver(rows)
      (table, segs.toDF("word", "n_tok"))
    } else learnDistributed(s, cached)
  }

  /** Prune-then-renormalize M-step: pieces the Viterbi never used drop
    * out (chars always survive via Laplace + the closure requirement). */
  private def prune(counts: Map[String, Long], used: Map[String, Long]): Map[String, Long] =
    counts.keysIterator
      .filter(p => p.length == 1 || used.getOrElse(p, 0L) > 0L)
      .map(p => p -> used.getOrElse(p, 0L)).toMap

  /** The final (piece, count, cost_micro) table, ranked (count desc, piece). */
  private def pieceTable(counts: Map[String, Long], fin: Map[String, Long])
      : Seq[(String, Long, Long)] =
    counts.toSeq.map { case (p, c) => (p, c, fin(p)) }
      .sortBy { case (p, c, _) => (-c, p) }

  /** The hard-EM loop driver-side over a collected census. */
  private[graft] def learnDriver(rows: Seq[(String, Long)])
      : (Seq[(String, Long, Long)], Seq[(String, Long)]) = {
    var counts = seedDriver(rows, Pieces)
    var cost = costsFromCounts(counts)
    var it = 0
    while (it < Iters) {
      counts = prune(counts, countsDriver(rows, cost))
      cost = costsFromCounts(counts)
      it += 1
    }
    val fin = cost
    (pieceTable(counts, fin),
      rows.map { case (w, _) => (w, viterbi(w, fin).length.toLong) })
  }

  /** The distributed hard-EM loop over a (word, freq) census. */
  private[graft] def learnDistributed(s: SparkSession, census: DataFrame)
      : (Seq[(String, Long, Long)], DataFrame) = {
    import s.implicits._
    val words = census.select(col("word"), col("freq")).as[(String, Long)]
    // distributed seed: types-table substring explode + hash agg;
    // TakeOrdered(Pieces) on (score desc, piece) + the full char set
    val subCounts = words.flatMap { case (w, f) =>
      for {
        i <- 0 until w.length
        l <- 1 to math.min(MaxPieceLen, w.length - i)
      } yield (w.substring(i, i + l), f)
    }.toDF("piece", "f").groupBy("piece").agg(sum(col("f")).as("c"))
    val multi = subCounts.filter(length(col("piece")) > 1)
      .orderBy(col("c").desc, col("piece")).limit(Pieces)
      .as[(String, Long)].collect()
    val chars = subCounts.filter(length(col("piece")) === 1)
      .as[(String, Long)].collect()
    var counts: Map[String, Long] = (chars ++ multi).toMap
    var cost = costsFromCounts(counts)
    var it = 0
    while (it < Iters) {
      val bc = s.sparkContext.broadcast(cost)
      val used = words.flatMap { case (w, f) =>
        viterbi(w, bc.value).map(p => (p, f)) }
        .toDF("piece", "f").groupBy("piece").agg(sum(col("f")).as("c"))
        .as[(String, Long)].collect().toMap
      bc.destroy()
      counts = prune(counts, used)
      cost = costsFromCounts(counts)
      it += 1
    }
    val fin = cost
    val bcFin = s.sparkContext.broadcast(fin)
    val segs = words.map { case (w, _) => (w, viterbi(w, bcFin.value).length.toLong) }
      .toDF("word", "n_tok")
    (pieceTable(counts, fin), segs)
  }

  private[graft] def wordCensus(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .select(explode(TextAnalysis.tokens(col("text"), "whitespace")).as("word"))
      .filter(length(col("word")) > 0)
      .groupBy("word").agg(count(lit(1)).as("freq"))

  /** t36: the learned piece table — rank by final count, the piece, its
    * Viterbi-EM count, and its integer micro-nat cost. Oracle: DYNAMIC —
    * like t30, DuckDB RE-LEARNS the table from scratch
    * ([[TokenizerOracles.t36Sql]] unrolls the fixed-`iters` hard-EM loop
    * into chained seed→cost→Viterbi→renormalize CTEs), so training is now
    * hash-checked cross-engine end-to-end, not just spec-verified. */
  private val t36 = Q.dynamic("t36_unigram_pieces") { (s, d) =>
    import s.implicits._
    val (table, _) = learn(s, wordCensus(s, d))
    table.zipWithIndex
      .map { case ((p, c, q), i) => (i + 1L, p, c, q) }
      .toDF("rank", "piece", "n_uses", "cost_micro")
      .orderBy("rank")
  } { (_, _) => TokenizerOracles.t36Sql(Pieces, Iters) }

  /** t37: the corpus segmented under the learned pieces — per-doc word
    * and unigram-token counts (t31's join shape: the stream is never
    * re-tokenized; the per-doc word census joins the type-level
    * segmentation, hot words broadcast). Oracle: DYNAMIC — the learned
    * piece table renders into DuckDB SQL ([[TokenizerOracles.t37Sql]])
    * whose recursive-CTE Viterbi re-segments the corpus independently. */
  private val t37 = Q.dynamic("t37_unigram_segment") { (s, d) =>
    val census = Dedup.reuse(wordCensus(s, d))
    val (_, seg) = learn(s, census)
    val segDf = Dedup.reuse(seg)
    val docWords = Tables.documents(s, d)
      .select(col("doc_id"), explode(TextAnalysis.tokens(col("text"), "whitespace")).as("word"))
      .filter(length(col("word")) > 0)
      .groupBy("doc_id", "word").agg(count(lit(1)).as("cnt"))
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
        sum(col("cnt") * col("n_tok")).as("n_unigram_tokens"))
      .orderBy("doc_id")
  } { (s, d) =>
    val (table, _) = learn(s, wordCensus(s, d))
    TokenizerOracles.t37Sql(table)
  }

  /** t39: tokenizer fertility comparison — the report a tokenizer bake-off
    * produces: per source, words vs BPE tokens (t30's merges) vs
    * unigram-LM tokens (t36's pieces), and the two fertility ratios
    * (tokens per word — the number that prices a tokenizer against a
    * training budget). Both tokenizers train on the SAME word census
    * (one corpus pass); their type-level segmentations merge into ONE
    * table, so the doc stream pays a single join for both columns —
    * composition the separate t31/t37 queries can't show. Oracle:
    * DYNAMIC — BOTH learned tables render into one DuckDB SQL
    * ([[TokenizerOracles.t39Sql]]); the spec additionally pins the
    * totals to the sums of t31/t37's own outputs. */
  private val t39 = Q.dynamic("t39_tokenizer_fertility") { (s, d) =>
    val census = Dedup.reuse(wordCensus(s, d))
    val (_, segB) = BpeTokenizer.learn(s, census, BpeTokenizer.Merges)
    val (_, segU) = learn(s, census)
    val seg = Dedup.reuse(segB.select(col("word"), col("n_tok").as("bpe_n"))
      .join(segU.select(col("word"), col("n_tok").as("uni_n")), "word"))
    val docWords = Tables.documents(s, d)
      .select(col("source"), explode(TextAnalysis.tokens(col("text"), "whitespace")).as("word"))
      .filter(length(col("word")) > 0)
      .groupBy("source", "word").agg(count(lit(1)).as("cnt"))
    docWords.join(seg, "word")
      .groupBy("source")
      .agg(sum(col("cnt")).as("n_words"),
        sum(col("cnt") * col("bpe_n")).as("n_bpe_tokens"),
        sum(col("cnt") * col("uni_n")).as("n_unigram_tokens"))
      .select(col("source"), col("n_words"), col("n_bpe_tokens"),
        col("n_unigram_tokens"),
        round(col("n_bpe_tokens") * lit(1.0) / col("n_words"), 4).as("fert_bpe"),
        round(col("n_unigram_tokens") * lit(1.0) / col("n_words"), 4).as("fert_uni"))
      .orderBy("source")
  } { (s, d) =>
    val census = Dedup.reuse(wordCensus(s, d))
    val (merges, _) = BpeTokenizer.learn(s, census, BpeTokenizer.Merges)
    val (table, _) = learn(s, census)
    TokenizerOracles.t39Sql(merges, table)
  }

  val defs: Seq[Q] = Seq(t36, t37, t39)
}
