package graft

import graft.ops.Similarity
import org.apache.spark.sql.classic.ClassicConversions.castToImpl
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeExec, ShuffleExchangeExec}
import org.apache.spark.sql.functions._

/** Round-6 extension operators: plan/scale contracts for the chunking,
  * sampling, BM25, k-means, SCD2, and stream-outer-join additions.
  */
class ExtensionOpsSpec extends SparkTestBase {
  import spark.implicits._

  private def plan(df: org.apache.spark.sql.DataFrame): String =
    castToImpl(df).queryExecution.executedPlan.toString

  /** Every node of an executed plan, descending through AQE wrappers and
    * materialized query stages (collect() alone stops at both). */
  private def allNodes(p: org.apache.spark.sql.execution.SparkPlan): Seq[org.apache.spark.sql.execution.SparkPlan] =
    p +: (p.children ++ (p match {
      case ad: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        Seq(ad.executedPlan)
      case q: org.apache.spark.sql.execution.adaptive.QueryStageExec => Seq(q.plan)
      case _ => Nil
    })).flatMap(allNodes)

  /** Shuffle exchanges of the EXECUTED plan (materializes the df). */
  private def shuffles(df: org.apache.spark.sql.DataFrame): Seq[ShuffleExchangeExec] = {
    df.collect()
    allNodes(castToImpl(df).queryExecution.executedPlan).collect {
      case e: ShuffleExchangeExec => e
    }
  }

  test("t15 chunking: the chunk stream is generated map-side — the only " +
    "exchange is the presentation sort's range partitioning") {
    val ex = shuffles(SparkEntry.queries("t15_chunking")(spark, sf0001))
    assert(ex.nonEmpty, "expected the final sort exchange")
    assert(ex.forall(_.outputPartitioning.toString.contains("range")),
      s"chunking introduced a non-sort shuffle:\n${ex.map(_.outputPartitioning)}")
  }

  test("t16 hash sampler: corpus selection is a broadcast-join filter — " +
    "the document stream itself never hash-shuffles") {
    val df = SparkEntry.queries("t16_hash_sample")(spark, sf0001)
    val p = plan(df)
    assert(p.contains("BroadcastHashJoin"),
      s"threshold table should reach the corpus as a broadcast:\n$p")
    assert(!p.contains("SortMergeJoin"), s"sampler must not sort-merge:\n$p")
    // every hash exchange sits on aggregated source-keyed rows (≤ #sources
    // per partition after map-side combine), never on per-doc rows: the
    // exchanged schema must be narrow (no text column)
    assert(shuffles(df).forall(e => !e.child.schema.fieldNames.contains("text")),
      "a shuffle carries the document text")
  }

  test("t17 bm25: query terms prune map-side at the scan and the ranking " +
    "rides the heap top-k operator") {
    val df = SparkEntry.queries("t17_bm25")(spark, sf0001)
    val p = plan(df)
    assert(p.contains("TopKPerGroup"),
      s"bm25 ranking should use the heap top-k operator:\n$p")
    assert(p.contains("BroadcastHashJoin"), s"qt/df joins should broadcast:\n$p")
    // the literal IN-filter kills non-query tokens before any exchange:
    // no shuffle may carry the raw text column
    assert(shuffles(df).forall(e => !e.child.schema.fieldNames.contains("text")),
      "a shuffle carries the document text")
  }

  test("d24 lloyd assignment is a pure map-side expression: no exchange, " +
    "no join, and it agrees with the brute-force argmin") {
    val e = spark.range(50)
      .select($"id".as("vec_id"),
        transform(sequence(lit(0), lit(7)),
          i => pmod($"id" * 31 + i * 17, lit(1000)).cast("long")).as("v"))
      .withColumn("n2", Similarity.norm2Q($"v"))
    val cents = Array(
      (0L, Array.tabulate(8)(i => (i * 100 + 3).toLong)),
      (1L, Array.tabulate(8)(i => (800 - i * 90).toLong)))
    val a = Similarity.lloydAssign(e, cents)
    val p = plan(a)
    assert(!p.contains("Exchange") && !p.contains("Join"),
      s"assignment must be map-only:\n$p")
    // agreement with a driver-side brute force on the same integers
    val got = a.select($"vec_id", $"cell", $"dist2").as[(Long, Long, Long)]
      .collect().map(r => r._1 -> (r._2, r._3)).toMap
    val vecs = e.select($"vec_id", $"v").as[(Long, Seq[Long])].collect()
    vecs.foreach { case (id, v) =>
      val want = cents.map { case (cid, cv) =>
        val d2 = v.zip(cv).map { case (a, b) => (a - b) * (a - b) }.sum
        (d2, cid)
      }.min
      assert(got(id) == ((want._2, want._1)), s"vec $id: got ${got(id)}, want $want")
    }
  }

  test("d24 centroid update: the corpus-sized exchange carries only " +
    "(cell, pos, partial sums) — map-side combined, no vector arrays") {
    val e = spark.range(200)
      .select($"id".as("vec_id"),
        transform(sequence(lit(0), lit(7)),
          i => pmod($"id" * 13 + i * 7, lit(500)).cast("long")).as("v"))
      .withColumn("n2", Similarity.norm2Q($"v"))
    val cents = Array(
      (0L, Array.tabulate(8)(_.toLong)),
      (1L, Array.tabulate(8)(i => (499 - i).toLong)))
    val upd = Similarity.centroidUpdateDF(Similarity.lloydAssign(e, cents))
    val ex = shuffles(upd)
    assert(ex.nonEmpty)
    // the wide (per-element) exchange must be keyed on (cell, pos) with a
    // partial aggregate below it — k×dim rows per map partition, and no
    // array column crossing corpus-sized
    val wide = ex.filter(_.outputPartitioning.numPartitions > 0)
      .filter(e => !e.child.schema.fields.exists(_.dataType.typeName == "array"))
    assert(wide.nonEmpty, "no narrow (cell,pos) exchange found")
    assert(wide.exists(_.child.toString.contains("HashAggregate")),
      s"per-(cell,pos) sums must partial-aggregate before the exchange:\n${wide.map(_.child)}")
    // any exchange that does carry an array is the k-row centroid
    // reassembly keyed on cell alone — bounded by k, never corpus-sized
    ex.filter(_.child.schema.fields.exists(_.dataType.typeName == "array"))
      .foreach { e =>
        assert(e.outputPartitioning.toString.contains("cell"),
          s"array-bearing exchange not keyed on cell:\n$e")
      }
  }

  test("d26 PQ funnel: query LUTs broadcast, ranking rides the heap " +
    "top-k, and no corpus vector/code array ever crosses a shuffle") {
    val df = SparkEntry.queries("d26_pq_recall")(spark, sf0001)
    val p = plan(df)
    assert(p.contains("TopKPerGroup"),
      s"ADC ranking should use the heap top-k operator:\n$p")
    val ex = shuffles(df)
    assert(ex.nonEmpty)
    val banned = Set("v", "codes", "lut", "qv", "cv", "embedding")
    ex.foreach { e =>
      val wide = e.child.schema.fieldNames.filter(banned)
      assert(wide.isEmpty,
        s"shuffle carries corpus-sized array columns ${wide.mkString(",")}:\n$e")
    }
  }

  test("long_l2 fused distance: same integers as the HOF composition, " +
    "NULL on length mismatch") {
    val df = spark.range(200).select(
      transform(sequence(lit(0), lit(15)),
        i => (pmod($"id" * 7 + i * 13, lit(2000)) - 1000).cast("long")).as("a"),
      transform(sequence(lit(0), lit(15)),
        i => (pmod($"id" * 11 + i * 5, lit(2000)) - 1000).cast("long")).as("b"))
    val diverged = df.select(expr("long_l2(a, b)").as("x"),
      expr("aggregate(zip_with(a, b, (p, q) -> (p - q) * (p - q)), 0L, (acc, v) -> acc + v)").as("y"))
      .filter($"x" =!= $"y").count()
    assert(diverged == 0)
    assert(spark.sql("SELECT long_l2(array(1L,2L), array(1L)) AS v")
      .collect().head.isNullAt(0))
  }

  test("d24/d25 invariants at sf0.001: clusters partition the corpus and " +
    "every representative belongs to its cluster") {
    val km = SparkEntry.queries("d24_kmeans")(spark, sf0001).collect()
    assert(km.map(_.getLong(1)).sum == 500, "clusters must partition all vectors")
    assert(km.length == 8)
    val reps = SparkEntry.queries("d25_cluster_reps")(spark, sf0001).collect()
    assert(reps.length == 8)
    reps.foreach { r =>
      val cos = r.getDouble(3)
      assert(cos > 0.0 && cos <= 1.0, s"rep cosine out of range: $cos")
    }
    // n_vecs agrees between the two surfaces
    val kmN = km.map(r => r.getLong(0) -> r.getLong(1)).toMap
    reps.foreach(r => assert(kmN(r.getLong(0)) == r.getLong(2)))
  }

  test("q69 SCD2 invariants: per customer, intervals chain exactly and " +
    "exactly one row is current") {
    val rows = SparkEntry.queries("q69_scd2_history")(spark, sf0001)
      .select($"custkey", $"valid_from", $"valid_to", $"is_current")
      .as[(Long, String, String, Boolean)].collect()
    rows.groupBy(_._1).foreach { case (ck, rs) =>
      val current = rs.filter(_._4)
      assert(current.length == 1, s"customer $ck: not exactly one current row")
      assert(current.head._3 == "9999-12-31")
      // permutation-proof chaining: every closing date is some other
      // interval's opening date — the closed valid_tos are exactly the
      // valid_froms minus one instance of the earliest (ties on
      // valid_from make a positional sliding check ill-defined)
      val closedTos = rs.filter(!_._4).map(_._3).sorted.toSeq
      val froms = rs.map(_._2).sorted.toSeq
      assert(closedTos == froms.tail,
        s"customer $ck: interval chain broken\n tos=$closedTos\n froms=$froms")
    }
  }

  test("m05 media near-dup: payloads and hex/shingle columns never " +
    "shuffle — only ids, signatures, and band bits cross the wire") {
    val df = SparkEntry.queries("m05_media_near_dup")(spark, sf0001)
    val banned = Set("payload", "h", "md5s", "text")
    shuffles(df).foreach { e =>
      val wide = e.child.schema.fieldNames.filter(banned)
      assert(wide.isEmpty,
        s"shuffle carries payload-sized columns ${wide.mkString(",")}:\n$e")
    }
  }

  test("t18 boilerplate removal: the boiler set reaches the corpus as a " +
    "broadcast and no shuffle carries text or token arrays") {
    val df = SparkEntry.queries("t18_boilerplate_segments")(spark, sf0001)
    val p = plan(df)
    assert(p.contains("BroadcastHashJoin"),
      s"boiler set should broadcast back to the segment stream:\n$p")
    val banned = Set("text", "ws")
    shuffles(df).foreach { e =>
      val wide = e.child.schema.fieldNames.filter(banned)
      assert(wide.isEmpty,
        s"shuffle carries corpus text columns ${wide.mkString(",")}:\n$e")
    }
  }

  test("s18 semi stream join: qualifying purchases are flagged exactly " +
    "once (counts bounded by the purchase count)") {
    val res = SparkEntry.queries("s18_stream_semi_join")(spark, sf001)
      .select($"user_id", $"n_flagged").as[(Long, Long)].collect()
    assert(res.nonEmpty, "semi join produced nothing at sf0.01")
    assert(res.forall(_._2 > 0))
    val purchases = spark.read.parquet(s"$sf001/events.parquet")
      .where("event_type = 'purchase'").count()
    assert(res.map(_._2).sum <= purchases)
  }

  test("s19 streaming chunk decontamination: the benchmark chunk set " +
    "enters every micro-batch as a broadcast (recorded from the batch plan)") {
    SparkEntry.queries("s19_stream_chunk_decontaminate")(spark, sf0001).collect()
    val bs = graft.streaming.StreamingQueries.s19ProbeBroadcasts
    assert(bs.nonEmpty, "no broadcast exchange recorded in the batch plan")
    assert(bs.exists(_.contains("bh")),
      s"benchmark chunk set not among broadcasts: $bs")
  }

  test("multi-batch replay: the streaming sketch aggregate across 3 real " +
    "micro-batches equals the one-pass batch result (state restore + " +
    "merge-order independence, not just single-batch equivalence)") {
    import org.apache.spark.sql.streaming.{OutputMode, Trigger}
    val dir = graft.Scratch.dir("graft_replay")
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.read.parquet(s"$sf001/events.parquet")
      .select($"event_type", $"user_id", $"props")
      .repartition(3).write.mode("overwrite").parquet(s"$dir/ev")
    val contentMd5 = md5(concat($"user_id".cast("string"), lit("|"), $"props"))
    val hv = array(struct(
      conv(substring(contentMd5, 1, 8), 16, 10).cast("long").as("h1"),
      conv(substring(contentMd5, 9, 8), 16, 10).cast("long").as("h2")))
    def sketch(df: org.apache.spark.sql.DataFrame) =
      df.select($"event_type", hv.as("hv"))
        .groupBy($"event_type")
        .agg(graft.functions.MinHashSketch.minhash_sketch($"hv", 8).as("sk"))
    val truth = sketch(spark.read.parquet(s"$dir/ev"))
      .as[(String, Seq[Long])].collect().toMap
    val src = spark.readStream
      .schema(spark.read.parquet(s"$dir/ev").schema)
      .option("maxFilesPerTrigger", "1")
      .parquet(s"$dir/ev")
    val q = sketch(src).writeStream
      .format("memory").queryName("replay_sketch")
      .outputMode(OutputMode.Complete())
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    val batches = q.recentProgress.count(_.numInputRows > 0)
    assert(batches >= 3, s"expected ≥3 data micro-batches, saw $batches")
    val got = spark.table("replay_sketch")
      .as[(String, Seq[Long])].collect().toMap
    assert(got == truth,
      "streaming sketch across 3 batches diverged from the batch sketch")
  }

  test("s17 left-outer stream join: both match and watermark-closed " +
    "no-match emissions are exercised") {
    // sf0.01: the smallest fixture with purchase→error pairs inside 10min
    val res = SparkEntry.queries("s17_stream_outer_join")(spark, sf001)
      .select($"n_matched", $"n_unmatched").as[(Long, Long)].collect()
    assert(res.map(_._1).sum > 0, "no matched pairs — join never fired")
    assert(res.map(_._2).sum > 0,
      "no unmatched emissions — outer/eviction semantics untested")
  }
}
