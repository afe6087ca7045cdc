package graft

import org.apache.spark.sql.classic.ClassicConversions.castToImpl
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.ArrayType

/** Round-6 third-batch operators: plan/scale and algebra contracts for
  * the mixture/shard planners (t21/t22), the provenance matrix (d31),
  * the kNN graph (d32), the stored IVF index (d33), the full-outer
  * stream join (s20), the CMS aggregate (x13), and the cross-modal
  * alignment filter (m06).
  */
class CorpusOpsSpec extends SparkTestBase {

  private def allNodes(p: org.apache.spark.sql.execution.SparkPlan): Seq[org.apache.spark.sql.execution.SparkPlan] =
    p +: (p.children ++ (p match {
      case ad: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        Seq(ad.executedPlan)
      case q: org.apache.spark.sql.execution.adaptive.QueryStageExec => Seq(q.plan)
      case _ => Nil
    })).flatMap(allNodes)

  private def shuffles(df: org.apache.spark.sql.DataFrame): Seq[ShuffleExchangeExec] = {
    df.collect()
    allNodes(castToImpl(df).queryExecution.executedPlan).collect {
      case e: ShuffleExchangeExec => e
    }
  }

  test("t22 shard pack: the global rank is the distributed prefix sum — " +
    "every data-stream window keys on the partition id, and round-robin " +
    "dealing balances doc counts to within one") {
    val df = SparkEntry.queries("t22_shard_pack")(spark, sf0001)
    df.collect()
    val windows = allNodes(castToImpl(df).queryExecution.executedPlan).collect {
      case w: org.apache.spark.sql.execution.window.WindowExec => w
    }
    assert(windows.nonEmpty, "expected the local-running-sum window")
    // the corpus-sized window must partition on _pid (thousands of small
    // partitions), never run as ONE task over the whole constant group;
    // the offset-table window (≤ partitions × groups rows) is exempt
    val dataWindows = windows.filterNot(_.toString.contains("_ptotal"))
    assert(dataWindows.forall(_.partitionSpec.exists(_.toString.contains("_pid"))),
      s"a full-corpus window is not keyed on the partition id:\n${dataWindows.mkString("\n")}")
    val counts = df.select(col("n_docs")).collect().map(_.getLong(0))
    assert(counts.max - counts.min <= 1,
      s"round-robin dealing must balance doc counts to within 1: ${counts.toSeq}")
  }

  test("d31 provenance matrix: pair counts are symmetric-complete — the " +
    "matrix accounts for every verified pair exactly once, keyed by the " +
    "unordered source pair") {
    val m = SparkEntry.queries("d31_source_overlap")(spark, sf0001).collect()
    // unordered keying: no (b, a) row may coexist with (a, b)
    val keys = m.map(r => (r.getString(0), r.getString(1)))
    assert(keys.forall { case (a, b) => a <= b }, s"unordered keying violated: ${keys.toSeq}")
    assert(keys.distinct.length == keys.length)
    // total pairs equals the verified-pair count from the dedup pipeline
    val docs = Tables.documents(spark, sf0001)
    val (buckets, shingles) = graft.ops.Dedup.lshBucketsAndShingles(
      docs, "doc_id", "text", shingleWords = 3, bands = 4, rowsPerBand = 2)
    val nPairs = graft.ops.Dedup.jaccardVerifiedPairs(
      graft.ops.Dedup.candidatePairs(buckets, materialize = false), shingles, tau = 0.5)
      .count()
    assert(m.map(_.getLong(2)).sum == nPairs,
      s"matrix total ${m.map(_.getLong(2)).sum} != verified pairs $nPairs")
  }

  test("d32 kNN graph: the mutual flag is consistent — every edge marked " +
    "mutual has its reverse edge in the graph, and no unmarked edge does") {
    val edges = SparkEntry.queries("d32_knn_graph")(spark, sf0001)
      .select("vec_id", "nbr_id", "mutual").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2)))
    val edgeSet = edges.map { case (a, b, _) => (a, b) }.toSet
    edges.foreach { case (a, b, mutual) =>
      assert(mutual == edgeSet.contains((b, a)),
        s"edge ($a,$b) mutual=$mutual but reverse-present=${edgeSet.contains((b, a))}")
    }
    // every vector got its full k=3 neighborhood on this fixture
    assert(edges.groupBy(_._1).forall(_._2.length == 3))
  }

  test("d33: the stored IVF index joins straight from its bucketed " +
    "layout — no exchange on the index side even under a forced " +
    "shuffled join") {
    val confs = Seq(
      "spark.sql.adaptive.enabled" -> "false",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1")
    val saved = confs.map { case (k, _) => k -> spark.conf.get(k) }
    try {
      confs.foreach { case (k, v) => spark.conf.set(k, v) }
      // build + register the stored index (the query writes it under a
      // per-run name — discover it from the catalog)
      SparkEntry.queries("d33_stored_ivf_topk")(spark, sf0001).collect()
      val indexTable = spark.catalog.listTables().collect()
        .map(_.name).filter(_.startsWith("graft_ivf_index"))
        .maxBy(identity)
      // probe WITHOUT the broadcast hint: the bucketed layout alone must
      // satisfy the join's distribution on the index side
      val probe = spark.table(indexTable)
        .join(spark.table(indexTable)
          .select(col("cell").as("qcell"), col("cid").as("qid"))
          .filter(col("qid") >= 10 && col("qid") < 15),
          col("cell") === col("qcell"))
      val plan = castToImpl(probe).queryExecution.executedPlan
      val join = plan.collectFirst {
        case j: org.apache.spark.sql.execution.joins.SortMergeJoinExec => j
        case j: org.apache.spark.sql.execution.joins.ShuffledHashJoinExec => j
      }
      assert(join.isDefined, s"expected a shuffled join against the index:\n$plan")
      val leftExchanges = join.get.children.head.collect {
        case e: ShuffleExchangeExec => e
      }
      assert(leftExchanges.isEmpty,
        s"the stored IVF index side got re-shuffled:\n$leftExchanges")
      assert(plan.toString.contains("Bucketed: true") ||
        plan.toString.contains("SelectedBucketsCount"),
        s"index scan is not bucket-aware:\n$plan")
    } finally saved.foreach { case (k, v) => spark.conf.set(k, v) }
  }

  test("s20 full outer stream join: all three emission paths fire — " +
    "matches, watermark-evicted left nulls, watermark-evicted right nulls") {
    // sf0.01: the smallest fixture where purchase-error windows overlap
    val rows = SparkEntry.queries("s20_stream_full_outer_join")(spark, sf001).collect()
    assert(rows.map(_.getLong(1)).sum > 0, "no matched pairs emitted")
    assert(rows.map(_.getLong(2)).sum > 0, "no left-unmatched rows emitted")
    assert(rows.map(_.getLong(3)).sum > 0, "no right-unmatched rows emitted")
  }

  test("x13 cms_sketch aggregate: partition-independent, merge is " +
    "elementwise add, and estimates never undercount") {
    val docs = Tables.documents(spark, sf0001)
      .select(col("source"), graft.ops.Dedup.shingleHashPairs(split(col("text"), " ")).as("hv"))
    def corpusSketch(df: org.apache.spark.sql.DataFrame): Seq[Long] =
      df.agg(graft.functions.CmsSketch.cms_sketch(col("hv"), 4, 256).as("sk"))
        .head().getSeq[Long](0)
    val one = corpusSketch(docs.repartition(1))
    val many = corpusSketch(docs.repartition(7))
    assert(one == many, "sketch depends on partitioning")
    // merge = elementwise add: per-source sketches sum to the corpus sketch
    val perSource = docs.groupBy("source")
      .agg(graft.functions.CmsSketch.cms_sketch(col("hv"), 4, 256).as("sk"))
      .select(posexplode(col("sk")).as(Seq("pos", "c")))
      .groupBy("pos").agg(sum(col("c")).as("c"))
      .orderBy("pos").collect().map(_.getLong(1)).toSeq
    assert(perSource == one, "per-source sketches do not add up to the corpus sketch")
    // CMS point estimates are overcounts, never undercounts
    val est = SparkEntry.queries("x13_cms_heavy_hitters")(spark, sf0001).collect()
    assert(est.nonEmpty && est.forall(_.getLong(3) >= 0L),
      s"CMS undercounted: ${est.mkString(", ")}")
  }

  test("d34 fixed-point pagerank: rank mass is conserved to quantization " +
    "error and no node falls below the teleport floor") {
    val rows = SparkEntry.queries("d34_pagerank")(spark, sf0001).collect()
    assert(rows.nonEmpty)
    val n = rows.length.toLong
    val total = rows.map(_.getLong(2)).sum
    // floor divisions lose < 1 micro-unit per edge per step; 3 steps over
    // a graph with ≤ n·maxdeg edges stays well within 1% of n·10^6
    assert(math.abs(total - n * 1000000L) < n * 10000L,
      s"rank mass drifted: $total vs ${n * 1000000L}")
    assert(rows.forall(_.getLong(2) >= 150000L), "a rank fell below the teleport floor")
  }

  test("d35 probe sweep: recall@10 is monotone non-decreasing in nprobe " +
    "for every query, and the nprobe=1 column matches d12's single-cell probe") {
    val sweep = SparkEntry.queries("d35_ivf_probe_sweep")(spark, sf0001).collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getLong(2)))
    val byQ = sweep.groupBy(_._2)
    byQ.foreach { case (q, rs) =>
      val m = rs.map(r => r._1 -> r._3).toMap
      assert(m(1) <= m(2) && m(2) <= m(4),
        s"recall not monotone for query $q: $m")
    }
    val d12 = SparkEntry.queries("d12_ann_recall")(spark, sf0001).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    sweep.filter(_._1 == 1).foreach { case (_, q, ov) =>
      assert(d12(q) == ov, s"nprobe=1 overlap $ov != d12 overlap ${d12(q)} for query $q")
    }
  }

  test("t23 novelty: the first document is fully novel and every score " +
    "is a valid fraction") {
    val rows = SparkEntry.queries("t23_novelty")(spark, sf0001).collect()
    val first = rows.minBy(_.getLong(0))
    assert(first.getLong(1) == first.getLong(2),
      "the lowest doc_id must own all its grams' first occurrences")
    assert(rows.forall(r => r.getLong(2) >= 0 && r.getLong(2) <= r.getLong(1)))
  }

  test("s22 streaming CMS: every sketch row of every event type sums to " +
    "that type's event count — each event lands in exactly one bucket per row") {
    val rows = SparkEntry.queries("s22_stream_cms_maintenance")(spark, sf0001).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    val byTypeRow = rows.groupBy { case (t, pos, _) => (t, pos / 64) }
      .view.mapValues(_.map(_._3).sum).toMap
    val counts = Tables.events(spark, sf0001).groupBy("event_type").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    byTypeRow.foreach { case ((t, row), s) =>
      assert(s == counts(t), s"CMS row $row of '$t' sums to $s, expected ${counts(t)}")
    }
  }

  test("src07 shard writer: the layout honors the contract — a dir per " +
    "language, no file over the 100-record cap, and a lossless round-trip") {
    import org.apache.spark.sql.functions.input_file_name
    val dir = java.nio.file.Files.createTempDirectory("graft-src07-spec").toString
    Tables.documents(spark, sf001)
      .sortWithinPartitions("doc_id")
      .write.mode("overwrite")
      .option("maxRecordsPerFile", 100)
      .partitionBy("lang")
      .parquet(s"$dir/docs_sharded")
    val back = spark.read.parquet(s"$dir/docs_sharded")
    val perFile = back.groupBy(input_file_name().as("f")).count().collect()
    assert(perFile.forall(_.getLong(1) <= 100),
      s"a shard exceeds maxRecordsPerFile: ${perFile.map(_.getLong(1)).max}")
    val langs = Tables.documents(spark, sf001).select("lang").distinct().count()
    val dirs = new java.io.File(s"$dir/docs_sharded").listFiles()
      .count(f => f.isDirectory && f.getName.startsWith("lang="))
    assert(dirs == langs, s"expected $langs lang= partition dirs, found $dirs")
    assert(back.count() == Tables.documents(spark, sf001).count())
    graft.Scratch.deleteRecursively(new java.io.File(dir))
  }

  test("src07 layout: a per-language read prunes to ONE partition dir at " +
    "the scan — the layout pays off as partition pruning") {
    val dir = java.nio.file.Files.createTempDirectory("graft-src07-prune").toString
    Tables.documents(spark, sf0001)
      .write.mode("overwrite").partitionBy("lang").parquet(s"$dir/docs")
    val df = spark.read.parquet(s"$dir/docs").filter(col("lang") === "en")
    df.collect()
    val scan = allNodes(castToImpl(df).queryExecution.executedPlan).collectFirst {
      case f: org.apache.spark.sql.execution.FileSourceScanExec => f
    }
    assert(scan.isDefined)
    assert(scan.get.metadata("PartitionFilters").contains("lang"),
      s"lang filter did not reach the partition pruner: ${scan.get.metadata}")
    assert(scan.get.selectedPartitions.partitionCount == 1,
      s"expected 1 pruned partition, scanned ${scan.get.selectedPartitions.partitionCount}")
    graft.Scratch.deleteRecursively(new java.io.File(dir))
  }

  test("d36 banding curve: the register-agreement join shuffles only ids " +
    "and 8-byte keys — document text never crosses an exchange") {
    val df = SparkEntry.queries("d36_banding_curve")(spark, sf0001)
    assert(shuffles(df).forall(e => !e.child.schema.fieldNames.contains("text")
      && !e.child.schema.fieldNames.contains("ws")),
      "a d36 shuffle carries document text or token arrays")
  }

  test("d36 banding curve: candidate sets nest (tighter banding ⊆ looser) " +
    "and recall is measured against the loosest config") {
    val rows = SparkEntry.queries("d36_banding_curve")(spark, sf001).collect()
      .map(r => r.getString(0) -> r).toMap
    val (c24, c42, c81) = (rows("2x4"), rows("4x2"), rows("8x1"))
    assert(c24.getLong(1) <= c42.getLong(1) && c42.getLong(1) <= c81.getLong(1),
      "candidate counts must nest with banding tightness")
    assert(c24.getLong(2) <= c42.getLong(2) && c42.getLong(2) <= c81.getLong(2),
      "verified counts must nest too")
    assert(c81.getDouble(4) == 1.0, "the loosest config defines recall = 1")
    assert(rows.values.forall(_.getDouble(4) <= 1.0))
  }

  test("q73 attribution: first touch never follows last touch, and both " +
    "fall strictly inside the purchase's trailing window") {
    val rows = SparkEntry.queries("q73_touch_attribution")(spark, sf001).collect()
    rows.filter(_.getBoolean(5)).foreach { r =>
      val (p, ft, lt) = (r.getLong(2), r.getLong(3), r.getLong(4))
      assert(ft <= lt, s"first touch after last touch: $r")
      assert(lt < p && ft >= p - 24L * 3600 * 1000000, s"touch outside window: $r")
    }
    assert(rows.exists(_.getBoolean(5)) && rows.exists(!_.getBoolean(5)),
      "fixture should exercise both attributed and unattributed purchases")
  }

  test("fused minhash_sig Expression agrees with the HOF formulation " +
    "element-for-element on real corpus digests, including k variation") {
    val docs = Tables.documents(spark, sf001)
    val hv = docs.select(col("doc_id"),
      graft.ops.Dedup.shingleHashPairs(split(col("text"), " ")).as("hv"))
    // k=64 exercises h1 + i*h2 well beyond the k<=8 production envelope:
    // both formulations share the same long arithmetic, so agreement must
    // hold wherever the sum lands, overflow included
    Seq(3, 8, 64).foreach { k =>
      val both = hv.select(col("doc_id"),
        graft.ops.Dedup.minhashSignature(col("hv"), k).as("fused"),
        graft.ops.Dedup.minhashSignatureHof(col("hv"), k).as("hof"))
      val diff = both.filter(not(col("fused") === col("hof"))).count()
      assert(diff == 0L, s"fused != HOF on $diff docs at k=$k")
    }
    // empty input matches array_min(empty) = k nulls
    val empty = spark.sql(
      "SELECT minhash_sig(filter(array(named_struct('h1', 1L, 'h2', 1L)), x -> false), 3) AS sg")
      .head()
    assert(!empty.isNullAt(0) && empty.getSeq[Any](0) == Seq(null, null, null))
  }

  test("t24 vocab coverage: cumulative shares are strictly increasing and " +
    "the curve is consistent with its own counts") {
    val rows = SparkEntry.queries("t24_vocab_coverage")(spark, sf0001).collect()
    val cums = rows.sortBy(_.getLong(0)).map(_.getLong(3))
    assert(cums.zip(cums.tail).forall { case (a, b) => a < b },
      "cumulative counts must strictly increase")
    val ns = rows.sortBy(_.getLong(0)).map(_.getLong(2))
    assert(cums.last == ns.sum, "final cumulative != sum of counts")
    assert(ns.zip(ns.tail).forall { case (a, b) => a >= b },
      "top-20 must be ordered by frequency")
  }

  test("d37 cluster histogram: bucket doc counts account for the whole " +
    "corpus exactly once") {
    val rows = SparkEntry.queries("d37_cluster_histogram")(spark, sf0001).collect()
    val total = Tables.documents(spark, sf0001).count()
    assert(rows.map(_.getLong(2)).sum == total,
      s"histogram docs ${rows.map(_.getLong(2)).sum} != corpus $total")
    assert(rows.map(_.getLong(0)).distinct.length == rows.length)
  }

  test("m06 alignment: the caption projection happens map-side — no " +
    "shuffle ever carries the document text, only ids and fixed-width " +
    "vectors cross the join exchange") {
    val df = SparkEntry.queries("m06_caption_alignment")(spark, sf0001)
    val ex = shuffles(df)
    assert(ex.forall(e => !e.child.schema.fieldNames.contains("text")),
      "a shuffle carries the raw caption text")
    // whatever arrays cross are the 64-wide projection/embedding, never
    // the token stream: all array fields sit beside an id column
    assert(ex.filter(_.child.schema.exists(_.dataType.isInstanceOf[ArrayType]))
      .forall(e => e.child.schema.fieldNames.exists(n => n == "doc_id" || n == "vec_id")),
      "an array-carrying exchange lost its id key")
  }
}
