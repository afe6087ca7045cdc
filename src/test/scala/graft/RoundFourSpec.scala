package graft

import org.apache.spark.sql.AnalysisException
import org.apache.spark.sql.functions._

/** Round-4 hardening specs: reliable-checkpoint wiring, data-sized bloom
  * filter (no false negatives), analysis-time shingle-width validation,
  * the q61 dynamic-pivot fixture invariant, and the s08 bounded-driver-
  * state boundary.
  */
class RoundFourSpec extends SparkTestBase {

  val sf01 = "/root/testdata/sf0.1"

  test("Engine.session wires a reliable checkpoint dir and the CC loop runs through it") {
    val s = Engine.session(parallelism = 4, appName = "graft-test")
    val ckpt = s.sparkContext.getCheckpointDir
    assert(ckpt.isDefined, "Engine.session left no checkpoint dir configured")
    val out = SparkEntry.queries("d08_dedup_groups")(s, sf0001).collect()
    assert(out.nonEmpty)
    // force the distributed contraction loop (driverThreshold=0): its
    // per-round materialize must take the RELIABLE path — the checkpoint
    // dir gains rdd-* block dirs — and agree with the fast path's labels
    import s.implicits._
    val pairs = Seq((1L, 2L), (2L, 3L), (5L, 6L)).toDF("id_a", "id_b")
    val viaLoop = ops.Dedup.connectedComponents(pairs, driverThreshold = 0L)
      .collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
    assert(viaLoop == Seq((1L, 1L), (2L, 1L), (3L, 1L), (5L, 5L), (6L, 5L)))
    val rdds = Option(new java.io.File(new java.net.URI(ckpt.get).getPath)
      .listFiles()).map(_.toSeq).getOrElse(Seq.empty)
    assert(rdds.nonEmpty, s"no checkpointed RDD blocks under ${ckpt.get}")
  }

  test("x07: data-sized bloom filter has no false negatives at sf0.1") {
    val urgent = Tables.orders(spark, sf01)
      .filter(col("o_orderpriority") === "1-URGENT")
      .select(col("o_custkey"))
    val bf = urgent.stat.bloomFilter("o_custkey", math.max(urgent.count(), 1L), 0.01)
    val keys = urgent.distinct().collect().map(_.getLong(0))
    assert(keys.nonEmpty)
    val missed = keys.filterNot(bf.mightContainLong)
    assert(missed.isEmpty, s"bloom filter dropped ${missed.length} true keys")
    // and the prefiltered query equals the plain exact semi-join aggregate
    val viaBloom = SparkEntry.queries("x07_bloom_prefilter_join")(spark, sf01)
      .collect().map(_.toSeq).toSeq
    val plain = Tables.customer(spark, sf01)
      .join(urgent, col("c_custkey") === col("o_custkey"), "left_semi")
      .groupBy("c_mktsegment")
      .agg(count(lit(1)).as("n_urgent_cust"),
        round(sum("c_acctbal"), 2).as("total_bal"))
      .orderBy("c_mktsegment")
      .collect().map(_.toSeq).toSeq
    assert(viaBloom == plain)
  }

  test("char_shingles rejects k < 1 at analysis time, not eval time") {
    val df = spark.range(1).select(expr("id AS doc"))
    df.createOrReplaceTempView("graft_r4_docs")
    val e = intercept[AnalysisException] {
      spark.sql(
        "SELECT char_shingles(CAST(doc AS STRING), 0) FROM graft_r4_docs")
    }
    assert(e.getMessage.contains("k >= 1"), e.getMessage)
    // the valid boundary still works
    val ok = spark.sql(
      "SELECT char_shingles(CAST(doc AS STRING), 1) FROM graft_r4_docs").collect()
    assert(ok.length == 1)
  }

  test("q61 invariant: dynamic pivot discovers exactly the 1995-2001 order-years") {
    val years = Tables.orders(spark, sf0001)
      .select(year(col("o_orderdate")).as("yr")).distinct()
      .collect().map(_.getInt(0)).sorted.toSeq
    assert(years == (1995 to 2001),
      s"orders fixture years drifted to $years — q61's oracle column list " +
        "(and its Scaladoc invariant) must be updated to match")
  }

  test("simhash64 native expression agrees with the HOF composition on real docs") {
    val md5s = Tables.documents(spark, sf0001)
      .withColumn("md5s", expr("transform(split(text, ' '), t -> md5(t))"))
    val both = md5s.select(
      graft.functions.SimHash64.simhash64(col("md5s")).as("native"),
      ops.Dedup.simhash64FromMd5s("md5s").as("hof"))
    assert(both.filter(col("native") =!= col("hof")).count() == 0)
    // edge cases: empty array (all votes -1 → all zeros), short/junk
    // digest (missing digits vote -1), null element (nulls every sum)
    val edge = spark.sql(
      """SELECT simhash64(cast(array() as array<string>)) AS e, simhash64(array('zz')) AS j,
               simhash64(array(cast(null as string), md5('x'))) AS n""").head()
    assert(edge.getString(0) == "0" * 64)
    assert(edge.getString(1) == "0" * 64)
    assert(edge.getString(2) == "0" * 64)
  }

  test("lshBuckets assignment is partition-count independent") {
    val docs = Tables.documents(spark, sf0001)
    def buckets(parts: Int) =
      ops.Dedup.lshBuckets(docs.repartition(parts), "doc_id", "text",
          shingleWords = 3, bands = 4, rowsPerBand = 2)
        .collect().map(r => (r.getLong(0), r.getInt(1), r.getString(2))).toSet
    assert(buckets(1) == buckets(7),
      "bucket assignment depends on physical partitioning — minhash must be layout-free")
  }

  test("s08 boundary: driver-side merged state is bounded by key cardinality") {
    val out = SparkEntry.queries("s08_stream_foreachbatch")(spark, sf0001).collect()
    val nTypes = Tables.events(spark, sf0001)
      .select("event_type").distinct().count()
    assert(out.length.toLong == nTypes,
      s"driver state rows (${out.length}) != event_type cardinality ($nTypes)")
  }
}
