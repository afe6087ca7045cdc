package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import ops.{Dedup, Incremental}

/** `admitBatch`'s two routes: a batch of at most `DriverAdmitRows` rows
  * admits on the driver, a larger one through the distributed plan. The
  * distributed route is the reference: on the same inputs both must give
  * the same census rows, the same admitted rows under the same schema,
  * and set-equal stores afterwards. */
class AdmitRoutesSpec extends SparkTestBase {

  private def rows(df: DataFrame): Set[String] = df.collect().map(_.toString).toSet

  /** One admission's outputs, in a form two routes can be compared by. */
  private final case class Out(censusSchema: String, census: Seq[String],
      admittedSchema: String, admitted: Set[String])

  /** The three stores, read back as row sets. */
  private def stores(h: (String, String, String), owned: Boolean): Seq[Set[String]] = Seq(
    rows(spark.table(h._1)),
    rows(spark.read.schema("id LONG, h LONG").parquet(h._3)),
    rows(spark.read.schema(if (owned) "doc_id LONG, h STRING" else "h STRING").parquet(h._2)))

  /** Runs `scenario` once per route, each against stores it builds with
    * its own tag, and asserts both routes agree on every admission and on
    * the stores it leaves. `scenario(tag, admit)` returns the store
    * handles; `admit(batch, key, handles, owned, tomb)` admits one batch
    * on the route under test. Returns the driver route's outputs. */
  private def sameOnBothRoutes(owned: Boolean)(scenario: (String,
      (DataFrame, Long, (String, String, String), Option[DataFrame]) => Unit) =>
      (String, String, String)): Seq[Out] = {
    val runs = Seq(true, false).map { driver =>
      val outs = Seq.newBuilder[Out]
      val h = scenario(if (driver) "drv" else "dist", { (batch, key, h, tomb) =>
        assert(!driver || batch.count() <= Incremental.DriverAdmitRows)
        val (row, adm) = Incremental.admitBatchRouted(spark, batch, "k", key,
          h._1, h._2, h._3, owned, tomb, driverRoute = driver)
        outs += Out(row.schema.toString, row.collect().map(_.toString).toSeq,
          adm.schema.toString, rows(adm))
      })
      val out = outs.result()
      spark.catalog.clearCache()
      (out, stores(h, owned))
    }
    val ((drv, drvStores), (dist, distStores)) = (runs(0), runs(1))
    assert(drv.size == dist.size && drv.nonEmpty)
    drv.zip(dist).zipWithIndex.foreach { case ((a, b), i) =>
      assert(a == b, s"admission $i differs between the routes")
    }
    Seq("band index", "shingle store", "exact store").zipWithIndex.foreach { case (name, i) =>
      assert(drvStores(i) == distStores(i), s"$name differs between the routes")
    }
    drv
  }

  private def nums(o: Out): Seq[Long] =
    o.census.head.stripPrefix("[").stripSuffix("]").split(",").toSeq.map(_.toLong)

  test("p02's three deltas admit identically on the driver and the distributed " +
    "route (h-only layout), with every drop path firing") {
    val docs = Incremental.plantedDocs(spark, sf001)
    val corpus = docs.filter(col("doc_id") % 11 =!= 5)
    val outs = sameOnBothRoutes(owned = false) { (tag, admit) =>
      val h = Incremental.initStores(spark, corpus, s"routes_p02_$tag")
      (0 to 2).foreach(k => admit(docs.filter(col("doc_id") % 11 === 5 &&
        col("doc_id") % 3 === lit(k.toLong)), k.toLong, h, None))
      h
    }
    // census columns: k, arrived, exact within, exact store, near store,
    // near within, admitted, admitted-id sum
    (2 to 6).foreach(c => assert(outs.map(o => nums(o)(c)).sum > 0, s"census column $c vacuous"))
  }

  test("the transitive-chain retry drill admits identically on both routes") {
    import spark.implicits._
    val t = (1 to 30).map(i => f"cae$i%02d")
    val batch = Seq(
      1001L -> (t.take(25) ++ (1 to 5).map(i => s"xaa$i")),
      1002L -> t,
      1003L -> (t.drop(5) ++ (1 to 5).map(i => s"zqq$i")),
      1004L -> (1 to 30).map(i => s"fil4t$i"),
      1005L -> (1 to 30).map(i => s"fil5t$i"))
      .map { case (id, ts) => (id, ts.mkString(" ")) }.toDF("doc_id", "t")
    val corpus = spark.range(1, 41).select(col("id").as("doc_id"),
      expr("concat_ws(' ', transform(sequence(1, 30), " +
        "i -> concat('cor', cast(id as string), '_', cast(i as string))))").as("t"))
    val outs = sameOnBothRoutes(owned = false) { (tag, admit) =>
      val h = Incremental.initStores(spark, corpus, s"routes_chain_$tag")
      // the crash state: the clean run's admitted docs' bands and
      // shingles landed, the exact-hash marker did not; then the retry
      val kept = batch.filter(col("doc_id").isin(1001L, 1004L, 1005L))
      val (pB, pS) = Dedup.lshBucketsAndShingles(kept, "doc_id", "t", 3, 4, 2)
      Dedup.appendBandIndex(spark, pB, h._1)
      pS.distinct().write.mode("append").parquet(h._3)
      admit(batch, 0L, h, None)
      h
    }
    assert(outs.head.admitted.map(_.split(",")(0)) == Set("[1001", "[1004", "[1005"))
  }

  test("an owned batch with tombstones (s32-style) admits identically on both routes") {
    val docs = Incremental.plantedDocs(spark, sf0001)
    val corpus = docs.filter(col("doc_id") % 11 =!= 5)
    val arrivals = docs.filter(col("doc_id") % 11 === 5)
    val outs = sameOnBothRoutes(owned = true) { (tag, admit) =>
      val h = Incremental.initOwnedStores(spark, corpus, s"routes_s32_$tag")
      admit(arrivals.filter(col("doc_id") % 2 === 0), 0L, h, Some(corpus.limit(0).select("doc_id")))
      admit(arrivals.filter(col("doc_id") % 2 === 1), 1L, h,
        Some(corpus.filter(Incremental.removedPred).select("doc_id")))
      h
    }
    // arrival 115's only partner was taken down between the batches
    assert(outs(1).admitted.exists(_.startsWith("[115,")))
  }

  test("a batch of exact duplicates only, and an empty batch, admit " +
    "identically on both routes") {
    val docs = Incremental.plantedDocs(spark, sf0001)
    val corpus = docs.filter(col("doc_id") % 11 =!= 5)
    val copies = corpus.filter(col("doc_id") < 40)
      .select((col("doc_id") + 100000L).as("doc_id"), col("t"))
    val twins = copies.select((col("doc_id") + 100000L).as("doc_id"), col("t"))
    val outs = sameOnBothRoutes(owned = true) { (tag, admit) =>
      val h = Incremental.initOwnedStores(spark, corpus, s"routes_dup_$tag")
      admit(copies.unionByName(twins), 0L, h, None)
      admit(copies.limit(0), 1L, h, None)
      h
    }
    val Seq(dup, empty) = outs.map(nums)
    assert(dup(2) > 0 && dup(3) > 0 && dup(2) + dup(3) == dup(1) && dup(6) == 0,
      s"exact-duplicate batch census: $dup")
    assert(empty.drop(1).forall(_ == 0), s"empty batch census: $empty")
  }

  test("one 50-doc owned admit launches at most 15 Spark jobs") {
    import spark.implicits._
    def text(seed: Int) = {
      val r = new scala.util.Random(seed)
      (1 to 40).map(_ => s"w${r.nextInt(5000)}").mkString(" ")
    }
    val corpus = (1 to 400).map(i => (i.toLong, text(i))).toDF("doc_id", "t")
    val h = Incremental.initOwnedStores(spark, corpus, "routes_jobs")
    // 30 held-back near copies, 15 fresh docs, 5 exact copies
    def batch(k: Int) = ((1 to 30).map(i => (10000L * k + i,
        text(i + 13 * k).split(" ").drop(2).mkString(" ") + " tail" + i)) ++
      (31 to 45).map(i => (10000L * k + i, text(100000 * k + i))) ++
      (46 to 50).map(i => (10000L * k + i, text(i + 17 * k))))
      .toDF("doc_id", "t")
    def admit(k: Int): Unit = {
      val (row, _) = Incremental.admitBatch(spark, batch(k), "k", k.toLong,
        h._1, h._2, h._3, owned = true)
      row.collect()
    }
    admit(1)
    val jobs = JobCount.of(spark)(admit(2))
    assert(jobs <= 15, s"a 50-doc admit launched $jobs jobs")
    spark.catalog.clearCache()
  }
}
