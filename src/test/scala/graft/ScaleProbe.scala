package graft

import org.apache.spark.sql.functions._

/** The scale probe: times `SparkEntry` queries on the sf0.1 fixture and
  * on synthetic corpora `f`× bigger, and prints one JSON line of
  * per-query walls, wall ratios and row counts. Near-linear ratios mean
  * no plan hides a super-linear stage (LSH bucket population, cell
  * population, candidate pairs) that the fixture is too small to show.
  *
  * At each factor `f` the corpus is [[synthCorpus]] with 5000·f docs,
  * 2000·f vectors and vocabulary round(31·f^(1/3)) (67 at 10×, 144 at
  * 100×), in 8 partitions below 100× and 32 from 100×. A selected
  * q-family query runs on [[synthStar]]'s star schema at the same
  * scale instead. Method, as `Bench`: one warm pass at sf0.001, then
  * the min of 2 `clearCache`+`gc` reps of `.count()` per query and data
  * size. Ratios of d45/d48 (their benchmark grows with the corpus) and
  * d54 (quadratic on this uniform generator) measure the data, not the
  * operator.
  *
  * Run: sbt "Test/runMain graft.ScaleProbe <prefixes> [factors]", e.g.
  * `d03,d08,d15,d22 10` or `t53 10,100`. `<prefixes>` is a comma list
  * matched against the `SparkEntry.queries` keys; `[factors]` defaults
  * to 10. Recorded runs are in BENCH_SCALE_r*.json.
  */
object ScaleProbe {

  /** The fixture root the sf0.1 baseline and the warm pass read. */
  private val Fixtures = "/root/testdata"

  /** md5-derived positive long — the probe's deterministic "RNG". */
  private def h(seed: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    conv(substring(md5(seed), 1, 7), 16, 10).cast("long")

  /** Synthesize an n-doc corpus (+ nVecs embeddings) with the sf0.1
    * fixture's measured statistics — same 31-word base vocabulary, 10-100
    * token uniform lengths, 20 sources, 0.16% exact-duplicate rate,
    * 64-dim ±0.575 uniform embeddings with 10 labels — deterministically
    * from md5 (no RNG). Returns the directory, laid out like a testdata
    * SF dir so every `queries()` entry runs against it unchanged.
    *
    * `vocabSize` (default: the fixture's 31) extends the vocabulary with
    * deterministic synthetic tokens. This matters for scale probes: the
    * fixture's 3-gram universe is vocab³ ≈ 30k, so holding vocab FIXED
    * while scaling docs 100× saturates the universe — the probability a
    * doc contains the globally-minimal-hash shingle (≈ positions/vocab³)
    * grows 100×, minhash band buckets inflate to ~1000 docs, and
    * candidate pairs go quadratic (measured: 121.6M pairs at 500k docs —
    * a DUPLICATION-DENSITY regime change, not volume scaling). Scaling
    * vocab ∝ nDocs^(1/3) holds docs-per-hot-shingle at the fixture's
    * value, which is the "same statistics, more volume" question a scale
    * probe is asking. The fixed-vocab regime is still valuable as a
    * template-flood stress test — see the bucket-cap knob entry of
    * BENCH_SCALE_r07.json. */
  def synthCorpus(spark: org.apache.spark.sql.SparkSession, nDocs: Long,
      nVecs: Long, dirName: String, parts: Int, vocabSize: Int = 31): String = {
    import spark.implicits._
    val base = Tables.documents(spark, "/root/testdata/sf0.1")
      .select(explode(split(col("text"), " ")).as("t"))
      .distinct().as[String].collect().sorted.toSeq
    require(base.size == 31, s"vocab drifted: ${base.size}")
    require(vocabSize >= base.size, s"vocabSize $vocabSize < fixture ${base.size}")
    val vocab = base ++ (base.size until vocabSize).map(i => f"tok$i%04d")
    val vlit = typedLit(vocab)
    val docs = spark.range(nDocs)
      .withColumn("eid",
        when(col("id") % 625 === 624, col("id") - 1).otherwise(col("id")))
      .withColumn("n_tok", (h(concat(col("eid"), lit("|n"))) % 91 + 10).cast("int"))
      .select(
        col("id").as("doc_id"),
        concat_ws(" ", transform(sequence(lit(1), col("n_tok")),
          j => element_at(vlit,
            (h(concat(col("eid"), lit("|"), j)) % vocabSize + 1).cast("int")))).as("text"),
        lit("en").as("lang"),
        concat(lit("src"), col("id") % 20).as("source"))
      .withColumn("n_chars", length(col("text")).cast("long"))
    val dir = Scratch.dir(dirName)
    docs.repartition(parts).write.mode("overwrite").parquet(s"$dir/documents.parquet")
    spark.range(nVecs)
      .select(col("id").as("vec_id"),
        transform(sequence(lit(1), lit(64)),
          j => ((h(concat(col("id"), lit("|e"), j)) % 1150001 - 575000) / 1e6)
            .cast("float")).as("embedding"),
        (col("id") % 10).cast("int").as("label"))
      .repartition(parts).write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    dir
  }

  /** Synthesize the q-family star schema at `scale`× sf0.1 (at 10×: 6M
    * lineitem / 1.5M orders / 150k customer / 10k supplier / 1M events)
    * from md5, keeping each query's selectivity structure (BUILDING ≈
    * 1/5, date windows inside the generated ranges, 4 lines per order,
    * overlapping user/customer keys); nation, region and part are the
    * fixture's own. */
  def synthStar(spark: org.apache.spark.sql.SparkSession, scale: Int,
      dirName: String, parts: Int): String = {
    val dir = Scratch.dir(dirName)
    val nCust = 15000L * scale
    val nOrders = 150000L * scale
    val nLine = nOrders * 4
    val nSupp = 1000L * scale
    val nEvents = 100000L * scale
    // 1995-01-01 .. 1998-01-01 in epoch seconds — every query's date
    // window (1996-03-15, 1996-07-01 .. +3mo, 1998-03-15) cuts a real
    // fraction of it, as in the fixture
    val t0 = 788918400L
    val span = 94608000L

    spark.range(nCust).select(
      col("id").as("c_custkey"),
      concat(lit("Customer#"), col("id")).as("c_name"),
      (h(concat(col("id"), lit("|cn"))) % 25).cast("int").as("c_nationkey"),
      ((h(concat(col("id"), lit("|cb"))) % 1099999) / 100.0 - 999.99).as("c_acctbal"),
      element_at(typedLit(Seq("AUTOMOBILE", "BUILDING", "FURNITURE", "MACHINERY", "HOUSEHOLD")),
        (h(concat(col("id"), lit("|cm"))) % 5 + 1).cast("int")).as("c_mktsegment"))
      .repartition(parts).write.mode("overwrite").parquet(s"$dir/customer.parquet")

    spark.range(nSupp).select(
      col("id").as("s_suppkey"),
      concat(lit("Supplier#"), col("id")).as("s_name"),
      (h(concat(col("id"), lit("|sn"))) % 25).cast("int").as("s_nationkey"),
      ((h(concat(col("id"), lit("|sb"))) % 1099999) / 100.0 - 999.99).as("s_acctbal"))
      .repartition(parts).write.mode("overwrite").parquet(s"$dir/supplier.parquet")

    spark.range(nOrders).select(
      col("id").as("o_orderkey"),
      (h(concat(col("id"), lit("|oc"))) % nCust).as("o_custkey"),
      element_at(typedLit(Seq("O", "F", "P")),
        (h(concat(col("id"), lit("|os"))) % 3 + 1).cast("int")).as("o_orderstatus"),
      ((h(concat(col("id"), lit("|ot"))) % 50000000) / 100.0).as("o_totalprice"),
      (lit(t0) + h(concat(col("id"), lit("|od"))) % span).cast("timestamp").as("o_orderdate"),
      element_at(typedLit(Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")),
        (h(concat(col("id"), lit("|op"))) % 5 + 1).cast("int")).as("o_orderpriority"))
      .repartition(parts).write.mode("overwrite").parquet(s"$dir/orders.parquet")

    spark.range(nLine).select(
      (col("id") / 4).cast("long").as("l_orderkey"),
      (h(concat(col("id"), lit("|lp"))) % (20000L * scale)).as("l_partkey"),
      (h(concat(col("id"), lit("|ls"))) % nSupp).as("l_suppkey"),
      (col("id") % 4 + 1).cast("int").as("l_linenumber"),
      (h(concat(col("id"), lit("|lq"))) % 50 + 1).cast("double").as("l_quantity"),
      ((h(concat(col("id"), lit("|le"))) % 9000000) / 100.0 + 900.0).as("l_extendedprice"),
      ((h(concat(col("id"), lit("|ld"))) % 11) / 100.0).as("l_discount"),
      ((h(concat(col("id"), lit("|lt"))) % 9) / 100.0).as("l_tax"),
      element_at(typedLit(Seq("A", "N", "R")),
        (h(concat(col("id"), lit("|lr"))) % 3 + 1).cast("int")).as("l_returnflag"),
      element_at(typedLit(Seq("O", "F")),
        (h(concat(col("id"), lit("|ll"))) % 2 + 1).cast("int")).as("l_linestatus"),
      (lit(t0) + h(concat(col("id"), lit("|lsd"))) % span).cast("timestamp").as("l_shipdate"))
      .repartition(parts).write.mode("overwrite").parquet(s"$dir/lineitem.parquet")

    spark.range(nEvents).select(
      col("id").as("event_id"),
      (lit(t0) + h(concat(col("id"), lit("|et"))) % span).cast("timestamp").as("ts"),
      (h(concat(col("id"), lit("|eu"))) % nCust).as("user_id"),
      element_at(typedLit(Seq("click", "view", "purchase", "error")),
        (h(concat(col("id"), lit("|ek"))) % 4 + 1).cast("int")).as("event_type"),
      ((h(concat(col("id"), lit("|ev"))) % 100000) / 100.0).as("value"),
      concat(lit("""{"k":"""), col("id") % 10, lit("}")).as("props"))
      .repartition(parts).write.mode("overwrite").parquet(s"$dir/events.parquet")

    // tiny dims: the fixture's own
    for (t <- Seq("nation", "region", "part"))
      spark.read.parquet(s"$Fixtures/sf0.1/$t.parquet")
        .write.mode("overwrite").parquet(s"$dir/$t.parquet")
    dir
  }

  /** The `SparkEntry.queries` keys matching any of the name prefixes
    * (the `Bench`/`Profile` rule), sorted. A prefix that matches no key
    * fails loudly instead of silently timing nothing, and an empty one
    * instead of timing every query. */
  def select(prefixes: Seq[String]): Seq[String] = {
    require(prefixes.nonEmpty && prefixes.forall(_.nonEmpty), "empty query prefix")
    val keys = SparkEntry.queries.keys.toSeq.sorted
    val unmatched = prefixes.filterNot(p => keys.exists(_.startsWith(p)))
    require(unmatched.isEmpty,
      s"no SparkEntry query starts with: ${unmatched.mkString(", ")}")
    keys.filter(k => prefixes.exists(k.startsWith))
  }

  /** Vocabulary at factor `f`: ∝ docs^(1/3), see [[synthCorpus]]. */
  def vocabAt(f: Int): Int = math.round(31 * math.cbrt(f.toDouble)).toInt

  def main(args: Array[String]): Unit = {
    require(args.length == 1 || args.length == 2,
      "usage: ScaleProbe <prefixes> [factors]")
    val names = select(args(0).split(',').toSeq)
    val factors = args.lift(1).fold(Seq(10))(_.split(',').toSeq.map(_.toInt))
    require(factors.forall(_ >= 1), s"factors must be >= 1: ${factors.mkString(",")}")
    val spark = Engine.session(appName = "graft-scale-probe")
    val sf01 = s"$Fixtures/sf0.1"

    // per factor, the directory each selected query reads
    val dirs = factors.map { f =>
      val parts = if (f < 100) 8 else 32
      val docs = synthCorpus(spark, 5000L * f, 2000L * f, s"graft_scale_x$f",
        parts, vocabSize = vocabAt(f))
      val star = if (names.exists(_.startsWith("q")))
        synthStar(spark, f, s"graft_scale_star_x$f", parts) else docs
      f -> ((nm: String) => if (nm.startsWith("q")) star else docs)
    }
    names.foreach(nm => SparkEntry.queries(nm)(spark, s"$Fixtures/sf0.001").count())

    def time(nm: String, dir: String): (Double, Long) = {
      val ts = (1 to 2).map { _ =>
        spark.catalog.clearCache(); System.gc()
        val t0 = System.nanoTime()
        val rows = SparkEntry.queries(nm)(spark, dir).count()
        ((System.nanoTime() - t0) / 1e9, rows)
      }
      (ts.map(_._1).min, ts.head._2)
    }
    def sec(t: Double) = f"$t%.2f"
    val entries = names.map { nm =>
      val (t01, r01) = time(nm, sf01)
      val at = dirs.map { case (f, dirOf) => (f, time(nm, dirOf(nm))) }
      println(s"== $nm: sf0.1 ${sec(t01)} s, " +
        at.map { case (f, (t, _)) => s"${f}x ${sec(t)} s" }.mkString(", "))
      val walls = at.map { case (f, (t, _)) =>
        s""""x${f}_sec":${sec(t)},"ratio_${f}x":${sec(t / t01)}""" }
      val rows = at.map { case (f, (_, r)) => s""""rows_x$f":$r""" }
      val fields = (s""""sf01_sec":${sec(t01)}""" +: walls) ++
        (s""""rows_sf01":$r01""" +: rows)
      s""""$nm":{${fields.mkString(",")}}"""
    }
    println(s"""{"metric":"scale_probe",""" +
      s""""docs":[${(1 +: factors).map(5000L * _).mkString(",")}],""" +
      s""""vocab":[${(1 +: factors).map(vocabAt).mkString(",")}],""" +
      entries.mkString(",") + "}")
    spark.stop()
  }
}
