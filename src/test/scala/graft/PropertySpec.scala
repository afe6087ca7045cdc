package graft

import graft.ops.Dedup
import graft.pipe.{ExternalPipeline, PipeGlobals, PipelineSpec}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.scalatest.matchers.should.Matchers
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

/** Property-based checks (SURVEY.md §5.2 item 3) over ScalaCheck
  * generators, sampled with fixed seeds (deterministic; Spark jobs per
  * case are expensive, so case counts are small). */
class PropertySpec extends SparkTestBase with Matchers {
  import spark.implicits._

  private def forSamples[T](gen: Gen[T], n: Int = 5)(f: T => Unit): Unit =
    (0 until n).foreach { i =>
      f(gen.pureApply(Gen.Parameters.default, Seed(42L + i)))
    }

  private def forSamples2[A, B](ga: Gen[A], gb: Gen[B], n: Int = 5)(f: (A, B) => Unit): Unit =
    (0 until n).foreach { i =>
      f(ga.pureApply(Gen.Parameters.default, Seed(42L + i)),
        gb.pureApply(Gen.Parameters.default, Seed(1042L + i)))
    }

  private val lineGen: Gen[String] =
    Gen.nonEmptyListOf(Gen.oneOf(Gen.alphaNumChar, Gen.const(' '), Gen.const('\t')))
      .map(_.mkString.trim).suchThat(_.nonEmpty)

  private lazy val catBin: java.nio.file.Path = {
    val d = java.nio.file.Files.createTempDirectory("prop-pipe-bin")
    val p = d.resolve("copy.sh")
    java.nio.file.Files.writeString(p, "#!/bin/sh\ncp \"$2\" out.txt\n")
    p.toFile.setExecutable(true)
    d
  }

  test("pipe round-trip: arbitrary lines + header survive staging unchanged") {
    forSamples2(Gen.nonEmptyListOf(lineGen), lineGen) { (lines: List[String], header: String) =>
      val spec = PipelineSpec("copy", catBin.toString,
        Seq("copy.sh %MCR_ROOT% %INPUT_FILE%"), "", "")
      val globals = PipeGlobals(
        java.nio.file.Files.createTempDirectory("prop-pipe").toString, "mcr", "/tmp")
      val ds = spark.createDataset(lines).repartition(2)
      val out = ExternalPipeline.run(ds, Some(header), spec, globals)
        .select("line").as[String].collect().toList
      // per partition: header first then its rows; multiset equality overall
      val expected = (lines ++ List(header, header)).sorted
      out.sorted shouldBe expected
    }
  }

  test("exact dedup is idempotent and collapses planted duplicates") {
    forSamples(Gen.nonEmptyListOf(lineGen)) { (texts: List[String]) =>
      val df = (texts ++ texts).zipWithIndex
        .map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")
      val once = Dedup.exact(df, "text", "doc_id")
      once.count() shouldBe texts.distinct.size.toLong
      // every surviving group counts all copies of its content
      val total = once.agg(sum("n_copies")).as[Long].head()
      total shouldBe (texts.size * 2).toLong
    }
  }

  test("set-op algebra: |A ∩all B| + |A \\all B| = |A|") {
    forSamples2(Gen.listOf(Gen.choose(0, 8)), Gen.listOf(Gen.choose(0, 8))) {
      (a: List[Int], b: List[Int]) =>
        val da = a.toDF("k"); val db = b.toDF("k")
        val i = da.intersectAll(db).count()
        val e = da.exceptAll(db).count()
        (i + e) shouldBe a.size.toLong
    }
  }

  test("native heap top-k equals window top-k on random data") {
    forSamples(Gen.nonEmptyListOf(Gen.zip(Gen.choose(0, 5), Gen.choose(0, 1000)))) { data =>
      val df = data.zipWithIndex
        .map { case ((g, v), i) => (g.toLong, v.toLong, i.toLong) }
        .toDF("g", "v", "id").repartition(3)
      val w = Window.partitionBy("g").orderBy(col("v").desc, col("id"))
      val native = df.withColumn("rn", row_number().over(w)).filter(col("rn") <= 2)
        .as[(Long, Long, Long, Int)].collect().toSet
      val stock = df.withColumn("rn", row_number().over(w) + 0).filter(col("rn") <= 2)
        .as[(Long, Long, Long, Int)].collect().toSet
      native shouldBe stock
    }
  }

  test("windowed running sum equals self-join formulation") {
    forSamples(Gen.nonEmptyListOf(Gen.choose(1, 50))) { (xs: List[Int]) =>
      val df = xs.zipWithIndex.map { case (v, i) => (i.toLong, v.toLong) }.toDF("i", "v")
      val w = Window.orderBy("i").rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val viaWindow = df.withColumn("rs", sum("v").over(w))
        .select("i", "rs").as[(Long, Long)].collect().toMap
      val a = df.as("a"); val b = df.as("b")
      val viaJoin = a.join(b, col("b.i") <= col("a.i"))
        .groupBy(col("a.i")).agg(sum(col("b.v")).as("rs"))
        .as[(Long, Long)].collect().toMap
      viaWindow shouldBe viaJoin
    }
  }

  test("distributedPrefixSum equals the single-task window formulation " +
    "on random groups, orders, and values") {
    val rowGen = Gen.listOfN(60, for {
      g <- Gen.oneOf("a", "b", "c")
      o <- Gen.chooseNum(0L, 1000L)
      v <- Gen.chooseNum(-50L, 50L)
    } yield (g, o, v))
    forSamples(rowGen, n = 3) { rows =>
      // de-dup order keys within a group: ties make BOTH formulations
      // order-dependent, which is a fixture property, not a contract
      val distinctRows = rows.groupBy(r => (r._1, r._2)).map(_._2.head).toSeq
      val df = distinctRows.toDF("g", "o", "v").repartition(5)
      val viaHelper = graft.ops.TextAnalysis
        .distributedPrefixSum(df, "g", "o", "v", "cum")
        .select("g", "o", "cum").as[(String, Long, Long)].collect().toSet
      val w = Window.partitionBy(col("g")).orderBy(col("o"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val viaWindow = df.withColumn("cum", sum(col("v")).over(w))
        .select("g", "o", "cum").as[(String, Long, Long)].collect().toSet
      viaHelper shouldBe viaWindow
    }
  }

  test("distributedPrefixSum with a STRUCT order key (the t26/t27 rank shape) " +
    "equals the window formulation on random fp-keyed rows") {
    // t26 ranks on struct((sq/n_tokens)::double, doc_id): the range
    // partitioning and both windows must order structs identically.
    val rowGen = Gen.listOfN(60, for {
      g <- Gen.oneOf("en", "de")
      num <- Gen.chooseNum(1L, 40L)   // duplicated quotients exercise the
      den <- Gen.chooseNum(1L, 8L)    // doc_id tiebreak inside the struct
    } yield (g, num, den))
    forSamples(rowGen, n = 3) { rows =>
      val df = rows.zipWithIndex
        .map { case ((g, num, den), i) => (g, i.toLong, num.toDouble / den) }
        .toDF("g", "id", "ppl")
        .withColumn("_ok", struct(col("ppl"), col("id")))
        .withColumn("_one", lit(1L))
        .repartition(5)
      val viaHelper = graft.ops.TextAnalysis
        .distributedPrefixSum(df, "g", "_ok", "_one", "rnk")
        .select("g", "id", "rnk").as[(String, Long, Long)].collect().toSet
      val w = Window.partitionBy(col("g")).orderBy(col("ppl"), col("id"))
      val viaWindow = df.withColumn("rnk", row_number().over(w).cast("long"))
        .select("g", "id", "rnk").as[(String, Long, Long)].collect().toSet
      viaHelper shouldBe viaWindow
    }
  }

  test("pairOverlapStats: intersection bounded by both set sizes and exact on " +
    "random word-multiset docs") {
    val docGen = Gen.listOfN(6, Gen.listOfN(12,
      Gen.oneOf((1 to 9).map(i => s"w$i"))).map(_.mkString(" ")))
    forSamples(docGen, n = 3) { texts =>
      val docs = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
        .toDF("doc_id", "text")
      val shingles = graft.ops.Dedup.wordShingleHashes(docs, "doc_id", "text", k = 3)
      val ids = texts.indices.map(_.toLong)
      val pairs = (for (a <- ids; b <- ids if a < b) yield (a, b)).toDF("id_a", "id_b")
      val stats = graft.ops.Dedup.pairOverlapStats(pairs, shingles)
        .select("id_a", "id_b", "ni", "na", "nb")
        .as[(Long, Long, Long, Long, Long)].collect()
        .map { case (a, b, ni, na, nb) => (a, b) -> (ni, na, nb) }.toMap
      // oracle: exact shingle sets computed driver-side
      def shingleSet(t: String): Set[String] = {
        val ws = t.split(" ")
        if (ws.length < 3) Set(ws.mkString(" "))
        else ws.sliding(3).map(_.mkString(" ")).toSet
      }
      val sets = texts.map(shingleSet)
      for (a <- ids; b <- ids if a < b) {
        val want = sets(a.toInt).intersect(sets(b.toInt)).size.toLong
        stats.get((a, b)) match {
          case Some((ni, na, nb)) =>
            assert(ni <= math.min(na, nb))
            assert(na == sets(a.toInt).size && nb == sets(b.toInt).size)
            assert(ni == want, s"intersection mismatch for ($a,$b)")
          case None =>
            // disjoint pairs drop out of the inner intersection join
            assert(want == 0L, s"pair ($a,$b) with overlap $want missing from stats")
        }
      }
    }
  }

  test("cms_sketch point estimates always dominate exact counts on " +
    "random token multisets") {
    val tokGen = Gen.listOfN(200, Gen.oneOf(
      (1 to 12).map(i => s"tok$i") ++ Seq("hot", "hot", "hot")))
    forSamples(tokGen, n = 3) { toks =>
      val df = toks.zipWithIndex.map { case (t, i) => (i.toLong, t) }
        .toDF("i", "term")
      val withH = df.select(col("term"),
        conv(substring(md5(col("term")), 1, 8), 16, 10).cast("long").as("h1"),
        conv(substring(md5(col("term")), 9, 8), 16, 10).cast("long").as("h2"))
      val sk = withH
        .select(array(struct(col("h1"), col("h2"))).as("hv"))
        .agg(graft.functions.CmsSketch.cms_sketch(col("hv"), 4, 32).as("sk"))
        .head().getSeq[Long](0)
      val exact = withH.groupBy("term", "h1", "h2").count().collect()
      exact.foreach { r =>
        val (h1, h2, n) = (r.getLong(1), r.getLong(2), r.getLong(3))
        val est = (0 until 4).map(i => sk(i * 32 + ((h1 + i * h2) % 32).toInt)).min
        assert(est >= n, s"CMS undercounted '${r.getString(0)}': $est < $n")
      }
      // total mass per row equals the multiset size
      (0 until 4).foreach { i =>
        assert(sk.slice(i * 32, (i + 1) * 32).sum == toks.size.toLong)
      }
    }
  }
}
