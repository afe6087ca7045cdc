package graft

import org.apache.spark.sql.functions._

/** Round-13 additions: multi-writer safety for the maintained-store
  * catalogs. The d66 version machinery gains an optimistic-concurrency
  * commit (compare-and-swap on the version the publisher based its
  * update on, atomic hard-link claim on the version slot) and these
  * drills prove the three contracts the r11 verdict demanded:
  * the lost-update anomaly EXISTS under a blind (basis-ignoring)
  * commit, it is IMPOSSIBLE under CAS (the stale publisher fails
  * loudly), and
  * genuinely concurrent racing publishers all survive via re-read +
  * re-apply + retry — including the real-store race (ingest append vs
  * takedown compaction) where the final probe content must contain BOTH
  * updates regardless of commit order. */
class RoundThirteenSpec extends SparkTestBase {

  import ops.Incremental

  private def newCat(tag: String): String =
    Scratch.dir(s"graft_${tag}_cat") + "/store.catalog"

  test("plain versioned publish loses a racing update (the anomaly); a " +
    "stale CAS publish fails loudly instead, and the retry composes " +
    "both updates") {
    // --- the anomaly, demonstrated: both publishers snapshot v1, then
    // commit blindly (the update ignores its basis); the second
    // silently erases the first's update
    val plain = newCat("r13_plain")
    Incremental.commitCatalogCas(plain)((_, _) => Seq("base"))
    val snapA = Incremental.resolveCatalog(plain, expect = 1)
    val snapB = Incremental.resolveCatalog(plain, expect = 1)
    Incremental.commitCatalogCas(plain)((_, _) => snapA :+ "ingest")
    Incremental.commitCatalogCas(plain)((_, _) => snapB :+ "compact")
    val lost = Incremental.resolveCatalog(plain, expect = 2)
    assert(lost === Seq("base", "compact"),
      "a blind commit should exhibit last-writer-wins")
    assert(!lost.contains("ingest"), "the ingest update is LOST — the anomaly")

    // --- under CAS the same interleave cannot lose the update: the
    // stale second publisher conflicts, re-reads, re-applies
    val cas = newCat("r13_cas")
    Incremental.commitCatalogCas(cas)((_, _) => Seq("base"))
    val v1 = Incremental.currentCatalogVersion(cas)
    assert(v1 === 1)
    val base = Incremental.readCatalogVersion(cas, v1)
    assert(Incremental.publishCatalogCas(cas, v1, base :+ "ingest") === 2)
    val conflict = intercept[Incremental.CatalogCasConflict] {
      Incremental.publishCatalogCas(cas, v1, base :+ "compact")
    }
    assert(conflict.expected === 1 && conflict.found === 2)
    // the protocol: re-read the moved catalog, re-apply on top
    val (v3, attempts) = Incremental.commitCatalogCas(cas) {
      (_, cur) => cur :+ "compact"
    }
    assert(v3 === 3 && attempts === 1)
    val fin = Incremental.resolveCatalog(cas, expect = 3)
    assert(fin === Seq("base", "ingest", "compact"),
      "BOTH updates survive under CAS")
  }

  // Both shipped committers run the full race drill set: the POSIX
  // hard-link shape AND the conditional-put (CREATE_NEW) shape a real
  // object-store deployment ports — exclusivity is a property each
  // primitive must prove for itself, not inherit from the protocol.
  private val committers =
    Seq(Incremental.HardLinkCommitter, Incremental.CreateNewCommitter)

  committers.foreach { committer =>
    test(s"[${committer.name}] same-version CAS race: of two publishers " +
      "claiming the same slot concurrently, exactly one wins — the " +
      "claim is atomic") {
      // 20 rounds of a 2-thread same-slot race; a non-atomic claim would
      // let both 'win' (or corrupt the slot) at least once
      val cat = newCat(s"r13_slot_${committer.name}")
      Incremental.commitCatalogCas(cat)((_, _) => Seq("g1"))
      (1 to 20).foreach { round =>
        val expected = Incremental.currentCatalogVersion(cat)
        val start = new java.util.concurrent.CountDownLatch(1)
        val results = new java.util.concurrent.ConcurrentLinkedQueue[Either[Int, Int]]()
        val ts = Seq("a", "b").map { who =>
          new Thread(() => {
            start.await()
            try {
              results.add(Right(Incremental.publishCatalogCas(
                cat, expected, Seq(s"r$round-$who"), committer)))
              ()
            } catch {
              case c: Incremental.CatalogCasConflict =>
                results.add(Left(c.found)); ()
            }
          })
        }
        ts.foreach(_.start()); start.countDown(); ts.foreach(_.join())
        val (losers, winners) = results.toArray(Array.empty[Either[Int, Int]]).partition(_.isLeft)
        assert(winners.length === 1, s"round $round: exactly one claim must win")
        assert(losers.length === 1)
        assert(winners.head === Right(expected + 1))
        // the committed content is the winner's, intact (no torn write —
        // readCatalogVersion checksum-verifies)
        val cur = Incremental.readCatalogVersion(cat, expected + 1)
        assert(cur.length === 1 && cur.head.startsWith(s"r$round-"))
      }
      assert(Incremental.catalogVersions(cat) === (1 to 21))
    }

    test(s"[${committer.name}] 8 concurrent publishers through " +
      "commitCatalogCas: every update survives, versions are contiguous, " +
      "and the pointer converges to the latest generation") {
      val cat = newCat(s"r13_many_${committer.name}")
      Incremental.commitCatalogCas(cat)((_, _) => Seq("base"))
      val start = new java.util.concurrent.CountDownLatch(1)
      val failures = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
      val ts = (1 to 8).map { i =>
        new Thread(() => {
          start.await()
          try Incremental.commitCatalogCas(cat, maxAttempts = 100, committer) {
            (_, cur) => cur :+ s"update-$i"
          }: Unit
          catch { case t: Throwable => failures.add(t): Unit }
        })
      }
      ts.foreach(_.start()); start.countDown(); ts.foreach(_.join())
      assert(failures.isEmpty, s"CAS loop failed: ${Option(failures.peek())}")
      assert(Incremental.catalogVersions(cat) === (1 to 9),
        "each winner claims exactly one contiguous version")
      val fin = Incremental.readCatalogVersion(cat, 9)
      assert(fin.head === "base")
      assert((1 to 8).forall(i => fin.contains(s"update-$i")),
        s"every racer's update must survive: $fin")
      // the legacy pointer file converged to the latest generation
      assert(Incremental.resolveCatalog(cat, expect = 9) === fin)
    }
  }

  test("orphan-table GC: a lost CAS race's abandoned generation is " +
    "reclaimed (table dropped, storage deleted); every referenced " +
    "generation — live, historical, or pointer — survives") {
    import ops.Dedup
    val docs = Tables.documents(spark, sf0001).limit(60)
    val (buckets, _) = Dedup.lshBucketsAndShingles(docs, "doc_id", "text",
      shingleWords = 3, bands = 4, rowsPerBand = 2)
    val prefix = "graft_band_r13o_"
    def mkTable(tag: String, pred: org.apache.spark.sql.Column): String = {
      val t = prefix + Scratch.nameTag()
      Dedup.writeBandIndex(spark, buckets.filter(pred), t)
      t
    }
    val cat = newCat("r13_orphan")
    val t1 = mkTable("g1", col("id") % 2 === 0)
    Incremental.commitCatalogCas(cat)((_, _) => Seq(t1))
    // the d69 interleave: two publishers base on v1; the loser's table
    // is materialized but its stale CAS fails — the orphan
    val baseV = Incremental.currentCatalogVersion(cat)
    val t2 = mkTable("g2", col("id") % 2 === 1)
    assert(Incremental.publishCatalogCas(cat, baseV, Seq(t2)) === 2)
    val orphan = mkTable("lost", col("id") % 3 === 0)
    intercept[Incremental.CatalogCasConflict] {
      Incremental.publishCatalogCas(cat, baseV, Seq(orphan))
    }
    val orphanLoc = spark.sessionState.catalog.getTableMetadata(
      org.apache.spark.sql.catalyst.TableIdentifier(orphan)).location
    // graceMs=0: this drill's race is COMPLETE (the loser's CAS already
    // failed), so age-based in-flight protection is deliberately off
    val reclaimed = Incremental.gcOrphanTables(spark, cat, prefix, graceMs = 0L)
    assert(reclaimed === Seq(orphan), s"exactly the orphan: $reclaimed")
    assert(!spark.catalog.tableExists(orphan))
    assert(!new java.io.File(orphanLoc).exists(), "storage must be deleted")
    // every referenced generation survives: the historical v1 and the
    // current v2 both still resolve and answer
    assert(spark.table(Incremental.readCatalogVersion(cat, 1).head).count() > 0)
    assert(spark.table(Incremental.resolveCatalog(cat, expect = 1).head).count() > 0)
    // idempotent: a second sweep finds nothing
    assert(Incremental.gcOrphanTables(spark, cat, prefix, graceMs = 0L) === Seq.empty)
    // the in-flight-publisher guard (ADVICE r12): a table materialized
    // but not yet CAS-published is indistinguishable from debris except
    // by AGE — the default grace window must leave it alone, so a
    // publisher that wins its CAS a moment later references a LIVE table
    val inflight = mkTable("inflight", col("id") % 5 === 0)
    assert(Incremental.gcOrphanTables(spark, cat, prefix) === Seq.empty,
      "a young unpublished table must survive the default grace window")
    assert(spark.catalog.tableExists(inflight))
    Incremental.commitCatalogCas(cat) { (_, _) => Seq(inflight) }: Unit
    assert(spark.table(Incremental.resolveCatalog(cat, expect = 1).head).count() > 0,
      "the late-winning publisher's generation must answer")
  }

  test("pin leases (s40): an unexpired lease blocks retention GC beyond " +
    "the retain window; expiry re-exposes the generation; reads through " +
    "an expired pin, of a reclaimed version, and re-pinning it all fail " +
    "loudly") {
    val cat = newCat("r13_lease")
    // scalar metadata lines — GC reclaims the history version itself
    // without touching any store (the path-classification guard)
    Incremental.commitCatalogCas(cat)((_, _) => Seq("g1-meta"))
    Incremental.commitCatalogCas(cat)((_, _) => Seq("g2-meta"))
    Incremental.acquireCatalogPin(cat, version = 1, holder = "slow-reader",
      leaseMs = 600000)
    assert(Incremental.activeCatalogPins(cat) === Map("slow-reader" -> 1))
    // retain=1 would reclaim v1 — the active lease refuses it
    assert(Incremental.gcCatalogHistory(spark, cat, retain = 1) === Seq.empty)
    assert(Incremental.catalogVersions(cat) === Seq(1, 2))
    assert(Incremental.resolvePinnedCatalog(cat, "slow-reader", expect = 1)
      === Seq("g1-meta"))
    // the lease expires (renewed to an already-past deadline): the pin
    // no longer protects, and reading through it fails loudly instead
    // of silently falling forward to the current generation
    Incremental.acquireCatalogPin(cat, version = 1, holder = "slow-reader",
      leaseMs = -1000)
    assert(Incremental.activeCatalogPins(cat) === Map.empty)
    val expired = intercept[IllegalArgumentException] {
      Incremental.resolvePinnedCatalog(cat, "slow-reader", expect = 1)
    }
    assert(expired.getMessage.contains("EXPIRED"))
    // the next GC reclaims the no-longer-protected generation
    assert(Incremental.gcCatalogHistory(spark, cat, retain = 1) === Seq(1))
    assert(Incremental.catalogVersions(cat) === Seq(2))
    // physically gone: direct version reads and re-pinning fail loudly
    intercept[IllegalArgumentException] {
      Incremental.resolveCatalogVersion(cat, 1, expect = 1)
    }
    intercept[IllegalArgumentException] {
      Incremental.acquireCatalogPin(cat, version = 1, holder = "late", leaseMs = 1000)
    }
  }

  test("multi-holder pins: GC honors EVERY active lease independently — " +
    "two consumers pinned to different dead-window generations both " +
    "survive, and each release exposes exactly its own generation") {
    val cat = newCat("r13_multi")
    (1 to 4).foreach(i => Incremental.commitCatalogCas(cat)((_, _) => Seq(s"g$i")))
    Incremental.acquireCatalogPin(cat, 1, "reader-a", leaseMs = 600000)
    Incremental.acquireCatalogPin(cat, 2, "reader-b", leaseMs = 600000)
    // retain=1 would reclaim v1..v3; the two leases keep v1 and v2
    assert(Incremental.gcCatalogHistory(spark, cat, retain = 1) === Seq(3))
    assert(Incremental.catalogVersions(cat) === Seq(1, 2, 4))
    Incremental.releaseCatalogPin(cat, "reader-a")
    assert(Incremental.gcCatalogHistory(spark, cat, retain = 1) === Seq(1))
    assert(Incremental.catalogVersions(cat) === Seq(2, 4))
    assert(Incremental.resolvePinnedCatalog(cat, "reader-b", expect = 1)
      === Seq("g2"), "the surviving pin still answers")
    Incremental.releaseCatalogPin(cat, "reader-b")
    assert(Incremental.gcCatalogHistory(spark, cat, retain = 1) === Seq(2))
    assert(Incremental.catalogVersions(cat) === Seq(4))
  }

  test("GC racing live CAS publishers: retention GC runs concurrently " +
    "with a publisher storm and never reclaims the current generation " +
    "or loses an update") {
    val cat = newCat("r13_gcrace")
    Incremental.commitCatalogCas(cat)((_, _) => Seq("base"))
    val start = new java.util.concurrent.CountDownLatch(1)
    val failures = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val pubs = (1 to 6).map { i =>
      new Thread(() => {
        start.await()
        try Incremental.commitCatalogCas(cat, maxAttempts = 100) {
          (_, cur) => cur :+ s"u$i"
        }: Unit
        catch { case t: Throwable => failures.add(t): Unit }
      })
    }
    val gcs = (1 to 3).map { _ =>
      new Thread(() => {
        start.await()
        try (1 to 4).foreach { _ =>
          Incremental.gcCatalogHistory(spark, cat, retain = 2): Unit
          Thread.sleep(20)
        }
        catch { case t: Throwable => failures.add(t): Unit }
      })
    }
    (pubs ++ gcs).foreach(_.start()); start.countDown()
    (pubs ++ gcs).foreach(_.join())
    assert(failures.isEmpty, s"race failed: ${Option(failures.peek())}")
    // no update lost despite GC sweeping behind the publishers
    val latest = Incremental.currentCatalogVersion(cat)
    assert(latest === 7)
    val fin = Incremental.readCatalogVersion(cat, latest)
    assert(fin.head === "base" && (1 to 6).forall(i => fin.contains(s"u$i")),
      s"every racer's update must survive GC interleaving: $fin")
    // a final sweep leaves exactly the retained window
    Incremental.gcCatalogHistory(spark, cat, retain = 2): Unit
    assert(Incremental.catalogVersions(cat) === Seq(6, 7))
  }

  test("d70 stale-schema append: a batch built for the old posting " +
    "schema fails the tagged append loudly and leaves the store " +
    "untouched") {
    import ops.TextAnalysis
    val docs = Tables.documents(spark, sf0001).limit(50)
    val t2 = TextAnalysis.writePostingStore(spark,
      TextAnalysis.postingsWithPositions(docs), "post_r13")
    val before = spark.table(t2).count()
    // a writer that based its batch on the PRE-migration schema
    val staleBatch = TextAnalysis.postingsOf(docs.limit(10))
    val ex = intercept[IllegalArgumentException] {
      TextAnalysis.appendPostingStoreTagged(spark, staleBatch, t2,
        declaredTag = "v2")
    }
    assert(ex.getMessage.contains("stale-schema"))
    assert(spark.table(t2).count() === before, "no bytes may land")
    // and the guard is schema-driven, not order-driven: a v2 batch
    // declared against a v1 catalog fails the same way
    val ex2 = intercept[IllegalArgumentException] {
      TextAnalysis.appendPostingStoreTagged(spark,
        TextAnalysis.postingsWithPositions(docs.limit(10)), t2,
        declaredTag = "v1")
    }
    assert(ex2.getMessage.contains("stale-schema"))
  }

  test("s41: the planted shift fires the gate and swaps to generation 2, " +
    "the swap is non-vacuous (wave-1 counts differ from a gen-1 replay), " +
    "and an in-distribution batch measures UNDER the gate (no re-train " +
    "on noise)") {
    import ops.{BpeTokenizer, Incremental, TextAnalysis}
    import org.apache.spark.sql.functions.{explode, length => slen}
    val out = SparkEntry.queries("s41_stream_tokenizer_retrain")(spark, sf0001)
      .collect()
    assert(streaming.StreamingQueries.s41Acted, "the reversed plant must fire")
    val cat = streaming.StreamingQueries.s41Catalog
    assert(Incremental.catalogVersions(cat) === Seq(1, 2))
    assert(out.forall(r => r.getLong(1) == (if (r.getLong(0) == 0) 1L else 2L)),
      "wave 0 serves generation 1; wave 1 serves generation 2")
    // non-vacuity: replay wave 1 under the RETIRED generation-1 merges —
    // at least one doc's token count must differ, or the swap check has
    // no teeth
    import spark.implicits._
    val m1 = spark.read.parquet(
        Incremental.resolveCatalogVersion(cat, 1, expect = 1).head)
      .orderBy("rank").as[(Int, String, String, Long)].collect().toSeq
    val dw1 = Tables.documents(spark, sf0001)
      .filter(col("doc_id") % 5 === 3)
      .select(col("doc_id"), explode(TextAnalysis.tokens(col("text"), "whitespace")).as("word"))
      .filter(slen(col("word")) > 0)
      .groupBy("doc_id", "word").agg(count(lit(1)).as("cnt"))
    val gen1Replay = dw1
      .join(BpeTokenizer.segmentTypes(dw1.select("word").distinct(), m1), "word")
      .groupBy("doc_id").agg(sum(col("cnt") * col("n_tok")).as("n_gen1"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val wave1 = out.filter(_.getLong(0) == 1L)
      .map(r => r.getLong(2) -> r.getLong(4)).toMap
    assert(wave1.keySet === gen1Replay.keySet)
    assert(wave1.exists { case (id, n) => gen1Replay(id) != n },
      "generation 2 must actually re-segment at least one wave-1 doc")
    // the no-drift branch: the SAME docs arriving un-reversed measure
    // under the 30000-micro gate against the same base census
    val baseCen = Tables.documents(spark, sf0001)
      .filter(col("doc_id") % 5 =!= 3)
      .select(explode(TextAnalysis.tokens(col("text"), "whitespace")).as("word"))
      .filter(slen(col("word")) > 0)
      .groupBy("word").agg(count(lit(1)).as("freq"))
    val plain = dw1.groupBy("word").agg(sum(col("cnt")).as("cnt"))
    val segAll = BpeTokenizer.segmentTypes(
      baseCen.select("word").union(plain.select("word")).distinct(), m1)
    def tpc(cen: org.apache.spark.sql.DataFrame, c: String): Long = {
      val ratio = round(lit(1000000.0) * sum(col(c) * col("n_tok"))
        / sum(col(c) * slen(col("word"))))
      cen.join(segAll, "word").agg(ratio.as("tpc")).head.getDouble(0).toLong
    }
    val drift = tpc(plain, "cnt") - tpc(baseCen, "freq")
    assert(drift < 30000L,
      s"in-distribution drift must stay under the gate, was $drift micros")
  }

  committers.foreach { committer =>
  test(s"[${committer.name}] real-store race (d69's shape, genuinely " +
    "concurrent): ingest append vs takedown compaction both survive; " +
    "the final probe set is base ∪ batch minus tombstones regardless " +
    "of commit order") {
    import ops.Dedup
    val docs = Tables.documents(spark, sf0001)
    val (buckets, _) = Dedup.lshBucketsAndShingles(docs, "doc_id", "text",
      shingleWords = 3, bands = 4, rowsPerBand = 2)
    val isBatch = col("id") % 7 === 3
    val t1 = s"graft_band_r13${committer.name.take(2)}_" + Scratch.nameTag()
    Dedup.writeBandIndex(spark, buckets.filter(!isBatch), t1)
    val cat = newCat(s"r13_store_${committer.name}")
    Incremental.commitCatalogCas(cat)((_, _) => Seq(t1))

    val tomb = docs.filter(col("doc_id") % 7 === 1).select(col("doc_id").as("id"))
    val start = new java.util.concurrent.CountDownLatch(1)
    val failures = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    def publisher(tag: String)(mk: String => String): Thread =
      new Thread(() => {
        start.await()
        try Incremental.commitCatalogCas(cat, maxAttempts = 10, committer) {
          (_, cur) => Seq(mk(cur.head))
        }: Unit
        catch { case t: Throwable => failures.add(t): Unit }
      })
    val ingest = publisher("ingest")(curTable =>
      Dedup.cloneBandIndexWithBatch(spark, curTable, buckets.filter(isBatch), "r13i"))
    val compact = publisher("compact")(curTable =>
      Dedup.compactBandIndex(spark, curTable, tomb, "r13c"))
    ingest.start(); compact.start(); start.countDown()
    ingest.join(); compact.join()
    assert(failures.isEmpty, s"store race failed: ${Option(failures.peek())}")

    // whoever won the race, the final generation holds BOTH updates:
    // batch rows present, tombstoned docs gone, base preserved
    val finV = Incremental.currentCatalogVersion(cat)
    assert(finV >= 2 && finV <= 3,
      s"2 if one publisher observed the other's commit, 3 if they raced: $finV")
    val fin = spark.table(Incremental.readCatalogVersion(cat, finV).head)
    val expected = buckets
      .select(concat_ws(":", col("band"), col("band_key")).as("bk"), col("id"))
      .filter(col("id") % 7 =!= 1).distinct()
    assert(fin.count() === expected.count())
    assert(fin.except(expected).isEmpty && expected.except(fin).isEmpty,
      "final stored content must equal base ∪ batch minus tombstones")
  }
  }
}
