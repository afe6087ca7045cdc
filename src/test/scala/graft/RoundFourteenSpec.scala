package graft

import org.apache.spark.sql.functions._

/** Round-13 durability additions on the catalog machinery: version-file
  * CHECKSUMS (a torn write fails loudly at every reader instead of
  * resolving wrong handles), failure-TRACKED retention GC (a handle
  * whose reclamation fails keeps its version file as the record for the
  * next sweep — never a permanent storage leak), per-file pin-lease
  * guards (a release racing GC can't abort a sweep), the
  * commitCatalogCas read-retry (a reclaimed basis or an in-flight
  * conditional-put write is a retryable race, not publisher death), and
  * the lease-outlived-by-batch streaming drill (a REAL slow batch that
  * misses its renewal must fail the stream loudly before it can read a
  * possibly-reclaimed generation). */
class RoundFourteenSpec extends SparkTestBase {

  import ops.Incremental

  private def newCat(tag: String): String =
    Scratch.dir(s"graft_${tag}_cat") + "/store.catalog"

  private def histFile(cat: String, v: Int): java.nio.file.Path =
    java.nio.file.Paths.get(cat + ".history").resolve(f"v$v%05d")

  test("torn version files fail every reader loudly: a truncated tail, " +
    "a flipped byte with the RIGHT line count, and a missing trailer " +
    "all refuse to resolve") {
    val cat = newCat("r14_torn")
    Incremental.commitCatalogCas(cat)((_, _) => Seq("table_a", "8"))
    // sanity: intact file resolves
    assert(Incremental.resolveCatalogVersion(cat, 1, expect = 2)
      === Seq("table_a", "8"))

    // (1) truncated mid-line: the trailer is gone
    val f = histFile(cat, 1)
    val intact = java.nio.file.Files.readAllBytes(f)
    java.nio.file.Files.write(f, intact.dropRight(6))
    val torn = intercept[IllegalArgumentException] {
      Incremental.resolveCatalogVersion(cat, 1, expect = 2)
    }
    assert(torn.getMessage.contains("checksum") || torn.getMessage.contains("trailer"))

    // (2) the r12-verdict scenario: RIGHT line count, corrupted content —
    // line-count validation alone would resolve wrong handles here
    val corrupt = new String(intact, "UTF-8").replace("table_a", "table_x")
    java.nio.file.Files.write(f, corrupt.getBytes("UTF-8"))
    val flipped = intercept[IllegalArgumentException] {
      Incremental.resolveCatalogVersion(cat, 1, expect = 2)
    }
    assert(flipped.getMessage.contains("checksum"))
    intercept[IllegalArgumentException] { Incremental.readCatalogVersion(cat, 1) }

    // (3) a pre-checksum-era / trailerless file is equally loud
    java.nio.file.Files.write(f, "table_a\n8\n".getBytes("UTF-8"))
    val noTrailer = intercept[IllegalArgumentException] {
      Incremental.resolveCatalogVersion(cat, 1, expect = 2)
    }
    assert(noTrailer.getMessage.contains("trailer"))

    // restored bytes resolve again — the checksum is pure verification
    java.nio.file.Files.write(f, intact)
    assert(Incremental.resolveCatalogVersion(cat, 1, expect = 2)
      === Seq("table_a", "8"))
  }

  test("retention GC vs torn files: a torn LIVE version aborts the sweep " +
    "loudly (its references are unknowable); a torn DEAD version is kept " +
    "as the investigation record while the rest of the window reclaims") {
    val cat = newCat("r14_gctorn")
    (1 to 4).foreach(i => Incremental.commitCatalogCas(cat)((_, _) => Seq(s"g$i-meta")))
    // torn LIVE version (v4 in the retain=2 window): sweep must abort
    val f4 = histFile(cat, 4)
    val intact4 = java.nio.file.Files.readAllBytes(f4)
    java.nio.file.Files.write(f4, intact4.dropRight(4))
    intercept[IllegalArgumentException] {
      Incremental.gcCatalogHistory(spark, cat, retain = 2)
    }
    assert(Incremental.catalogVersions(cat) === Seq(1, 2, 3, 4),
      "an aborted sweep must reclaim nothing")
    java.nio.file.Files.write(f4, intact4)

    // torn DEAD version (v2): v1 reclaims, v2 is kept for investigation
    val f2 = histFile(cat, 2)
    val intact2 = java.nio.file.Files.readAllBytes(f2)
    java.nio.file.Files.write(f2, intact2.dropRight(4))
    assert(Incremental.gcCatalogHistory(spark, cat, retain = 2) === Seq(1))
    assert(Incremental.catalogVersions(cat) === Seq(2, 3, 4),
      "the torn dead version's file must survive as the record")
    // repairing the file (operator intervention) lets the next sweep finish
    java.nio.file.Files.write(f2, intact2)
    assert(Incremental.gcCatalogHistory(spark, cat, retain = 2) === Seq(2))
  }

  test("commitCatalogCas treats an unreadable basis as a retryable race: " +
    "an in-flight conditional-put write that completes mid-loop is " +
    "absorbed; a PERSISTENTLY torn latest surfaces as livelock with the " +
    "read failure as cause") {
    val cat = newCat("r14_retry")
    Incremental.commitCatalogCas(cat)((_, _) => Seq("base"))
    // simulate a rival's CREATE_NEW claim caught mid-write: the v2 slot
    // exists but its bytes are partial (no checksum trailer yet)
    val v2 = histFile(cat, 2)
    java.nio.file.Files.write(v2, "partial".getBytes("UTF-8"))

    // (a) the rival never finishes: the publisher survives maxAttempts
    // reads and dies with the read failure as CAUSE, not a bare livelock
    val dead = intercept[IllegalStateException] {
      Incremental.commitCatalogCas(cat, maxAttempts = 3) { (_, cur) => cur :+ "u" }
    }
    assert(dead.getCause.isInstanceOf[IllegalArgumentException])

    // (b) the rival finishes its write mid-loop: the publisher's retry
    // reads the completed generation and lands ON TOP of it
    val fixer = new Thread(() => {
      Thread.sleep(60)
      java.nio.file.Files.write(v2, Incremental.versionFileBytes(Seq("base", "rival")))
    })
    fixer.start()
    val (v, attempts) = Incremental.commitCatalogCas(cat, maxAttempts = 100) {
      (_, cur) => cur :+ "mine"
    }
    fixer.join()
    assert(v === 3 && attempts > 1,
      s"must have retried past the torn read (attempts=$attempts)")
    assert(Incremental.readCatalogVersion(cat, 3) === Seq("base", "rival", "mine"),
      "the retried update must compose with the rival's completed commit")
  }

  test("failure-tracked retention GC: a handle whose reclamation FAILS " +
    "keeps its version file for the next sweep (no permanent leak), " +
    "while sibling handles in the same version still reclaim") {
    val cat = newCat("r14_gcfail")
    // v1 carries TWO handles: one that fails to reclaim (a temp view —
    // tableExists says yes, getTableMetadata throws: the shape of a
    // transient metastore error) and one absolute directory that works
    val viewName = "graft_r14_failing_handle"
    spark.range(3).createOrReplaceTempView(viewName)
    val dir = Scratch.dir("graft_r14_leakable")
    java.nio.file.Files.write(java.nio.file.Paths.get(dir, "blob"), "x".getBytes)
    Incremental.commitCatalogCas(cat)((_, _) => Seq(viewName, dir))
    Incremental.commitCatalogCas(cat)((_, _) => Seq("g2-meta"))

    assert(Incremental.gcCatalogHistory(spark, cat, retain = 1) === Seq.empty,
      "a version with a failed handle must NOT report reclaimed")
    assert(Incremental.catalogVersions(cat) === Seq(1, 2),
      "the version file is the record of the leaked handle — it must stay")
    assert(!new java.io.File(dir).exists(),
      "sibling handles must still reclaim this sweep (no short-circuit)")

    // the transient error clears (the view is gone): the next sweep
    // reclaims the recorded handle and only then drops the record
    spark.catalog.dropTempView(viewName)
    assert(Incremental.gcCatalogHistory(spark, cat, retain = 1) === Seq(1))
    assert(Incremental.catalogVersions(cat) === Seq(2))
  }

  test("pin-lease file guards: a malformed lease and one deleted by a " +
    "racing release are both 'released' — the sweep proceeds instead of " +
    "aborting, and intact leases still protect") {
    val cat = newCat("r14_pins")
    (1 to 3).foreach(i => Incremental.commitCatalogCas(cat)((_, _) => Seq(s"g$i-meta")))
    Incremental.acquireCatalogPin(cat, 1, "good-reader", leaseMs = 600000)
    // a malformed lease file (a crashed writer's garbage)
    val pd = java.nio.file.Paths.get(cat + ".pins")
    java.nio.file.Files.write(pd.resolve("broken-reader"), "garbage".getBytes)
    // and one more that a racing release deletes while GC lists the dir
    java.nio.file.Files.write(pd.resolve("racing-reader"),
      "2 9999999999999\n".getBytes)
    val racer = new Thread(() => Incremental.releaseCatalogPin(cat, "racing-reader"))
    racer.start(); racer.join()
    // neither bad lease aborts the sweep; the good lease still protects v1
    assert(Incremental.activeCatalogPins(cat) === Map("good-reader" -> 1))
    assert(Incremental.gcCatalogHistory(spark, cat, retain = 1) === Seq(2),
      "v1 pinned by the intact lease, v2's pin released/garbage → reclaimed")
    assert(Incremental.catalogVersions(cat) === Seq(1, 3))
    // a pinned read through the garbage lease fails loudly, naming the
    // holder, instead of an index or number-format crash
    val e = intercept[IllegalArgumentException] {
      Incremental.resolvePinnedCatalog(cat, "broken-reader", expect = 1)
    }
    assert(e.getMessage.contains("broken-reader") && e.getMessage.contains("re-acquire"),
      e.getMessage)
  }

  test("d73 physical outcome: the cell gate HOLDS at sf0.001 (catalog " +
    "stays at generation 1, 8 cells) and FIRES at sf0.1 (a real 16-cell, " +
    "16-bucket table published through the CAS catalog)") {
    import ops.Similarity
    // hold branch: 500 vectors < 128 * 8 budget
    SparkEntry.queries("d73_cell_growth_gate")(spark, sf0001).collect(): Unit
    val catHold = Similarity.d73Catalog
    assert(Incremental.catalogVersions(catHold) === Seq(1),
      "no migration may publish when the gate holds")
    assert(Incremental.resolveCatalog(catHold, expect = 2)(1) === "8")

    // fire branch: 2000 vectors >= 1024 → ladder picks 16
    SparkEntry.queries("d73_cell_growth_gate")(spark, "/root/testdata/sf0.1")
      .collect(): Unit
    val catFire = Similarity.d73Catalog
    assert(Incremental.catalogVersions(catFire) === Seq(1, 2),
      "the fired gate must CAS-publish the migrated generation")
    val fin = Incremental.resolveCatalog(catFire, expect = 2)
    assert(fin(1) === "16", s"the sizing ladder must pick 16: $fin")
    // the migrated table is REAL: 16 distinct cells, 16-bucket layout
    val migrated = spark.table(fin.head)
    assert(migrated.select("cell").distinct().count() === 16)
    val meta = spark.sessionState.catalog.getTableMetadata(
      org.apache.spark.sql.catalyst.TableIdentifier(fin.head))
    assert(meta.bucketSpec.exists(_.numBuckets === 16),
      s"physical bucket count must scale with the cell count: ${meta.bucketSpec}")
    assert(migrated.count() === 2000, "the migration is content-preserving")
  }

  test("d74 physical outcome: the composed gate holds at sf0.001 (one " +
    "generation, both tiers at 8 cells) and fires at sf0.1 — BOTH tiers " +
    "re-laid at 16 cells and swapped in ONE catalog version") {
    import ops.Similarity
    SparkEntry.queries("d74_pq_tier_growth_gate")(spark, sf0001).collect(): Unit
    val catHold = Similarity.d74Catalog
    assert(Incremental.catalogVersions(catHold) === Seq(1))
    assert(Incremental.resolveCatalog(catHold, expect = 3)(2) === "8")

    SparkEntry.queries("d74_pq_tier_growth_gate")(spark, "/root/testdata/sf0.1")
      .collect(): Unit
    val catFire = Similarity.d74Catalog
    assert(Incremental.catalogVersions(catFire) === Seq(1, 2),
      "the fired gate must land exactly one CAS publish for the whole triple")
    val fin = Incremental.resolveCatalog(catFire, expect = 3)
    assert(fin(2) === "16")
    // BOTH tiers really moved: same 16 cells on each, same membership
    val raw = spark.table(fin.head)
    val pq = spark.table(fin(1))
    assert(raw.select("cell").distinct().count() === 16)
    assert(pq.select("cell").distinct().count() === 16)
    assert(pq.columns.toSeq === Seq("cell", "cid", "codes"), "pq stays codes-only")
    assert(raw.select("cell", "cid").except(pq.select("cell", "cid")).isEmpty &&
      pq.select("cell", "cid").except(raw.select("cell", "cid")).isEmpty,
      "the tiers must agree on every vector's cell — they swapped together")
  }

  test("lease outlived by a REAL slow batch: the renewal is missed while " +
    "the batch sleeps past the lease, and the NEXT pinned read fails the " +
    "stream loudly — never a silent read of a possibly-reclaimed " +
    "generation") {
    import org.apache.spark.sql.streaming.{StreamingQueryException, Trigger}
    val cat = newCat("r14_slowbatch")
    Incremental.commitCatalogCas(cat)((_, _) => Seq("gen1-handle"))
    val chk = Scratch.dir("graft_r14_slow_chk")
    @volatile var reads = List.empty[(Long, String)]
    val q = spark.readStream.format("rate").option("rowsPerSecond", "5").load()
      .writeStream
      .option("checkpointLocation", chk)
      .trigger(Trigger.ProcessingTime(0L))
      .foreachBatch { (_: org.apache.spark.sql.DataFrame, batchId: Long) =>
        if (batchId == 0L) {
          // the consumer pins with a short lease, reads fine, then the
          // batch RUNS LONG — past its own lease; the per-batch renewal
          // (s40's discipline) never happens in time
          Incremental.acquireCatalogPin(cat, 1, "slow-consumer", leaseMs = 400)
          reads = (batchId,
            Incremental.resolvePinnedCatalog(cat, "slow-consumer", expect = 1).head) :: reads
          Thread.sleep(900)
        } else {
          // next batch: the lease is expired — this MUST throw before
          // any data is served from the (possibly reclaimed) generation
          reads = (batchId,
            Incremental.resolvePinnedCatalog(cat, "slow-consumer", expect = 1).head) :: reads
        }
      }
      .start()
    val crash = intercept[StreamingQueryException] { q.awaitTermination() }
    def messages(t: Throwable): List[String] =
      if (t == null) Nil
      else Option(t.getMessage).toList ++ messages(t.getCause)
    assert(messages(crash).exists(_.contains("EXPIRED")),
      s"the stream must die on the loud EXPIRED failure: ${messages(crash)}")
    assert(reads === List((0L, "gen1-handle")),
      "exactly one successful pinned read (batch 0) — batch 1 read nothing")
  }
}
