package graft

import org.apache.spark.sql.functions._

/** Round-14 hardening drills on the catalog machinery — the five r13
  * ADVICE findings, each reproduced first and then proven fixed:
  * (1) a bucketed-but-UNSORTED portable handle (trailing empty field)
  * must round-trip the codec and register; (2) commitCatalogCas must
  * NOT retry a deterministic caller bug in `update` (one attempt, real
  * exception, no debris ladder); (3) a publisher dying inside
  * CreateNewCommitter's claim window (slot created, content never
  * written) must not wedge the catalog forever — the torn LATEST slot
  * past the grace window is reclaimed and the next commit proceeds;
  * (4) the pin-registry scan treats ONLY racing-release / torn-shape
  * failures as "released" — an unexpected I/O error on a live lease
  * aborts the sweep rather than silently dropping the pin; (5) the
  * file-level orphan sweep refuses to run against a PLAIN-NAME
  * catalog's data area (empty referenced set would otherwise reclaim
  * the live serving generation). */
class RoundSixteenSpec extends SparkTestBase {

  import ops.Incremental

  private def newCat(tag: String): String =
    Scratch.dir(s"graft_${tag}_cat") + "/store.catalog"

  private def histFile(cat: String, v: Int): java.nio.file.Path =
    java.nio.file.Paths.get(cat + ".history").resolve(f"v$v%05d")

  private def ageFile(p: java.nio.file.Path, ageMs: Long): Unit =
    java.nio.file.Files.setLastModifiedTime(p,
      java.nio.file.attribute.FileTime.fromMillis(
        System.currentTimeMillis() - ageMs)): Unit

  test("d76: multi-probe serving on the maintained funnel — mean recall@10 " +
    "is monotone non-decreasing in nprobe, every (nprobe, query) cell is " +
    "present, and the serving scans are bucket-pruned to the probed cells " +
    "(the plan SHAPE of nprobe=1, with a grown IN-list)") {
    import org.apache.spark.sql.classic.ClassicConversions.castToImpl
    val df = SparkEntry.queries("d76_multiprobe_recall")(spark, sf0001)
    // the pruned serving scans survive into the composed census plan:
    // at least one bucketed scan reads strictly fewer buckets than the
    // tier has (the GT leg legitimately reads the full tier — it is the
    // measuring stick, not the serving path)
    val plan = castToImpl(df).queryExecution.executedPlan.toString
    val sel = "SelectedBucketsCount: (\\d+) out of (\\d+)".r
      .findAllMatchIn(plan).toSeq
    assert(sel.exists(m => m.group(1).toInt < m.group(2).toInt),
      s"no bucket-pruned serving scan in the d76 plan: ${sel.map(_.matched)}")
    val rows = df.collect()
    assert(rows.length === 45, "15 queries × nprobe {1,2,4}")
    val byNp = rows.groupBy(_.getInt(0)).view
      .mapValues(rs => rs.map(_.getLong(2)).sum / (10.0 * rs.length)).toMap
    assert(byNp.keySet === Set(1, 2, 4))
    assert(byNp(1) <= byNp(2) && byNp(2) <= byNp(4),
      s"mean recall must be monotone in nprobe: $byNp")
    assert(byNp(4) > byNp(1),
      s"probing 4 cells must buy real recall over 1 on this fixture: $byNp")
  }

  test("d77: the nprobe auto-tune gate measures the census, picks the " +
    "SMALLEST depth meeting the integer recall target, and serves the " +
    "disjoint batch at exactly that depth (sf0.001: 45/61/69 of the " +
    "53-of-150 target → nprobe=2; the sf0.1 fallback branch is " +
    "oracle-checked by Verify)") {
    val rows = SparkEntry.queries("d77_nprobe_autotune")(spark, sf0001).collect()
    val (gate, serve) = rows.partition(_.getString(0) == "gate")
    assert(gate.length === 3 && serve.length === 15, s"${rows.length} rows")
    val sums = gate.map(r => r.getInt(1) -> r.getLong(2)).toMap
    assert(sums === Map(1 -> 45L, 2 -> 61L, 4 -> 69L))
    // smallest depth with Σoverlap ≥ 53 is nprobe=2 — every serve row
    // must carry the CHOSEN depth
    assert(serve.forall(_.getInt(1) === 2),
      "the serving half must run at the gate's chosen depth")
    // and the serve rows are a real funnel: 3 ranked hits per query
    assert(serve.map(_.getLong(4)).distinct.length === 5)
    assert(serve.groupBy(_.getLong(4)).values.forall(_.map(_.getLong(7)).sorted
      === Seq(1L, 2L, 3L)))
  }

  test("a bucketed-but-UNSORTED store's portable handle (empty sortCols " +
    "= trailing empty encoded field) round-trips the codec and registers " +
    "through resolvePortableCatalog") {
    import spark.implicits._
    val dir = Scratch.dir("graft_r16_unsorted")
    val t = "graft_r16_unsorted_" + Scratch.nameTag().take(16)
    (1 to 40).map(i => (i.toLong, s"p$i")).toDF("k", "payload")
      .write.bucketBy(4, "k").option("path", s"$dir/gen1").saveAsTable(t)
    val h = Incremental.exportHandle(spark, t)
    assert(h.sortCols.isEmpty, "premise: the store is bucketed, not sorted")
    assert(h.encoded.endsWith("|"),
      "premise: empty sortCols encode as a trailing empty field")
    // the r13 defect: split('|') dropped the trailing empty field →
    // 5 fields → decode failed → the handle passed through unresolved
    assert(Incremental.PortableHandle.decode(h.encoded) === h)

    val before = spark.table(t).orderBy($"k").collect().toSeq
    spark.sql(s"DROP TABLE `$t`"): Unit // external: files survive
    val cat = newCat("r16_unsorted")
    Incremental.commitCatalogCas(cat)((_, _) => Seq(h.encoded, "4"))
    val resolved = Incremental.resolvePortableCatalog(spark, cat, expect = 2)
    assert(resolved === Seq(t, "4"),
      "the handle line must RESOLVE to the table name, not pass through")
    assert(spark.catalog.tableExists(t))
    val meta = spark.sessionState.catalog.getTableMetadata(
      org.apache.spark.sql.catalyst.TableIdentifier(t))
    assert(meta.bucketSpec.exists(_.numBuckets === 4))
    assert(meta.bucketSpec.exists(_.sortColumnNames.isEmpty))
    assert(spark.table(t).orderBy($"k").collect().toSeq === before)
  }

  test("resolvePortableCatalog passes through only lines that do not " +
    "decode: a decodable handle that fails to REGISTER propagates its " +
    "error instead of resolving to the raw encoded line") {
    val t = "graft_r16_badddl_" + Scratch.nameTag().take(16)
    val h = Incremental.PortableHandle(t, Scratch.dir("graft_r16_badddl"),
      "k NOTATYPE", 4, Seq("k"), Seq.empty)
    assert(Incremental.PortableHandle.decode(h.encoded) === h,
      "premise: the line decodes as a handle")
    val cat = newCat("r16_badddl")
    Incremental.commitCatalogCas(cat)((_, _) => Seq(h.encoded, "4"))
    intercept[org.apache.spark.sql.AnalysisException] {
      Incremental.resolvePortableCatalog(spark, cat, expect = 2)
    }
    assert(!spark.catalog.tableExists(t))
  }

  test("commitCatalogCas does NOT retry a deterministic caller bug: an " +
    "IllegalArgumentException thrown by `update` propagates after exactly " +
    "one invocation instead of surfacing as a 10-attempt 'livelock'") {
    val cat = newCat("r16_updbug")
    Incremental.commitCatalogCas(cat)((_, _) => Seq("table_a", "8"))
    var calls = 0
    val boom = intercept[IllegalArgumentException] {
      Incremental.commitCatalogCas(cat) { (_, lines) =>
        calls += 1
        require(lines.head == "no-such-line", "deterministic caller bug")
        lines
      }
    }
    assert(boom.getMessage.contains("deterministic caller bug"),
      "the caller's own exception must surface, not a livelock wrapper")
    assert(calls === 1,
      "a caller bug must not be retried (each retry could materialize a " +
        "full store generation of debris)")
    // the catalog is untouched and still commits normally afterwards
    val (v, att) = Incremental.commitCatalogCas(cat)((_, l) => l :+ "extra")
    assert(v === 2 && att === 1)
  }

  test("conditional-put crash window: a publisher dying between " +
    "CREATE_NEW and the content write leaves a torn LATEST slot; past " +
    "the grace window the next commitCatalogCas reclaims it and the " +
    "catalog un-wedges — while a YOUNG torn slot (possible in-flight " +
    "writer) and a torn DEAD slot are both left alone") {
    val cat = newCat("r16_crash")
    Incremental.commitCatalogCas(cat)((_, _) => Seq("gen1", "8"))
    Incremental.commitCatalogCas(cat)((_, _) => Seq("gen2", "8"))

    // simulate the crash: the v3 slot file exists (CREATE_NEW won) but
    // the content/checksum never landed — zero bytes, like a publisher
    // kill -9'd inside CreateNewCommitter.claim
    val slot3 = histFile(cat, 3)
    java.nio.file.Files.write(slot3, Array.empty[Byte],
      java.nio.file.StandardOpenOption.CREATE_NEW): Unit

    // every reader now fails loudly on the latest generation
    intercept[IllegalArgumentException] { Incremental.readCatalogVersion(cat, 3) }

    // a YOUNG torn slot is indistinguishable from an in-flight rival's
    // write — repair must refuse, and the short CAS loop must exhaust
    assert(Incremental.repairTornCatalogSlot(cat).isEmpty)
    val wedged = intercept[IllegalStateException] {
      Incremental.commitCatalogCas(cat, maxAttempts = 3)((_, l) => l)
    }
    assert(wedged.getMessage.contains("livelock"))
    assert(java.nio.file.Files.exists(slot3), "young torn slot must survive")

    // age the slot past the grace window: now it is provably crash
    // debris (no writer holds a claim open for a minute)
    ageFile(slot3, 2L * 60 * 1000)
    val (v, _) = Incremental.commitCatalogCas(cat) { (cur, lines) =>
      assert(cur === 2, "the basis after repair is the last VALID generation")
      assert(lines === Seq("gen2", "8"))
      Seq("gen3", "8")
    }
    assert(v === 3, "the reclaimed slot is re-claimed by the next commit")
    assert(Incremental.readCatalogVersion(cat, 3) === Seq("gen3", "8"))

    // scope guard: a torn NON-latest slot is the retention sweep's
    // investigation record — repair must never touch it
    val slot1 = histFile(cat, 1)
    val intact1 = java.nio.file.Files.readAllBytes(slot1)
    java.nio.file.Files.write(slot1, intact1.dropRight(5))
    ageFile(slot1, 2L * 60 * 1000)
    assert(Incremental.repairTornCatalogSlot(cat).isEmpty,
      "repair is scoped to the LATEST slot only")
    assert(java.nio.file.Files.exists(slot1))
    // and a VALID latest slot is never touched regardless of age
    ageFile(histFile(cat, 3), 2L * 60 * 1000)
    assert(Incremental.repairTornCatalogSlot(cat).isEmpty)
    assert(Incremental.readCatalogVersion(cat, 3) === Seq("gen3", "8"))
  }

  test("pin-registry scan failure taxonomy: a torn/malformed lease reads " +
    "as released, but an UNEXPECTED I/O error on a lease aborts the scan " +
    "(and hence the retention sweep) instead of silently unpinning") {
    val cat = newCat("r16_pins")
    (1 to 3).foreach(i => Incremental.commitCatalogCas(cat)((_, _) => Seq(s"g$i")))
    Incremental.acquireCatalogPin(cat, 1, "live-reader", leaseMs = 60000)

    val pd = java.nio.file.Paths.get(cat + ".pins")
    // a torn lease (shape garbage): protects nothing, scan continues
    java.nio.file.Files.write(pd.resolve("torn-holder"),
      "not a lease".getBytes("UTF-8")): Unit
    assert(Incremental.activeCatalogPins(cat) === Map("live-reader" -> 1))

    // an unreadable lease entry (directory where a file belongs — the
    // stand-in for a transient I/O fault): the scan must ABORT, because
    // defaulting it to "unpinned" would let GC reclaim a generation a
    // reader still holds
    val weird = pd.resolve("io-fault-holder")
    java.nio.file.Files.createDirectories(weird)
    intercept[java.io.IOException] { Incremental.activeCatalogPins(cat) }
    intercept[java.io.IOException] {
      Incremental.gcCatalogHistory(spark, cat, retain = 1)
    }
    assert(Incremental.catalogVersions(cat) === Seq(1, 2, 3),
      "an aborted sweep must reclaim nothing")

    // fault cleared → the sweep proceeds and the live pin still protects v1
    java.nio.file.Files.delete(weird)
    val reclaimed = Incremental.gcCatalogHistory(spark, cat, retain = 1)
    assert(reclaimed === Seq(2))
    assert(Incremental.catalogVersions(cat) === Seq(1, 3))
  }

  test("HadoopFsCommitter: the deployable FileSystem.create(overwrite=" +
    "false) port drives the FULL catalog lifecycle on file:// — version " +
    "files written through the Hadoop stack are byte-compatible with the " +
    "java.nio readers (checksums verify), CAS composes updates, the " +
    "retention sweep reclaims, and no .crc sidecars pollute the history") {
    val cat = newCat("r16_hadoopfs")
    val hfs = Incremental.HadoopFsCommitter
    Incremental.commitCatalogCas(cat)((_, _) => Seq("base"))
    (1 to 5).foreach { i =>
      val (v, _) = Incremental.commitCatalogCas(cat, committer = hfs) {
        (_, lines) => lines :+ s"gen$i"
      }
      assert(v === i + 1)
    }
    assert(Incremental.resolveCatalog(cat, expect = 6)
      === "base" +: (1 to 5).map(i => s"gen$i"))
    // java.nio readers checksum-verify the Hadoop-written files
    assert(Incremental.readCatalogVersion(cat, 6).last === "gen5")
    assert(Incremental.resolveCatalogVersion(cat, 4, expect = 4).last === "gen3")
    // the local claim ran RAW (no ChecksumFileSystem .crc debris that
    // would survive sweeps as untracked files)
    val hd = java.nio.file.Paths.get(cat + ".history")
    val listing = java.nio.file.Files.list(hd)
    val names =
      try scala.jdk.CollectionConverters.IteratorHasAsScala(listing.iterator())
        .asScala.map(_.getFileName.toString).toSeq
      finally listing.close()
    assert(!names.exists(_.endsWith(".crc")), s"crc sidecars: $names")
    assert(Incremental.gcCatalogHistory(spark, cat, retain = 2) === (1 to 4))
    assert(Incremental.catalogVersions(cat) === Seq(5, 6))
  }

  test("HadoopFsCommitter divergence measurement: on file:// the " +
    "exclusive-create is exists-check-then-create (TOCTOU), so a " +
    "same-slot race may yield TWO winners — but never more, never zero, " +
    "and the slot content is always exactly one claimant's bytes or a " +
    "LOUDLY-torn file (the checksum trailer), never a silent blend. " +
    "(On HDFS the namenode makes the same call atomic — exactly one " +
    "winner; not drillable here: no HDFS server classes ship in the " +
    "hadoop-client jars.)") {
    val hfs = Incremental.HadoopFsCommitter
    val cat = newCat("r16_hfsrace")
    val hd = java.nio.file.Paths.get(cat + ".history")
    java.nio.file.Files.createDirectories(hd)
    var dualClaims = 0
    (1 to 20).foreach { round =>
      val slot = hd.resolve(f"v$round%05d")
      val payloads = Seq("a", "b").map(w =>
        w -> Incremental.versionFileBytes(Seq(s"r$round-$w")))
      val start = new java.util.concurrent.CountDownLatch(1)
      val wins = new java.util.concurrent.ConcurrentLinkedQueue[String]()
      val ts = payloads.map { case (who, bytes) =>
        new Thread(() => {
          start.await()
          if (hfs.claim(slot, bytes)) { wins.add(who); () }
        })
      }
      ts.foreach(_.start()); start.countDown(); ts.foreach(_.join())
      val winners = wins.toArray(Array.empty[String]).toSeq
      assert(winners.nonEmpty && winners.size <= 2,
        s"round $round: $winners")
      if (winners.size == 2) dualClaims += 1
      // content integrity: whatever landed is ONE claimant's whole file,
      // or the checksum rejects it loudly — never wrong-lines resolve
      val parsed =
        try Some(Incremental.readCatalogVersion(cat, round))
        catch { case _: IllegalArgumentException => None } // torn → LOUD
      parsed.foreach { lines =>
        assert(lines.size == 1 && winners.exists(w => lines.head == s"r$round-$w"),
          s"round $round resolved to a blend: $lines vs winners $winners")
      }
    }
    info(s"dual-claim rounds on file:// (TOCTOU divergence, 0 on HDFS): " +
      s"$dualClaims/20")
  }

  test("the version-number boundary at v100000: %05d grows to six digits " +
    "there, and the version list must keep seeing every newer generation " +
    "(the exactly-five-digit filter would wedge every CAS at 25 minutes " +
    "of production commit rate)") {
    val cat = newCat("r16_v100k")
    val hd = java.nio.file.Paths.get(cat + ".history")
    java.nio.file.Files.createDirectories(hd)
    // synthesize the boundary directly (publishing 100k real versions is
    // the volume probe's job): the last five-digit version and the first
    // six-digit one
    Seq(99999, 100000).foreach { v =>
      java.nio.file.Files.write(hd.resolve(f"v$v%05d"),
        Incremental.versionFileBytes(Seq(s"gen$v", "8"))): Unit
    }
    assert(Incremental.catalogVersions(cat) === Seq(99999, 100000))
    assert(Incremental.currentCatalogVersion(cat) === 100000)
    assert(Incremental.readCatalogVersion(cat, 100000) === Seq("gen100000", "8"))
    // and the commit path crosses the boundary without wedging
    val (v, att) = Incremental.commitCatalogCas(cat)((_, l) => l :+ "extra")
    assert(v === 100001 && att === 1)
    assert(Incremental.resolveCatalogVersion(cat, 100001, expect = 3)
      === Seq("gen100000", "8", "extra"))
    // a version-file tmp (claim in flight) is still never mistaken for a
    // committed version, on either side of the boundary
    java.nio.file.Files.write(hd.resolve("v100002.tmp.deadbeef"),
      "junk".getBytes("UTF-8")): Unit
    assert(Incremental.currentCatalogVersion(cat) === 100001)
  }

  test("file-level orphan sweep refuses a PLAIN-NAME catalog: with no " +
    "decodable portable-handle line in any recorded version the sweep " +
    "is a no-op — it cannot reclaim the live serving generation of a " +
    "store it does not govern") {
    val work = Scratch.dir("graft_r16_plainname")
    val cat = s"$work/store.catalog"
    // the default writeIvfIndex flow: lines are plain metastore
    // table names + scalar metadata, no handles
    Incremental.commitCatalogCas(cat)((_, _) =>
      Seq("graft_plain_gen1", "8", "schema=v2"))
    val gen = java.nio.file.Paths.get(s"$work/gen1")
    java.nio.file.Files.createDirectories(gen)
    java.nio.file.Files.write(gen.resolve("part-0.parquet"),
      "live data".getBytes("UTF-8")): Unit
    ageFile(gen, 2L * 60 * 60 * 1000) // far past any grace window

    val swept = Incremental.gcOrphanGenerationDirs(cat, work, graceMs = 0)
    assert(swept.isEmpty, "plain-name catalog → the sweep must no-op")
    assert(java.nio.file.Files.exists(gen.resolve("part-0.parquet")),
      "the live serving generation must survive")

    // contrast: once a recorded version DOES carry a handle, the sweep
    // governs the area and reclaims true orphans while keeping the
    // referenced generation
    import spark.implicits._
    val t = "graft_r16_handle_" + Scratch.nameTag().take(16)
    (1 to 10).map(i => (i.toLong, i.toString)).toDF("k", "v")
      .write.bucketBy(2, "k").option("path", s"$work/gen2").saveAsTable(t)
    Incremental.commitCatalogCas(cat)((_, _) =>
      Seq(Incremental.exportHandle(spark, t).encoded, "8", "schema=v2"))
    val orphan = java.nio.file.Paths.get(s"$work/dead_gen")
    java.nio.file.Files.createDirectories(orphan)
    ageFile(orphan, 2L * 60 * 60 * 1000)
    ageFile(java.nio.file.Paths.get(s"$work/gen2"), 2L * 60 * 60 * 1000)
    val swept2 = Incremental.gcOrphanGenerationDirs(cat, work, graceMs = 60000)
    // dead_gen is a true orphan; gen1 is legitimately sweepable too now —
    // no HANDLE in any recorded version references it once the store
    // migrated to portable handles (plain names don't pin directories)
    assert(swept2.map(p => p.substring(p.lastIndexOf('/') + 1)).toSet
      === Set("dead_gen", "gen1"))
    assert(java.nio.file.Files.isDirectory(java.nio.file.Paths.get(s"$work/gen2")),
      "the handle-referenced generation must survive")
  }
}
