package graft

import org.apache.spark.sql.functions._

/** Round-13 follow-on work: the ANN funnel's exact-refine LOCALITY (d75 —
  * the refine leg fed from the cell-bucketed raw tier under bucket
  * pruning instead of a corpus scan) and the streaming cell-growth gate
  * (s43 — d73's census→budget→ladder→migration loop closed inside a live
  * ingest stream's maintenance window). */
class RoundFifteenSpec extends SparkTestBase {

  import ops.{Dedup, Incremental, Similarity}

  test("d75: the cell-local refine is row-identical to the corpus-fetch " +
    "refine, and its raw-tier scan is bucket-pruned to the probed cells") {
    import org.apache.spark.sql.classic.ClassicConversions.castToImpl
    val e = Tables.embeddings(spark, sf0001)
      .select(col("vec_id"), Similarity.quantize(col("embedding")).as("v"))
      .withColumn("n2", Similarity.norm2Q(col("v")))
    val raw = Similarity.writeIvfIndex(spark,
      Dedup.reuse(Similarity.ivfAssign(e)), "ivf_r15")
    val cb = Similarity.pqCodebook(spark.table(raw)
      .select(col("cid").as("vec_id"), col("cv2").as("v")))
    val pq = Similarity.writeIvfPqIndex(spark, spark.table(raw)
      .select(col("cell"), col("cid").as("vec_id"), col("cv2").as("v"))
      .withColumn("codes", Similarity.pqCodesCol(cb)), "ivfpq_r15")
    val cents = spark.table(raw).filter(col("cid") < 8)
      .select(col("cid").as("cent_id"), col("cv2").as("cv"))
    val assignQ = Similarity.ivfAssignAgainst(
      e.filter(col("vec_id") >= 10 && col("vec_id") < 15), cents)
    val probes = assignQ.select(col("vec_id").as("qid"),
      col("cell").as("qcell"), Similarity.pqLutCol(cb).as("lut"))
    val queryVecs = assignQ.select(col("vec_id").as("qid"),
      col("v").as("qv"), col("n2").as("qn2"))
    // the corpus-fetch shape (d63/d74's refine): scans ALL vectors
    val corpus = e.select(col("vec_id").as("cid"), col("v").as("cv"),
      col("n2").as("cn2"))
    // the cell-local shape (d75): only the probed cells' buckets
    val cells = assignQ.select(col("cell")).distinct()
      .collect().map(_.getLong(0)).toSeq
    assert(cells.nonEmpty && cells.size <= 5, s"probe cells: $cells")
    val localFetch = spark.table(raw)
      .filter(col("cell").isin(cells.map(Long.box): _*))
      .select(col("cid"), col("cv2").as("cv"), col("cn2"))
    val viaCorpus = Similarity.probeIvfPqTopK(spark.table(pq), probes,
        queryVecs, corpus, kAdc = 10, k = 3)
      .orderBy("qid", "rank").collect().toSeq
    // the shipped d75 shape prunes BOTH tiers' scans to the probed cells
    val prunedPq = spark.table(pq)
      .filter(col("cell").isin(cells.map(Long.box): _*))
    val viaLocal = Similarity.probeIvfPqTopK(prunedPq, probes,
        queryVecs, localFetch, kAdc = 10, k = 3)
      .orderBy("qid", "rank")
    assert(viaLocal.collect().toSeq === viaCorpus,
      "cell-local refine diverged from the corpus fetch")
    // the refine leg's raw-tier scan must be bucket-pruned: strictly
    // fewer buckets read than the table has (the scan that replaces the
    // corpus read at 100 TB reads nprobe/cells of the tier, not all of it)
    val plan = castToImpl(viaLocal).queryExecution.executedPlan.toString
    val sel = "SelectedBucketsCount: (\\d+) out of (\\d+)".r
      .findAllMatchIn(plan).toSeq
    assert(sel.nonEmpty, s"no bucket-pruned scan in the refine plan:\n$plan")
    assert(sel.exists(m => m.group(1).toInt < m.group(2).toInt),
      s"bucket pruning selected every bucket: ${sel.map(_.matched)}")
  }

  test("s43 physical outcome: the streaming cell gate HOLDS at sf0.001 " +
    "(one generation, 8 cells, both waves absorbed) and FIRES at sf0.1 — " +
    "a 16-cell 16-bucket generation CAS-published mid-stream with the " +
    "wave-1 append landing INSIDE the migrated layout") {
    import streaming.StreamingQueries
    // hold branch: 488 rows at census time < the 1024 budget
    SparkEntry.queries("s43_stream_cell_growth_gate")(spark, sf0001)
      .collect(): Unit
    val catHold = StreamingQueries.s43Catalog
    assert(Incremental.catalogVersions(catHold) === Seq(1),
      "no migration may publish when the gate holds")
    val hold = Incremental.resolveCatalog(catHold, expect = 2)
    assert(hold(1) === "8")
    // both ingest waves were absorbed into generation 1 (475 + 13 + 12)
    assert(spark.table(hold.head).count() === 500)

    // fire branch: 1950 rows at census time → the ladder picks 16
    SparkEntry.queries("s43_stream_cell_growth_gate")(spark, "/root/testdata/sf0.1")
      .collect(): Unit
    val catFire = StreamingQueries.s43Catalog
    assert(Incremental.catalogVersions(catFire) === Seq(1, 2),
      "the fired gate must CAS-publish the migrated generation mid-stream")
    val fin = Incremental.resolveCatalog(catFire, expect = 2)
    assert(fin(1) === "16", s"the sizing ladder must pick 16: $fin")
    val migrated = spark.table(fin.head)
    assert(migrated.select("cell").distinct().count() === 16)
    val meta = spark.sessionState.catalog.getTableMetadata(
      org.apache.spark.sql.catalyst.TableIdentifier(fin.head))
    assert(meta.bucketSpec.exists(_.numBuckets === 16),
      s"physical bucket count must scale with the cell count: ${meta.bucketSpec}")
    // the migrated generation carries base + wave 0 (1950), and wave 1's
    // 50 arrivals were appended to IT after the swap — not to gen 1
    assert(migrated.count() === 2000,
      "the wave-1 append must land inside the migrated generation")
    assert(migrated.filter(col("cid") % 40 === 39).count() === 50)
    val gen1 = Incremental.readCatalogVersion(catFire, 1)
    assert(spark.table(gen1.head).count() === 1950,
      "generation 1 must stop growing once the swap lands")
  }

  test("portable store handles: a REAL second JVM — fresh metastore, " +
    "separate process — proves the bare table name does not resolve, " +
    "registers the generation from (path, schema, bucket spec), and " +
    "serves the identical probe") {
    val e = Tables.embeddings(spark, sf0001)
      .select(col("vec_id"), Similarity.quantize(col("embedding")).as("v"))
      .withColumn("n2", Similarity.norm2Q(col("v")))
    val table = Similarity.writeIvfIndex(spark,
      Dedup.reuse(Similarity.ivfAssign(e)), "ivf_xjvm")
    val h = Incremental.exportHandle(spark, table)
    assert(h.numBuckets === 8 && h.bucketCols === Seq("cell"))
    val dir = Scratch.dir("graft_xjvm")
    val handleFile = s"$dir/handle.txt"
    val outFile = s"$dir/rows.txt"
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(handleFile), h.encoded): Unit
    // the parent's own probe of the same generation, same code path
    val cents = spark.table(table).filter(col("cid") < 8)
      .select(col("cid").as("cent_id"), col("cv2").as("cv"))
    val probes = Similarity.ivfAssignAgainst(
        e.filter(col("vec_id") >= 10 && col("vec_id") < 15), cents)
      .select(col("vec_id").as("qid"), col("v").as("qv"),
        col("n2").as("qn2"), col("cell").as("qcell"))
    val expected = Similarity.probeIvfTopK(spark, table, probes, k = 3)
      .orderBy("qid", "rank").collect()
      .map(_.mkString(",")).mkString("\n")
    assert(expected.nonEmpty)

    val cmd = Seq("java") ++ StoreServeMain.jdk17AddOpens ++ Seq("-Xmx2g",
      "-cp", System.getProperty("java.class.path"),
      "graft.StoreServeMain", handleFile, sf0001, outFile)
    val p = new ProcessBuilder(cmd: _*).redirectErrorStream(true).start()
    val out = new String(p.getInputStream.readAllBytes())
    val code = p.waitFor()
    assert(code === 0, s"child JVM died (exit $code):\n${out.takeRight(4000)}")
    assert(out.contains("STORESERVE_OK"), s"no OK line:\n${out.takeRight(4000)}")
    val served = java.nio.file.Files.readString(
      java.nio.file.Paths.get(outFile))
    assert(served === expected,
      "the second JVM's probe through the registered handle diverged")
  }

  test("cross-process concurrent maintenance on a REAL store: a second " +
    "JVM's takedown compaction races this JVM's cell migration through " +
    "one CAS catalog via portable handles — contiguous versions, both " +
    "updates in the deterministic final generation") {
    val e = Tables.embeddings(spark, sf0001)
      .select(col("vec_id"), Similarity.quantize(col("embedding")).as("v"))
      .withColumn("n2", Similarity.norm2Q(col("v")))
    val work = Scratch.dir("graft_xmaint")
    val gen1 = Similarity.writeIvfIndex(spark,
      Dedup.reuse(Similarity.ivfAssign(e)), "xmaint_gen1", nBuckets = 8,
      at = Some(("graft_xmaint_gen1_" + Scratch.nameTag().take(16), s"$work/gen1")))
    val cat = s"$work/store.catalog"
    Incremental.commitCatalogCas(cat)((_, _) =>
      Seq(Incremental.exportHandle(spark, gen1).encoded, "8"))

    val ready = s"$work/child.ready"
    val go = s"$work/parent.go"
    val cmd = Seq("java") ++ StoreServeMain.jdk17AddOpens ++ Seq("-Xmx2g",
      "-cp", System.getProperty("java.class.path"),
      "graft.StoreMaintainMain", cat, work, ready, go)
    val child = new ProcessBuilder(cmd: _*).redirectErrorStream(true).start()
    val deadline = System.nanoTime() + 90L * 1000 * 1000 * 1000
    while (!java.nio.file.Files.exists(java.nio.file.Paths.get(ready))) {
      assert(System.nanoTime() < deadline, "child never became ready")
      Thread.sleep(10)
    }
    java.nio.file.Files.writeString(java.nio.file.Paths.get(go), "go"): Unit
    // the parent races its own publisher: a cell migration (layout op,
    // commuting with the child's content op — tombstones exclude the
    // cid<16 seed interval so the migration seeds are order-independent)
    var attempt = 0
    Incremental.commitCatalogCas(cat) { (_, cur) =>
      attempt += 1
      val h = Incremental.PortableHandle.decode(cur.head)
      Incremental.registerHandle(spark, h): Unit
      val name = s"graft_xmaint_p${attempt}_" + Scratch.nameTag().take(16)
      val t = Similarity.migrateIvfIndexCells(spark, h.name, 16, "xmaint",
        at = Some((name, s"$work/parent_gen$attempt")))
      Seq(Incremental.exportHandle(spark, t).encoded, "16")
    }: Unit
    val out = new String(child.getInputStream.readAllBytes())
    val code = child.waitFor()
    assert(code === 0, s"child JVM died (exit $code):\n${out.takeRight(4000)}")
    assert(out.contains("STOREMAINT_OK"), s"no OK line:\n${out.takeRight(4000)}")
    info("child: " + out.linesIterator
      .find(_.contains("STOREMAINT_OK")).getOrElse("?") +
      s"; parent attempts=$attempt")

    // deterministic final state regardless of race order: v3, 16 cells,
    // (all − tombstones) assigned against the fixture's cid<16 seeds
    assert(Incremental.catalogVersions(cat) === Seq(1, 2, 3),
      "both publishers must land: one wins v2, the loser re-applies as v3")
    val fin = Incremental.readCatalogVersion(cat, 3)
    assert(fin(1) === "16", s"the layout op must survive the race: $fin")
    val finH = Incremental.PortableHandle.decode(fin.head)
    val finTable = Incremental.registerHandle(spark, finH)
    val meta = spark.sessionState.catalog.getTableMetadata(
      org.apache.spark.sql.catalyst.TableIdentifier(finTable))
    assert(meta.bucketSpec.exists(_.numBuckets === 16))
    val cents16 = e.filter(col("vec_id") < 16)
      .select(col("vec_id").as("cent_id"), col("v").as("cv"))
    val expected16 = Similarity.ivfAssignAgainst(
        e.filter(!(col("vec_id") % 7 === 3 && col("vec_id") >= 16)), cents16)
      .select(col("cell"), col("vec_id").as("cid"))
      .orderBy("cell", "cid").collect().toSeq
    val got = spark.table(finTable).select("cell", "cid")
      .orderBy("cell", "cid").collect().toSeq
    assert(got === expected16,
      "final generation must hold BOTH updates: compacted content at the migrated layout")
  }

  test("file-level orphan GC: a dead cross-process maintainer's lost-race " +
    "generation directory is reclaimed; referenced, young, and " +
    "catalog-history directories are kept; a torn version aborts the sweep") {
    val e = Tables.embeddings(spark, sf0001)
      .select(col("vec_id"), Similarity.quantize(col("embedding")).as("v"))
      .withColumn("n2", Similarity.norm2Q(col("v")))
    val work = Scratch.dir("graft_orphdir")
    val gen1 = Similarity.writeIvfIndex(spark,
      Dedup.reuse(Similarity.ivfAssign(e)), "orphdir_gen1", nBuckets = 8,
      at = Some(("graft_orphdir_gen1_" + Scratch.nameTag().take(16), s"$work/gen1")))
    val cat = s"$work/store.catalog"
    Incremental.commitCatalogCas(cat)((_, _) =>
      Seq(Incremental.exportHandle(spark, gen1).encoded, "8"))

    // debris: a dead maintainer's lost-race landing zone (old), and an
    // in-flight maintainer's landing zone (young)
    def mkDir(name: String, ageMs: Long): java.nio.file.Path = {
      val d = java.nio.file.Files.createDirectory(
        java.nio.file.Paths.get(s"$work/$name"))
      java.nio.file.Files.writeString(d.resolve("part-0.parquet"), "x"): Unit
      java.nio.file.Files.setLastModifiedTime(d,
        java.nio.file.attribute.FileTime.fromMillis(
          System.currentTimeMillis() - ageMs))
      d
    }
    val lost = mkDir("child_gen1", ageMs = 60L * 60 * 1000)
    val young = mkDir("child_gen2", ageMs = 0L)

    val reclaimed = Incremental.gcOrphanGenerationDirs(cat, work,
      graceMs = 10L * 60 * 1000)
    assert(reclaimed === Seq(lost.toAbsolutePath.normalize.toString),
      s"exactly the dead maintainer's directory: $reclaimed")
    assert(!java.nio.file.Files.exists(lost))
    assert(java.nio.file.Files.exists(young),
      "the grace window must keep an in-flight maintainer's landing zone")
    assert(java.nio.file.Files.exists(java.nio.file.Paths.get(s"$work/gen1")),
      "the referenced generation must be kept")
    // the catalog itself survived its own sweep: still resolvable
    assert(Incremental.resolveCatalogVersion(cat, 1, expect = 2)(1) === "8")
    assert(spark.table(gen1).count() > 0)

    // a torn version file makes references unknowable: abort, reclaim 0
    val hist = java.nio.file.Paths.get(cat + ".history").resolve("v00001")
    val intact = java.nio.file.Files.readAllBytes(hist)
    java.nio.file.Files.write(hist, intact.dropRight(4)): Unit
    java.nio.file.Files.setLastModifiedTime(young,
      java.nio.file.attribute.FileTime.fromMillis(
        System.currentTimeMillis() - 60L * 60 * 1000)): Unit
    intercept[IllegalArgumentException] {
      Incremental.gcOrphanGenerationDirs(cat, work, graceMs = 10L * 60 * 1000)
    }
    assert(java.nio.file.Files.exists(young),
      "an aborted sweep must reclaim NOTHING")
    java.nio.file.Files.write(hist, intact): Unit
    val second = Incremental.gcOrphanGenerationDirs(cat, work,
      graceMs = 10L * 60 * 1000)
    assert(second === Seq(young.toAbsolutePath.normalize.toString),
      "after the tear heals, the aged-out debris is reclaimed")
    // a never-created generation area is a no-op, not a crash
    assert(Incremental.gcOrphanGenerationDirs(cat, s"$work/nowhere") === Seq())
  }

  test("portable handles round-trip EVERY bucketed store family: band " +
    "index, posting store, and IVF store each survive drop-table (files " +
    "kept) and re-register from the handle with content and bucket spec " +
    "intact") {
    import ops.TextAnalysis
    val docs = Tables.documents(spark, sf0001).limit(200)
    // band index (bk-bucketed): build from the standard minhash pipeline
    val bandTable = "graft_r15_bands_" + Scratch.nameTag().take(16)
    Dedup.writeBandIndex(spark,
      Dedup.lshBuckets(docs, "doc_id", "text",
        shingleWords = 3, bands = 4, rowsPerBand = 2), bandTable)
    // posting store (term-bucketed)
    val postTable = TextAnalysis.writePostingStore(spark,
      TextAnalysis.postingsOf(docs), "r15_post")
    Seq(bandTable -> "bk", postTable -> "term").foreach { case (t, bcol) =>
      val before = spark.table(t).orderBy(spark.table(t).columns.map(col): _*)
        .collect().toSeq
      val h = Incremental.exportHandle(spark, t)
      assert(h.bucketCols === Seq(bcol), s"$t bucket col: ${h.bucketCols}")
      // external table: DROP removes the metastore entry, keeps files —
      // the same blindness a genuinely fresh metastore starts with
      spark.sql(s"DROP TABLE `$t`"): Unit
      assert(!spark.catalog.tableExists(t))
      val back = Incremental.registerHandle(spark, h)
      val meta = spark.sessionState.catalog.getTableMetadata(
        org.apache.spark.sql.catalyst.TableIdentifier(back))
      assert(meta.bucketSpec.exists(_.numBuckets === h.numBuckets))
      assert(meta.bucketSpec.exists(_.bucketColumnNames === Seq(bcol)))
      val after = spark.table(back).orderBy(spark.table(back).columns.map(col): _*)
        .collect().toSeq
      assert(after === before, s"$t content changed across the round-trip")
    }
  }

  test("a live stream consumes a generation published by ANOTHER JVM: " +
    "the mid-stream maintenance (takedown compaction + CAS publish) runs " +
    "in a separate process, and the next micro-batch registers the " +
    "foreign generation on the fly and serves it") {
    val e = Tables.embeddings(spark, sf0001)
      .select(col("vec_id"), Similarity.quantize(col("embedding")).as("v"))
      .withColumn("n2", Similarity.norm2Q(col("v")))
    val work = Scratch.dir("graft_xstream")
    val gen1 = Similarity.writeIvfIndex(spark,
      Dedup.reuse(Similarity.ivfAssign(e)), "xstream_gen1", nBuckets = 8,
      at = Some(("graft_xstream_gen1_" + Scratch.nameTag().take(16), s"$work/gen1")))
    val cat = s"$work/store.catalog"
    Incremental.commitCatalogCas(cat)((_, _) =>
      Seq(Incremental.exportHandle(spark, gen1).encoded, "8"))

    // the foreign maintainer: takedown compaction in its own JVM,
    // gated on our `go` file (written after wave 0)
    val ready = s"$work/child.ready"
    val go = s"$work/parent.go"
    val cmd = Seq("java") ++ StoreServeMain.jdk17AddOpens ++ Seq("-Xmx2g",
      "-cp", System.getProperty("java.class.path"),
      "graft.StoreMaintainMain", cat, work, ready, go)
    val child = new ProcessBuilder(cmd: _*).redirectErrorStream(true).start()

    val outDir = Scratch.dir("graft_xstream_out")
    streaming.StreamingQueries.waveStream(spark, "xstream",
      "vec_id LONG, embedding ARRAY<FLOAT>",
      b => Tables.embeddings(spark, sf0001)
        .filter(col("vec_id") % 40 === lit(19L + 20L * b))
        .select(col("vec_id"), col("embedding")),
      between = {
        // the maintenance window belongs to the OTHER process: let it
        // publish, wait for its generation to land
        val deadline = System.nanoTime() + 90L * 1000 * 1000 * 1000
        while (!java.nio.file.Files.exists(java.nio.file.Paths.get(ready))) {
          assert(System.nanoTime() < deadline, "child never became ready")
          Thread.sleep(10)
        }
        java.nio.file.Files.writeString(java.nio.file.Paths.get(go), "go"): Unit
        while (Incremental.catalogVersions(cat) != Seq(1, 2)) {
          assert(System.nanoTime() < deadline, "child never published")
          Thread.sleep(20)
        }
      }) { (batch, b, _) =>
      // the portable resolve: a foreign generation registers on
      // the fly, a local one is the IF NOT EXISTS no-op
      val h = Incremental.resolvePortableCatalog(spark, cat, expect = 2)
      val bAssign = Similarity.ivfAssignAgainst(
        batch.select(col("vec_id"), Similarity.quantize(col("embedding")).as("v"))
          .withColumn("n2", Similarity.norm2Q(col("v"))),
        spark.table(h.head).filter(col("cid") < h(1).toInt)
          .select(col("cid").as("cent_id"), col("cv2").as("cv")))
      Similarity.probeIvfTopK(spark, h.head,
          bAssign.select(col("vec_id").as("qid"), col("v").as("qv"),
            col("n2").as("qn2"), col("cell").as("qcell")), k = 3)
        .select(lit(b.toLong).as("wave"), col("qid"), col("cell"),
          col("cid"), col("rank"), col("cosine"))
        .write.mode("append").parquet(outDir)
    }
    val out = new String(child.getInputStream.readAllBytes())
    assert(child.waitFor() === 0 && out.contains("STOREMAINT_OK"),
      s"maintainer failed:\n${out.takeRight(4000)}")

    // wave 1 must have served the FOREIGN generation: tombstoned ids
    // gone, everything else ranked exactly as a direct probe of the
    // compacted content
    val rows = spark.read.parquet(outDir)
    val w1 = rows.filter(col("wave") === 1)
    assert(rows.filter(col("wave") === 0).count() > 0 && w1.count() > 0)
    assert(w1.filter(col("cid") % 7 === 3 && col("cid") >= 16).count() === 0,
      "the foreign takedown must be visible to the stream")
    val live = e.filter(!(col("vec_id") % 7 === 3 && col("vec_id") >= 16))
    val cents = e.filter(col("vec_id") < 8)
      .select(col("vec_id").as("cent_id"), col("v").as("cv"))
    val liveAssign = Similarity.ivfAssignAgainst(live, cents)
    val expected = Similarity.probeIvfTopK(
        liveAssign.select(col("cell"), col("vec_id").as("cid"),
          col("v").as("cv2"), col("n2").as("cn2")),
        Similarity.ivfAssignAgainst(
            e.filter(col("vec_id") % 40 === 39), cents)
          .select(col("vec_id").as("qid"), col("v").as("qv"),
            col("n2").as("qn2"), col("cell").as("qcell")), k = 3)
      .orderBy("qid", "rank").collect().toSeq
    val got = w1.select("qid", "cell", "cid", "rank", "cosine")
      .orderBy("qid", "rank").collect().toSeq
    assert(got === expected,
      "wave-1 rankings must equal a direct probe of the compacted content")
  }
}
