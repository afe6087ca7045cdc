package graft

/** The cross-JVM CAS race drill the r12 verdict demanded: the "works
  * across JVMs sharing the filesystem" claim, turned into a
  * measurement. Two REAL child JVMs (java -cp, running
  * [[graft.CasRaceMain]]) race the suite JVM's own publisher loop on
  * ONE shared catalog; afterwards the versions must be contiguous
  * (every slot claimed exactly once — no double-win, no gap) and every
  * worker's every update must survive in the final generation (no lost
  * update). Run for BOTH slot-claim primitives: the atomicity of
  * `Files.createLink` / `CREATE_NEW` is a kernel/filesystem property
  * precisely ACROSS processes — in-process thread drills alone can't
  * distinguish it from JVM-level synchronization artifacts. */
object CasCrossJvm {
  /** Race `childJvms` child processes (each `updates` commits) against
    * one in-process publisher loop (`updates` commits) on a fresh
    * catalog. Returns (wallSeconds, totalCommits) after asserting
    * contiguity + no-lost-update; throws on any violation. */
  def run(committer: ops.Incremental.SlotCommitter,
      childJvms: Int, updates: Int): (Double, Int) = {
    val cat = Scratch.dir(s"graft_casjvm_${committer.name}") + "/store.catalog"
    ops.Incremental.commitCatalogCas(cat)((_, _) => Seq("base"))
    val t0 = System.nanoTime()
    val procs = (1 to childJvms).map { w =>
      new ProcessBuilder(
        "java", "-cp", System.getProperty("java.class.path"),
        "graft.CasRaceMain", cat, s"jvm$w", updates.toString, committer.name)
        .redirectErrorStream(true)
        .start()
    }
    // the suite JVM races too — three genuinely independent processes
    val local = (0 until updates).map { i =>
      ops.Incremental.commitCatalogCas(cat, maxAttempts = 10000, committer) {
        (_, cur) => cur :+ s"local-$i"
      }._1
    }
    val outs = procs.map { p =>
      val out = new String(p.getInputStream.readAllBytes())
      val code = p.waitFor()
      require(code == 0, s"child JVM died (exit $code):\n$out")
      require(out.contains("CASRACE_OK"), s"child JVM printed no OK line:\n$out")
      out
    }
    val wall = (System.nanoTime() - t0) / 1e9
    val total = (childJvms + 1) * updates
    val versions = ops.Incremental.catalogVersions(cat)
    require(versions == (1 to total + 1),
      s"versions must be contiguous 1..${total + 1}, got ${versions.take(5)}..${versions.takeRight(5)}")
    val fin = ops.Incremental.readCatalogVersion(cat, total + 1)
    require(fin.head == "base" && fin.size == total + 1,
      s"final generation must hold base + all $total updates, got ${fin.size} lines")
    val expected = (1 to childJvms).flatMap(w =>
      (0 until updates).map(i => s"jvm$w-$i")) ++
      (0 until updates).map(i => s"local-$i")
    expected.foreach(u => require(fin.contains(u), s"update LOST across JVMs: $u"))
    require(local.distinct.size == updates, "local publisher double-claimed a slot")
    outs.foreach(_ => ())
    (wall, total)
  }
}

class CasCrossJvmSpec extends SparkTestBase {
  Seq(ops.Incremental.HardLinkCommitter,
      ops.Incremental.CreateNewCommitter).foreach { committer =>
    test(s"[${committer.name}] two child JVMs + the suite JVM race " +
      "commitCatalogCas on one shared catalog: contiguous versions, " +
      "every update survives") {
      val (_, total) = CasCrossJvm.run(committer, childJvms = 2, updates = 15)
      assert(total === 45)
    }
  }
}
