package graft

/** Catalog HISTORY-VOLUME pricing (r13 verdict task 6): between
  * retention sweeps the drilled commit rate (60-72 commits/s) accrues
  * one small version file per commit, and every WRITER-side operation
  * (`currentCatalogVersion` → `catalogVersions`) lists the history
  * directory — O(versions) — while pointer READERS (`resolveCatalog`)
  * and pinned point-reads stay O(1). This probe synthesizes 1k / 10k /
  * 100k-version histories (direct version-file writes — publishing
  * 100k real versions would itself be the O(N²) it prices) and
  * measures:
  *   - version-list latency (the cost every CAS basis pays) and a full
  *     commitCatalogCas append on top, timed as [[Pairs]] alternating
  *     list/commit pairs and reported as the two medians and their
  *     ratio (commit cost in listings — a single commit sample spread
  *     0.52-0.96 s at 100k versions over runs of the same code, too
  *     wide to resolve a one-listing change),
  *   - a pointer resolve and a point version read (reader side),
  *   - the retention sweep reclaiming the whole history (retain=8).
  * Linear-in-N list cost and flat reader cost are the acceptance
  * shape; the probe also crosses the v100000 six-digit boundary so the
  * volume run exercises the `v\d{5,}` fix at real volume.
  *
  * Run: sbt 'Test/runMain graft.CatalogVolumeProbe' → BENCH_SCALE_r14. */
object CatalogVolumeProbe {
  val Pairs = 25

  def main(args: Array[String]): Unit = {
    import ops.Incremental
    val spark = Engine.session(appName = "graft-catalog-volume-probe")

    def time(body: => Unit): Double = {
      val t0 = System.nanoTime(); body; (System.nanoTime() - t0) / 1e9
    }
    def median(xs: Seq[Double]): Double = {
      val s = xs.sorted
      if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    }

    // straddle the six-digit boundary at the largest size so the
    // volume run exercises the v\d{5,} fix where it matters
    def base(n: Int): Int = if (n >= 100000) 50000 else 0

    // n versions ending at base + n: all but the last written directly,
    // the last one a real commit (which also writes the pointer)
    def synth(prefix: String, n: Int): String = {
      val cat = Scratch.dir(prefix) + "/store.catalog"
      val hd = java.nio.file.Paths.get(cat + ".history")
      java.nio.file.Files.createDirectories(hd)
      (1 until n).foreach { i =>
        val v = base(n) + i
        java.nio.file.Files.write(hd.resolve(f"v$v%05d"),
          Incremental.versionFileBytes(Seq(s"gen$v-meta", "8"))): Unit
      }
      Incremental.commitCatalogCas(cat)((_, _) =>
        Seq(s"gen${base(n) + n}-meta", "8")): Unit
      cat
    }

    val entries = Seq(1000, 10000, 100000).map { n =>
      val tSynth = time { synth(s"graft_catvol_$n", n): Unit }
      // re-synth into the measured dir (synth above warmed the code path)
      val cat = synth(s"graft_catvol_m$n", n)
      val top = base(n) + n

      // writer side, alternating: the version list every CAS basis read
      // performs, then one real optimistic commit on top of the history
      val pairs = (1 to Pairs).map { _ =>
        val list = time { Incremental.currentCatalogVersion(cat): Unit }
        (list, time { Incremental.commitCatalogCas(cat)((_, l) => l): Unit })
      }
      val tList = median(pairs.map(_._1))
      val tCommit = median(pairs.map(_._2))
      // reader side: pointer resolve and a pinned-style point read
      val tResolve = (1 to 5).map(_ =>
        time { Incremental.resolveCatalog(cat, expect = 2): Unit }).min
      val tPoint = (1 to 5).map(_ =>
        time { Incremental.resolveCatalogVersion(cat, base(n) + n / 2,
          expect = 2): Unit }).min
      // the retention sweep reclaiming (n + Pairs - 8) version files
      val tSweep = time {
        Incremental.gcCatalogHistory(spark, cat, retain = 8): Unit
      }
      require(Incremental.catalogVersions(cat).size == 8,
        "sweep must leave exactly the retained window")
      require(Incremental.currentCatalogVersion(cat) == top + Pairs,
        "the committed versions must be visible across the boundary")
      val ratio = tCommit / tList
      f""""v$n":{"synth_sec":$tSynth%.3f,"version_list_sec":$tList%.4f,""" +
        f""""cas_commit_sec":$tCommit%.4f,"commit_per_list":$ratio%.2f,""" +
        f""""pointer_resolve_sec":$tResolve%.6f,""" +
        f""""point_read_sec":$tPoint%.6f,"sweep_sec":$tSweep%.2f}"""
    }
    println(s"""{"metric":"catalog_history_volume","versions":[1000,10000,100000],""" +
      s""""pairs":$Pairs,""" +
      entries.mkString(",") + "}")
    spark.stop()
  }
}
