package graft


/** Benchmark main: runs the headline queries from `SparkEntry.benchNames`
  * on `SPARK_GRAFT_SF_DIR` and prints one JSON line for the driver.
  * Each query is timed to completion via `.count()` (forces the full plan;
  * results are not collected to the driver).
  */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    val spark = Engine.session(parallelism = cpus, appName = "graft-bench")

    // optional first arg: comma-separated name prefixes — dev-loop subset
    // runs ("graft.Bench p01,p02"); the driver passes no args
    val only = args.lift(0).map(_.split(',').toSeq)
    val names = SparkEntry.benchNames.filter(n => only.forall(_.exists(n.startsWith)))
    // warm every query's code path once at the smallest SF so the timed
    // runs measure the operators, not JIT/codegen/classloading. Same plan
    // shapes give generated-code cache hits at the target SF only while
    // the suite's classes fit the cache (Engine.CodegenCacheEntries); a
    // class evicted since its warm-up is compiled again in the timed run
    val warmDir = sys.env.getOrElse("SPARK_GRAFT_WARM_DIR", "/root/testdata/sf0.001")
    names.foreach { n =>
      try SparkEntry.queries(n)(spark, warmDir).count() catch { case _: Throwable => () }
    }
    // SPARK_GRAFT_REPS timed repetitions per query (default 2), keeping
    // the BEST: single runs at this scale swing 2-3× on GC/JIT luck
    // (r3's "regression" was byte-identical code), and min-of-N is the
    // standard steady-state estimator for that noise shape
    val reps = sys.env.getOrElse("SPARK_GRAFT_REPS", "2").toInt.max(1)
    val results = names.map { name =>
      val fn = SparkEntry.queries(name)
      val times = (1 to reps).flatMap { _ =>
        // isolate runs from each other's cache/garbage so numbers reflect
        // the query, not the predecessor's heap
        spark.catalog.clearCache()
        System.gc()
        val t0 = System.nanoTime()
        try { fn(spark, sfDir).count(); Some((System.nanoTime() - t0) / 1e9) }
        catch {
          case e: Throwable =>
            Console.err.println(s"bench query $name FAILED: ${e.getMessage}")
            None
        }
      }
      // a failed query reports -1, never its elapsed-until-crash time
      val ok = times.size == reps
      (name, if (ok) times.min else -1.0, ok)
    }
    val qs = results.map { case (k, v, _) => "\"" + k + "\":" + v }
      .mkString("{", ",", "}")
    val errors = results.collect { case (k, _, false) => "\"" + k + "\"" }
      .mkString("[", ",", "]")
    val total = results.filter(_._3).map(_._2).sum
    val json = s"""{"metric":"total","value":$total,"unit":"sec","queries":$qs,"errors":$errors,"sf":"$sfDir"}"""
    println(json)
    // The driver's tail-capture clipped the r11 stdout line (70 queries →
    // one ~3 KB line) and its artifact parsed null. Persist the same JSON
    // to a file as well (the CORRECTNESS_SELF discipline) so the round's
    // bench number survives any stdout truncation.
    // Default is date-stamped and untracked (BENCH_SELF_LAST_*.json is
    // gitignored): the r13 driver bench run overwrote the COMMITTED
    // BENCH_SELF.json with its own state-polluted numbers via this
    // default. Builder runs that should be kept pass an explicit
    // SPARK_GRAFT_BENCH_SELF=BENCH_SELF_r{N}_runX.json.
    val selfPath = sys.env.getOrElse("SPARK_GRAFT_BENCH_SELF",
      "BENCH_SELF_LAST_" + java.time.LocalDate.now() + ".json")
    try java.nio.file.Files.write(java.nio.file.Paths.get(selfPath),
      (json + "\n").getBytes(java.nio.charset.StandardCharsets.UTF_8)): Unit
    catch { case e: Throwable =>
      Console.err.println(s"bench self-artifact write failed: ${e.getMessage}")
    }
    spark.stop()
  }
}
