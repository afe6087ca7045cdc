package graft

import org.apache.spark.sql.functions._

import ops.Incremental

/** Dev probe: what one `admitBatch` costs on each route at a given batch
  * size, to place `Incremental.DriverAdmitRows`. Stores are built from
  * the p02 corpus of `sf` (doc_id % 11 != 5); a batch of n rows is p02's
  * arrivals (doc_id % 11 == 5) topped up with near copies of corpus docs
  * (first word dropped, fresh ids). Every admit gets freshly built
  * stores; the routes alternate, after one warm-up admit each. Prints one
  * line per admit: route, rows, wall s, process CPU s, Spark jobs.
  * Run: sbt 'Test/runMain graft.AdmitRouteProbe <sf dir> <n,n,...> [reps]'. */
object AdmitRouteProbe {
  def main(args: Array[String]): Unit = {
    val spark = Engine.session(appName = "graft-admit-route-probe")
    val Array(sf, sizes) = args.take(2)
    val reps = args.lift(2).fold(3)(_.toInt)
    val docs = Incremental.plantedDocs(spark, sf)
    val corpus = docs.filter(col("doc_id") % 11 =!= 5)
    val arrivals = docs.filter(col("doc_id") % 11 === 5).unionByName(corpus.select(
      (col("doc_id") + 10000000L).as("doc_id"),
      regexp_replace(col("t"), "^\\S+\\s+", "").as("t")))
    val os = java.lang.management.ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean]
    var run = 0
    def admit(n: Int, driver: Boolean, show: Boolean): Unit = {
      run += 1
      val h = Incremental.initStores(spark, corpus, s"routeprobe$run")
      val batch = spark.createDataFrame(arrivals.orderBy("doc_id").limit(n).collectAsList(),
        arrivals.schema)
      spark.catalog.clearCache(); System.gc()
      var (wall, cpu) = (0.0, 0.0)
      val jobs = JobCount.of(spark) {
        val (c0, t0) = (os.getProcessCpuTime, System.nanoTime())
        val (row, adm) = Incremental.admitBatchRouted(spark, batch, "k", 0L,
          h._1, h._2, h._3, owned = false, tomb = None, driverRoute = driver)
        row.collect(); adm.collect()
        wall = (System.nanoTime() - t0) / 1e9; cpu = (os.getProcessCpuTime - c0) / 1e9
      }
      if (show) println(f"ROUTE ${if (driver) "driver" else "dist"}%-6s rows $n%5d " +
        f"wall $wall%6.2f s cpu $cpu%6.2f s jobs $jobs%3d")
    }
    val ns = sizes.split(",").map(_.toInt)
    Seq(true, false).foreach(d => admit(ns.head, d, show = false))
    for (n <- ns; r <- 0 until reps; d <- if (r % 2 == 0) Seq(true, false) else Seq(false, true))
      admit(n, d, show = true)
    spark.stop()
  }
}
