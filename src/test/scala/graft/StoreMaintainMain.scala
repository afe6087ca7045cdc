package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Child-JVM store MAINTAINER for the cross-process concurrent-
  * maintenance drill (RoundFifteenSpec): a separate Spark process with
  * its own metastore resolves the current generation through the
  * shared CAS catalog via its portable handle, performs a REAL
  * takedown compaction of the bucketed store (new-table discipline,
  * rewritten at the RESOLVED bucket spec, landed at a caller-owned
  * durable path), and publishes through `commitCatalogCas` — racing
  * the parent process's cell migration on the same catalog. The s42
  * commuting-ops discipline (content op vs layout op, compaction at
  * the resolved spec, migration seeds excluded from the tombstone set)
  * makes the cross-process race's final state deterministic and
  * assertable by the parent.
  *
  * args: catalogPath workDir readyFile goFile */
object StoreMaintainMain {
  def main(args: Array[String]): Unit = {
    val Array(catalogPath, workDir, readyFile, goFile) = args
    val scratch = java.nio.file.Files.createTempDirectory("graft-maint-wh")
    System.setProperty("derby.system.home", scratch.toString)
    val spark = SparkSession.builder()
      .master("local[4]")
      .appName("graft-store-maintain")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.warehouse.dir", s"$scratch/warehouse")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    Engine.install(spark)

    import ops.{Incremental, Similarity}
    // sanity: the current generation is readable HERE before racing
    val v0 = Incremental.currentCatalogVersion(catalogPath)
    val cur0 = Incremental.readCatalogVersion(catalogPath, v0)
    val h0 = Incremental.PortableHandle.decode(cur0.head)
    Incremental.registerHandle(spark, h0): Unit
    require(spark.table(h0.name).count() > 0, "registered generation is empty")

    // rendezvous: signal readiness, wait for the parent's go
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(readyFile), "ready"): Unit
    val deadline = System.nanoTime() + 60L * 1000 * 1000 * 1000
    while (!java.nio.file.Files.exists(java.nio.file.Paths.get(goFile))) {
      require(System.nanoTime() < deadline, "parent never said go")
      Thread.sleep(10)
    }

    var attempt = 0
    val (v, _) = Incremental.commitCatalogCas(catalogPath) { (_, cur) =>
      // re-APPLY discipline: each attempt re-reads the current
      // generation (possibly the rival's fresh layout), registers it
      // in THIS metastore, and re-runs the compaction against it at
      // its stored bucket spec
      attempt += 1
      val h = Incremental.PortableHandle.decode(cur.head)
      val cells = cur(1).toInt
      Incremental.registerHandle(spark, h): Unit
      val tomb = spark.table(h.name)
        .filter(col("cid") % 7 === 3 && col("cid") >= 16)
        .select(col("cid").as("vec_id"))
      val name = s"graft_xmaint_c${attempt}_" + Scratch.nameTag().take(16)
      val newTable = Similarity.compactIvfIndex(spark, h.name, tomb, "xmaint",
        at = Some((name, s"$workDir/child_gen$attempt")))
      Seq(Incremental.exportHandle(spark, newTable).encoded, cells.toString)
    }
    println(s"STOREMAINT_OK v$v attempts=$attempt")
    spark.stop()
  }
}
