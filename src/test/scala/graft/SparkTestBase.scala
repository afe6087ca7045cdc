package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** One shared local SparkSession per suite (guide: one session, lazy),
  * installed once with `Engine.install` like every engine session. */
trait SparkTestBase extends AnyFunSuite {
  lazy val spark: SparkSession = Engine.install {
    // keep derby + warehouse artifacts out of the repo working dir
    val scratch = java.nio.file.Files.createTempDirectory("graft-test-wh")
    System.setProperty("derby.system.home", scratch.toString)
    SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      // same JVM-global codegen cache size as the engine, whichever
      // session initializes it first
      .config("spark.sql.codegen.cache.maxEntries", Engine.CodegenCacheEntries.toString)
      .config("spark.sql.warehouse.dir", s"$scratch/warehouse")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
  }

  val sf0001 = "/root/testdata/sf0.001"
  val sf001 = "/root/testdata/sf0.01"
}
