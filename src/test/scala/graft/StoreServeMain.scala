package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Child-JVM store server for the cross-JVM portability drill
  * (RoundFifteenSpec): a COMPLETELY fresh Spark session — its own
  * metastore, its own warehouse, a separate process — receives a
  * [[graft.ops.Incremental.PortableHandle]], proves the bare table
  * name does NOT resolve here (the gap the handle exists to close),
  * registers the generation from (path, schema, bucket/sort spec), and
  * serves the standard IVF probe through it. The parent compares the
  * emitted rows byte-for-byte against its own probe of the same
  * generation and asserts the child's scan kept the bucketed layout.
  *
  * args: handleFile sfDir outFile */
object StoreServeMain {

  /** JDK-17 module opens a bare `java -cp` Spark child needs (the set
    * build.sbt injects into forked JVMs; mirrors Spark's own
    * JavaModuleOptions.defaultModuleOptions). */
  val jdk17AddOpens: Seq[String] = Seq(
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
  ).flatMap(p => Seq("--add-opens", s"$p=ALL-UNNAMED"))

  def main(args: Array[String]): Unit = {
    val Array(handleFile, sfDir, outFile) = args
    val scratch = java.nio.file.Files.createTempDirectory("graft-serve-wh")
    System.setProperty("derby.system.home", scratch.toString)
    val spark = SparkSession.builder()
      .master("local[4]")
      .appName("graft-store-serve")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.warehouse.dir", s"$scratch/warehouse")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    Engine.install(spark)

    val h = ops.Incremental.PortableHandle.decode(
      java.nio.file.Files.readString(java.nio.file.Paths.get(handleFile)).trim)
    // the premise: the publisher's table NAME means nothing to this
    // fresh metastore — without the portable handle there is no store
    require(!spark.catalog.tableExists(h.name),
      s"premise broken: ${h.name} resolved in a fresh metastore")
    val table = ops.Incremental.registerHandle(spark, h)
    // the registration must carry the layout, not just the files
    val meta = spark.sessionState.catalog.getTableMetadata(
      org.apache.spark.sql.catalyst.TableIdentifier(table))
    require(meta.bucketSpec.exists(_.numBuckets == h.numBuckets),
      s"bucket spec lost in registration: ${meta.bucketSpec}")

    // the standard probe shape: fixed queries assigned against the
    // STORE's own centroids, top-3 cosine within the assigned cell
    import ops.Similarity
    val e = Tables.embeddings(spark, sfDir)
      .select(col("vec_id"), Similarity.quantize(col("embedding")).as("v"))
      .withColumn("n2", Similarity.norm2Q(col("v")))
    val cents = spark.table(table).filter(col("cid") < 8)
      .select(col("cid").as("cent_id"), col("cv2").as("cv"))
    val probes = Similarity.ivfAssignAgainst(
        e.filter(col("vec_id") >= 10 && col("vec_id") < 15), cents)
      .select(col("vec_id").as("qid"), col("v").as("qv"),
        col("n2").as("qn2"), col("cell").as("qcell"))
    val rows = Similarity.probeIvfTopK(spark, table, probes, k = 3)
      .orderBy("qid", "rank").collect()
      .map(_.mkString(",")).mkString("\n")
    java.nio.file.Files.writeString(java.nio.file.Paths.get(outFile), rows): Unit
    println("STORESERVE_OK")
    spark.stop()
  }
}
