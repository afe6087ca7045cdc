package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession

import scala.jdk.CollectionConverters._

/** Counts the Spark jobs a block launches. Two marker jobs bracket the
  * block; the listener bus delivers events in order, so once the end
  * marker's start event has arrived, every job of the block has been
  * seen: the count waits for that event, not for a fixed time. */
object JobCount {

  def of(spark: SparkSession)(body: => Unit): Int = {
    val sc = spark.sparkContext
    val id = java.util.UUID.randomUUID().toString
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        seen.add(Option(e.properties).flatMap(p =>
          Option(p.getProperty("spark.job.description"))).getOrElse(""))
    }
    def mark(m: String): Unit = {
      sc.setJobDescription(m)
      try sc.parallelize(Seq(1), 1).count() finally sc.setJobDescription(null)
    }
    sc.addSparkListener(listener)
    try {
      mark(s"start-$id")
      body
      mark(s"end-$id")
      val deadline = System.nanoTime() + 60e9.toLong
      while (!seen.contains(s"end-$id")) {
        assert(System.nanoTime() < deadline, "the end marker job never reached the listener")
        Thread.sleep(5)
      }
      val jobs = seen.asScala.toSeq
      jobs.indexOf(s"end-$id") - jobs.indexOf(s"start-$id") - 1
    } finally sc.removeSparkListener(listener)
  }
}
