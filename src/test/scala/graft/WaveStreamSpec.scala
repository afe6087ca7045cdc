package graft

import scala.jdk.CollectionConverters._

/** The two-wave file-stream driver that s31–s43 run through
  * ([[streaming.StreamingQueries.waveStream]]): its call order on two tiny
  * waves, and a source guard that keeps the file handoff and the
  * one-file-one-batch guard inside the driver. */
class WaveStreamSpec extends SparkTestBase {

  test("waveStream runs onBatch once per wave, in wave order, with that " +
    "wave's rows, and the maintenance window once, between the two waves") {
    import spark.implicits._
    val events = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    streaming.StreamingQueries.waveStream(spark, "wavespec", "id LONG",
      b => (1L to 3L - b).map(_ + 10L * b).toDF("id"),
      between = events.add("between"): Unit) { (batch, b, _) =>
      val ids = batch.as[Long].collect().sorted
      events.add(s"wave $b: ${ids.length} rows ${ids.mkString(",")}"): Unit
    }
    assert(events.asScala.toSeq ===
      Seq("wave 0: 3 rows 1,2,3", "between", "wave 1: 2 rows 11,12"))
  }

  test("the file handoff and the one-file-one-batch guard live in the wave " +
    "driver only, and StreamingQueries starts 10 AvailableNow runs") {
    import SourceScan.codeLines
    val files = SourceScan.scalaFiles("src/main")
    val home = files.filter(_.getName == "StreamingQueries.scala")
    assert(home.size == 1, "StreamingQueries.scala must exist once")
    val lines = codeLines(home.head)
    val from = lines.indexWhere(_.contains("def landArrival("))
    val ws = lines.indexWhere(_.contains("def waveStream("))
    val to = lines.indexWhere(_ == "  }", ws)
    assert(from >= 0 && ws > from && to > ws,
      "landArrival and waveStream must sit together in StreamingQueries")
    Seq(".find(_.getName.endsWith(\".parquet\"))", "getAndIncrement() ==")
      .foreach { marker =>
        val hits = files.flatMap { f =>
          codeLines(f).zipWithIndex.collect {
            case (l, i) if l.contains(marker) => (f, i)
          }
        }
        assert(hits.exists { case (f, i) => f == home.head && i > from && i < to },
          s"the wave driver must hold $marker")
        val strays = hits.filterNot { case (f, i) =>
          f == home.head && i > from && i < to
        }
        assert(strays.isEmpty, s"$marker outside the wave driver: " +
          strays.map { case (f, i) => s"${f.getPath}:${i + 1}" }.mkString(", "))
      }
    assert(lines.count(_.contains("Trigger.AvailableNow()")) === 10)
  }
}
