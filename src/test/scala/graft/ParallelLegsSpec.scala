package graft

import org.apache.spark.TaskContext
import org.apache.spark.sql.functions._

import ops.Dedup

/** `Dedup.inParallel` stops its siblings when a leg fails, and
  * `Dedup.reuse` pays its materializing job once per cached plan. */
class ParallelLegsSpec extends SparkTestBase {

  test("inParallel cancels the other legs' jobs once a leg fails, and reports " +
    "the failure first with the cancelled leg's error attached") {
    val boom = new IllegalStateException("leg 1 failed")
    spark.sparkContext // legs tag their jobs in the session active when inParallel starts
    val t0 = System.nanoTime()
    val e = intercept[IllegalStateException] {
      Dedup.inParallel(
        // four tasks of a minute each: the leg would take a minute.
        // Cancelling does not interrupt a task, it sets the task's kill
        // flag; these tasks check it every 50 ms, as Spark's record
        // iterators check it between records
        () => spark.range(0, 4, 1, 4).foreach { _ =>
          val (ctx, end) = (TaskContext.get(), System.nanoTime() + 60e9.toLong)
          while (System.nanoTime() < end && !ctx.isInterrupted()) Thread.sleep(50)
        },
        () => { Thread.sleep(1000); throw boom })
    }
    val took = (System.nanoTime() - t0) / 1e9
    assert(e eq boom, "the failing leg's error is not the one thrown")
    assert(e.getSuppressed.length == 1, "the cancelled leg's error was not attached")
    assert(took < 20, f"inParallel returned after $took%.1f s: the long leg was not cancelled")
    // the cancelled tasks ended, so the executor is free again
    val t1 = System.nanoTime()
    assert(spark.range(0, 4, 1, 4).count() == 4)
    assert((System.nanoTime() - t1) / 1e9 < 20, "the cancelled tasks still hold the executor")
  }

  test("inParallel runs every leg to the end when none fails") {
    val done = new java.util.concurrent.atomic.AtomicInteger()
    Dedup.inParallel((1 to 3).map(i => () => {
      assert(spark.range(0, 100 * i).count() == 100 * i)
      done.incrementAndGet(): Unit
    }): _*)
    assert(done.get == 3)
  }

  test("a second reuse of an already cached plan launches no job") {
    val df = spark.range(0, 1000).select((col("id") % 7).as("k")).groupBy("k").count()
    val first = JobCount.of(spark)(Dedup.reuse(df))
    val second = JobCount.of(spark)(Dedup.reuse(df))
    assert(first >= 1, "the first reuse did not materialize its input")
    assert(second == 0, s"reusing a cached plan launched $second jobs")
    df.unpersist()
  }
}
