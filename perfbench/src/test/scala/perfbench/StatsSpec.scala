package perfbench

import org.scalatest.funsuite.AnyFunSuite

class StatsSpec extends AnyFunSuite {

  test("median of odd and even counts") {
    assert(Stats.median(Seq(3.0, 1.0, 2.0)) == 2.0)
    assert(Stats.median(Seq(4.0, 1.0, 3.0, 2.0)) == 2.5)
  }

  test("tail is the highest percentile with ten samples beyond it") {
    val xs = (1 to 100).map(_.toDouble)
    val t = Stats.tail(xs).get
    assert(t.value == 90.0)
    assert(t.percentile == 90.0)
    assert(t.samples == 100)
    assert(xs.count(_ > t.value) == Stats.TailBeyond)
    // one sample more moves the rank, not the ten-beyond rule
    val t2 = Stats.tail((1 to 101).map(_.toDouble)).get
    assert(t2.value == 91.0)
    assert(math.abs(t2.percentile - 100.0 * 91 / 101) < 1e-12)
  }

  test("tail needs twenty samples, so it never falls under the median") {
    assert(Stats.tail((1 to 19).map(_.toDouble)).isEmpty)
    val t = Stats.tail((1 to 20).map(_.toDouble).reverse).get
    assert(t.value == 10.0)
    assert(t.percentile == 50.0)
  }

  test("union length merges overlapping, nested and empty intervals") {
    assert(Stats.unionLength(Nil) == 0L)
    assert(Stats.unionLength(Seq((0L, 10L), (5L, 20L), (30L, 40L))) == 30L)
    assert(Stats.unionLength(Seq((0L, 100L), (10L, 20L), (50L, 50L))) == 100L)
    assert(Stats.unionLength(Seq((30L, 40L), (0L, 10L), (10L, 15L))) == 25L)
  }

  test("self time subtracts the clipped union of the children") {
    // children cover 10-50 and 90-100 inside the span; 100-120 sticks out
    assert(Stats.selfTime(0L, 100L, Seq((10L, 30L), (20L, 50L), (90L, 120L))) == 50L)
    assert(Stats.selfTime(0L, 100L, Nil) == 100L)
  }

  test("self times of an op's spans add up to the op's wall time") {
    val labels = scala.collection.mutable.ArrayBuffer.empty[Option[String]]
    val tr = new Tracer(enabled = true, labels += _)
    tr.span("op") {
      tr.span("a") { Thread.sleep(5); tr.span("a.x") { Thread.sleep(5) } }
      Thread.sleep(2)
      tr.span("b") { Thread.sleep(5) }
    }
    val root = tr.spans.head
    val sub = tr.subtree(root)
    assert(sub.map(_.name) == Seq("op", "a", "a.x", "b"))
    assert(sub.map(tr.selfMicros).sum == root.end - root.start)
    assert(sub.forall(_.op == root.op))
    // every span labels its work and hands the label back to its parent
    assert(labels.last.isEmpty)
    assert(labels.head.contains(root.id.toString))
  }

  test("CPU seconds count this JVM's threads and its reaped children") {
    val c0 = Census.cpuSeconds()
    val t0 = System.nanoTime()
    var x = 0L
    while (System.nanoTime() - t0 < 300000000L) x += 1
    val c1 = Census.cpuSeconds()
    assert(c1 - c0 >= 0.2, s"spun 0.3 s, CPU grew by ${c1 - c0} s ($x)")
    // a child's CPU shows once it has been waited for
    new ProcessBuilder("bash", "-c", "t=$EPOCHREALTIME; while (( ${EPOCHREALTIME/./} - ${t/./} < 300000 )); do :; done")
      .start().waitFor()
    assert(Census.cpuSeconds() - c1 >= 0.2)
    assert(Ctx.cpuName("admit_s") == "admit_cpu_s")
  }

  test("a disabled or paused tracer records nothing") {
    val off = new Tracer(enabled = false, _ => fail("labelled while disabled"))
    assert(off.span("x")(42) == 42)
    assert(off.spans.isEmpty)
    val paused = new Tracer(enabled = true, _ => ())
    paused.paused = true
    paused.span("x")(())
    assert(paused.spans.isEmpty)
  }
}
