package perfbench

import org.scalatest.funsuite.AnyFunSuite

import Stats.Sample

class StatsSpec extends AnyFunSuite {

  private def ok(ms: Double*) = ms.map(Sample(_, ok = true))

  test("a percentile above the median needs ten samples beyond its rank") {
    val xs = ok((1 to 99).map(_.toDouble): _*)
    assert(Stats.percentile(xs, 0.9).isEmpty, "99 samples leave 9 beyond p90")
    val p = Stats.percentile(xs :+ Sample(100.0, ok = true), 0.9).get
    assert(p == Stats.Pctl(90.0, 100, 10))
    assert(Stats.percentile(ok(5.0, 1.0, 3.0), 0.5).get == Stats.Pctl(3.0, 3, 1))
    assert(Stats.percentile(Nil, 0.5).isEmpty)
  }

  test("a failed operation enters every percentile as infinitely slow") {
    val xs = ok(1.0, 2.0) :+ Sample(0.5, ok = false)
    assert(Stats.percentile(xs, 0.5).get.value == 2.0,
      "the fast failure must rank slowest, not fastest")
    val mostlyFailed = ok(1.0) ++ Seq.fill(2)(Sample(0.1, ok = false))
    assert(Stats.percentile(mostlyFailed, 0.5).get.value == Double.PositiveInfinity)
    val tail = ok((1 to 95).map(_.toDouble): _*) ++ Seq.fill(5)(Sample(1.0, ok = false))
    assert(Stats.percentile(tail, 0.9).get.value == 90.0)
    assert(Stats.percentile(tail, 0.9).get.n == 100)
  }

  test("closed-loop throughput counts operations completed inside the window") {
    val s = 1000000000L
    // window of 2 s: three ops done inside, one failed, one finished after it
    val ends = Seq((s + 100L, true), (s + 500000000L, true), (2 * s, false),
      (3 * s, true), (4 * s, true))
    assert(Stats.closedLoopRate(ends, s, 3 * s) == 3 / 2.0)
    // an op in flight at the deadline neither counts nor stretches the window
    assert(Stats.closedLoopRate(Seq((5 * s, true)), s, 3 * s) == 0.0)
    intercept[IllegalArgumentException](Stats.closedLoopRate(Nil, s, s))
  }

  test("span self time is duration minus the union of its children") {
    assert(Stats.selfTime(0, 100, Nil) == 100)
    assert(Stats.selfTime(0, 100, Seq((10L, 30L), (50L, 60L))) == 70)
    // overlapping (concurrent) children count once
    assert(Stats.selfTime(0, 100, Seq((10L, 40L), (20L, 50L))) == 60)
    // children are clipped to the parent
    assert(Stats.selfTime(10, 20, Seq((0L, 15L), (18L, 40L))) == 3)
    assert(Stats.unionLength(Seq((5L, 5L), (1L, 3L), (2L, 4L))) == 3)
  }

  test("the tracer's self times follow the span tree") {
    val tr = new Tracer(enabled = true, runId = "t")
    tr.span("root") {
      tr.span("child") { Thread.sleep(20) }
      Thread.sleep(20)
    }
    val spans = tr.spans
    val root = spans.find(_.name == "root").get
    val child = spans.find(_.name == "child").get
    assert(child.parent == root.id && root.parent == 0L && child.runId == "t")
    val self = tr.selfNanos
    assert(self(root.id) == (root.end - root.start) - (child.end - child.start))
    assert(self(child.id) == child.end - child.start)
    val off = new Tracer(enabled = false, runId = "t")
    assert(off.span("x")(42) == 42 && off.spans.isEmpty)
  }
}
