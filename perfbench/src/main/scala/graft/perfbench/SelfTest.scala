package graft.perfbench

/** Self-test of the metric arithmetic on synthetic spans and samples:
  *   python3 perfbench/run.py --selftest
  * Prints one line per check and exits 1 if any fails. */
object SelfTest {
  import Stats._

  private var failures = 0
  private def expect(name: String, got: Any, want: Any): Unit = {
    val ok = (got, want) match {
      case (g: Double, w: Double) => math.abs(g - w) < 1e-9
      case _ => got == want
    }
    if (!ok) failures += 1
    println(s"${if (ok) "ok  " else "FAIL"} $name: got $got, want $want")
  }

  def main(args: Array[String]): Unit = {
    // percentiles: nearest rank, and p90 needs >= 10 samples beyond it
    val xs = (1 to 100).map(_.toDouble)
    expect("p50 of 1..100", percentile(xs, 50), 50.0)
    expect("p90 of 1..100", percentile(xs, 90), 90.0)
    expect("median of 1..100", median(xs), 50.5)
    expect("median of 3,1,2", median(Seq(3.0, 1.0, 2.0)), 2.0)
    expect("samples beyond p90 of 100", samplesBeyond(100, 90), 10)
    expect("samples beyond p90 of 99", samplesBeyond(99, 90), 9)
    expect("p90 reported with 100 samples", tailPercentile(xs, 90), Some(90.0))
    expect("p90 withheld with 99 samples", tailPercentile(xs.take(99), 90), None)
    expect("p99 withheld with 100 samples", tailPercentile(xs, 99), None)
    expect("p99 reported with 1000 samples",
      tailPercentile((1 to 1000).map(_.toDouble), 99), Some(990.0))

    // interval union: overlaps once, touching and nested intervals
    expect("union of overlapping", unionLength(Seq((0.0, 10.0), (5.0, 15.0))), 15.0)
    expect("union of disjoint", unionLength(Seq((0.0, 1.0), (2.0, 3.0))), 2.0)
    expect("union of nested", unionLength(Seq((0.0, 10.0), (2.0, 3.0))), 10.0)
    expect("union of touching", unionLength(Seq((0.0, 1.0), (1.0, 2.0))), 2.0)
    expect("union ignores empty", unionLength(Seq((5.0, 5.0), (7.0, 6.0))), 0.0)

    // self time: span minus the union of its children, clipped to it
    val spans = Seq(
      Span(1, 0, "pass", 0, 100),
      Span(2, 1, "a", 10, 40),
      Span(3, 1, "b", 30, 60),  // overlaps a: 10..60 covered once
      Span(4, 2, "a.child", 15, 25),
      Span(5, 1, "c", 90, 120)) // runs past its parent: clipped at 100
    val self = selfTimes(spans)
    expect("self of pass", self(1), 100.0 - 50.0 - 10.0)
    expect("self of a", self(2), 30.0 - 10.0)
    expect("self of leaf b", self(3), 30.0)
    expect("self of leaf a.child", self(4), 10.0)
    val tiled = Seq(Span(1, 0, "pass", 0, 100), Span(2, 1, "a", 0, 40),
      Span(3, 2, "a.child", 5, 25), Span(4, 1, "b", 50, 100))
    expect("self times of a tree with disjoint siblings sum to the root's wall",
      selfTimes(tiled).values.sum, 100.0)

    // driver gap: pass wall minus the union of job intervals inside it
    val jobs = Seq((5.0, 20.0), (10.0, 30.0), (50.0, 60.0), (95.0, 130.0), (-20.0, -10.0))
    expect("driver gap", driverGap(0, 100, jobs), 100.0 - 25.0 - 10.0 - 5.0)
    expect("driver gap with no jobs", driverGap(0, 100, Nil), 100.0)

    // fail ratio: failed calls and failed checks over attempted operations
    val led = new Ledger
    led.call("x.ok")(1)
    try led.call("x.throws")(sys.error("boom")) catch { case _: RuntimeException => () }
    led.check("holds")((true, ""))
    led.check("fails")((false, "planted"))
    expect("attempted", led.attempted, 4L)
    expect("failed", led.failed, 2L)
    expect("fail ratio", failRatio(led.attempted, led.failed), 0.5)
    expect("fail ratio of a clean run", failRatio(10, 0), 0.0)

    println(if (failures == 0) "selftest: all checks pass" else s"selftest: $failures FAILED")
    if (failures != 0) sys.exit(1)
  }
}
