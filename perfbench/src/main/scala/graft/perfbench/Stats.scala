package graft.perfbench

/** The benchmark's metric arithmetic, kept free of Spark so [[SelfTest]]
  * can check it on synthetic spans and samples. Times are milliseconds on
  * one clock unless a name says otherwise. */
object Stats {

  /** Median of a non-empty sample (mean of the middle pair when even). */
  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of an empty sample")
    val s = xs.sorted
    val n = s.size
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  /** Nearest-rank percentile: the smallest sample with at least p% of the
    * sample at or below it. */
  def percentile(xs: Seq[Double], p: Double): Double = {
    require(xs.nonEmpty, "percentile of an empty sample")
    require(p > 0 && p <= 100, s"percentile out of (0, 100]: $p")
    val s = xs.sorted
    s(math.max(0, math.ceil(p / 100 * s.size).toInt - 1))
  }

  /** Samples strictly above the nearest-rank p-th percentile's rank. */
  def samplesBeyond(n: Int, p: Double): Int =
    n - math.max(1, math.ceil(p / 100 * n).toInt)

  /** A tail percentile is reported only when at least `minBeyond` samples
    * lie beyond it; None otherwise. */
  def tailPercentile(xs: Seq[Double], p: Double, minBeyond: Int = 10): Option[Double] =
    if (xs.nonEmpty && samplesBeyond(xs.size, p) >= minBeyond) Some(percentile(xs, p))
    else None

  /** Total length covered by a set of [start, end) intervals, overlaps
    * counted once. */
  def unionLength(intervals: Seq[(Double, Double)]): Double = {
    var total = 0.0
    var curS = Double.NaN
    var curE = Double.NaN
    intervals.filter { case (s, e) => e > s }.sortBy(_._1).foreach { case (s, e) =>
      if (curS.isNaN || s > curE) {
        if (!curS.isNaN) total += curE - curS
        curS = s; curE = e
      } else curE = math.max(curE, e)
    }
    if (!curS.isNaN) total += curE - curS
    total
  }

  /** Intervals clipped to [lo, hi]; ones entirely outside drop out. */
  def clip(intervals: Seq[(Double, Double)], lo: Double, hi: Double): Seq[(Double, Double)] =
    intervals.map { case (s, e) => (math.max(s, lo), math.min(e, hi)) }.filter(i => i._2 > i._1)

  /** One recorded span. `parent` is 0 for a root. */
  final case class Span(id: Long, parent: Long, name: String, start: Double, end: Double) {
    def dur: Double = end - start
  }

  /** Self time of every span: its duration minus the part of it its
    * direct children cover (children overlapping each other count once). */
  def selfTimes(spans: Seq[Span]): Map[Long, Double] = {
    val kids = spans.groupBy(_.parent)
    spans.map { s =>
      val covered = unionLength(clip(
        kids.getOrElse(s.id, Nil).map(c => (c.start, c.end)), s.start, s.end))
      s.id -> (s.dur - covered)
    }.toMap
  }

  /** Driver gap of one pass: the pass wall minus the union of the Spark
    * job intervals inside it — time no job was running. */
  def driverGap(passStart: Double, passEnd: Double, jobs: Seq[(Double, Double)]): Double =
    (passEnd - passStart) - unionLength(clip(jobs, passStart, passEnd))

  /** Failed operations over attempted ones. */
  def failRatio(attempted: Long, failed: Long): Double = {
    require(attempted >= 1 && failed >= 0 && failed <= attempted,
      s"bad counts: $failed failed of $attempted attempted")
    failed.toDouble / attempted
  }
}
