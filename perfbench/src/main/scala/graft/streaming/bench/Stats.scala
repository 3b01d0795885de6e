package graft.streaming.bench

/** Percentiles under the benchmark's reporting rule: a percentile is
  * reported only when at least ten samples lie beyond it, so p99 needs
  * 1000 samples and p50 needs 20. */
object Stats {
  val Ladder: Seq[Double] = Seq(50.0, 90.0, 95.0, 99.0, 99.9, 99.99)

  def reportable(n: Int, p: Double): Boolean = n * (100.0 - p) / 100.0 >= 10.0 - 1e-9

  /** Linear interpolation between the closest ranks of sorted `xs`. */
  def percentile(sorted: Array[Double], p: Double): Double = {
    require(sorted.nonEmpty, "no samples")
    val pos = p / 100.0 * (sorted.length - 1)
    val lo = math.floor(pos).toInt
    val hi = math.min(lo + 1, sorted.length - 1)
    sorted(lo) + (sorted(hi) - sorted(lo)) * (pos - lo)
  }

  /** The highest percentile of the ladder with ≥ 10 samples beyond it. */
  def tail(sorted: Array[Double]): Option[(Double, Double)] =
    Ladder.filter(reportable(sorted.length, _)).lastOption.map(p => (p, percentile(sorted, p)))

  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "no samples")
    percentile(xs.sorted.toArray, 50.0)
  }

  /** A span's self time: its duration minus the part of its interval that
    * its children cover (overlapping children counted once). */
  def selfNs(parent: Span, children: Seq[Span]): Long = {
    val clipped = children
      .map(c => (math.max(c.startNs, parent.startNs), math.min(c.endNs, parent.endNs)))
      .filter { case (s, e) => e > s }
      .sortBy(_._1)
    var covered = 0L
    var curS = Long.MinValue; var curE = Long.MinValue
    clipped.foreach { case (s, e) =>
      if (s > curE) { covered += math.max(0L, curE - curS); curS = s; curE = e }
      else curE = math.max(curE, e)
    }
    covered += math.max(0L, curE - curS)
    parent.durNs - covered
  }

  /** Self time summed per span name, in ms. */
  def selfByName(spans: Seq[Span]): Map[String, Double] = {
    val kids = spans.groupBy(_.parent)
    spans.groupBy(_.name).map { case (name, ss) =>
      name -> ss.map(s => selfNs(s, kids.getOrElse(s.id, Nil))).sum / 1e6
    }
  }
}
