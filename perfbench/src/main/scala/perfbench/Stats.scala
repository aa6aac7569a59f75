package perfbench

/** The benchmark's arithmetic, kept free of Spark so it can be tested
  * on its own. */
object Stats {
  /** Linear-interpolated quantile (the same rule as numpy's default). */
  def quantile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "quantile of no samples")
    val s = xs.sorted
    val pos = q * (s.size - 1)
    val lo = math.floor(pos).toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }

  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Percentiles the tail metric may report, highest last. */
  val TailLadder: Seq[Double] = Seq(50.0, 75.0, 90.0, 95.0, 99.0, 99.9)

  /** The highest percentile of the ladder that leaves at least `beyond`
    * of `n` samples above it, i.e. `n - ceil(n × p / 100) >= beyond`;
    * the median when even that leaves fewer. */
  def tailPercentile(n: Int, beyond: Int = 10): Double =
    TailLadder.filter(p => n - math.ceil(n * p / 100.0 - 1e-9).toInt >= beyond)
      .lastOption.getOrElse(50.0)

  /** (percentile, value) of the tail rule for `xs`. */
  def tail(xs: Seq[Double]): (Double, Double) = {
    val p = tailPercentile(xs.size)
    (p, quantile(xs, p / 100.0))
  }

  /** Row order of warm pass `pass` for workload seed `seed`: a function of
    * both and nothing else, so a seed replays the same order everywhere. */
  def permutation(seed: Long, pass: Int, n: Int): Vector[Int] =
    new scala.util.Random(seed * 1000003L + pass).shuffle((0 until n).toVector)

  /** Length of the union of `intervals` clipped to `[start, end]`. */
  def covered(start: Long, end: Long, intervals: Seq[(Long, Long)]): Long = {
    val clipped = intervals.map { case (s, e) => (math.max(s, start), math.min(e, end)) }
      .filter { case (s, e) => e > s }.sortBy(_._1)
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    clipped.foreach { case (s, e) =>
      if (s > curE) {
        if (curE > curS) total += curE - curS
        curS = s; curE = e
      } else if (e > curE) curE = e
    }
    if (curE > curS) total += curE - curS
    total
  }

  /** A span's self time: its length minus the part of it that its
    * children (which may overlap each other, e.g. concurrent jobs) cover. */
  def selfTime(start: Long, end: Long, children: Seq[(Long, Long)]): Long =
    (end - start) - covered(start, end, children)
}
