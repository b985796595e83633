package perfbench

/** Summary statistics used for the reported figures. */
object Stats {

  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    val n = s.length
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  /** The geometric mean over kinds of each kind's median. A workload that
    * alternates index families has one latency mode per family; the
    * median of all batches would fall between two modes and read
    * whichever extreme sample lies nearest, so each family counts alone. */
  def kindMedian(xs: Seq[(String, Double)]): Double = {
    val ms = xs.groupBy(_._1).values.map(g => median(g.map(_._2))).toSeq
    math.exp(ms.map(math.log).sum / ms.size)
  }

  /** The tail sample: the highest nearest-rank percentile with at least
    * ten samples above it, returned as `(percentile, value)`. That is the
    * 11th-largest sample, at percentile `100 * (n - 10) / n`. With fewer
    * than 20 samples not even the median has ten above it, and there is
    * none. The sample count per run is fixed by the run length, so both
    * sides of an A/B read the same percentile. */
  def tail(xs: Seq[Double]): Option[(Double, Double)] = {
    val n = xs.length
    if (n < 20) None else Some((100.0 * (n - 10) / n, xs.sorted.apply(n - 11)))
  }
}
