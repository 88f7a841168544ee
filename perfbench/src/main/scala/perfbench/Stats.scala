package perfbench

/** A sample of measurements and the order statistics the reports use.
  *
  * Percentiles are nearest-rank: the p-th percentile of n values is the
  * ceil(p/100 * n)-th smallest, so every reported figure is a value that
  * was actually measured. Each report line carries `n` beside it, because
  * a p90 of 5 values is their maximum.
  */
final case class Sample(values: IndexedSeq[Double]) {
  require(values.nonEmpty, "a sample needs at least one value")
  private lazy val sorted = values.sorted

  def n: Int = values.size

  def pct(p: Double): Double = {
    require(p > 0.0 && p <= 100.0, s"percentile must be in (0, 100], got $p")
    val rank = math.ceil(p / 100.0 * n).toInt
    sorted(math.max(rank, 1) - 1)
  }

  def median: Double = pct(50)
  def sum: Double = values.sum

  def geomean: Double = {
    require(values.forall(_ > 0), "geometric mean needs positive values")
    math.exp(values.map(math.log).sum / n)
  }
}

object Sample {
  def of(xs: Iterable[Double]): Sample = Sample(xs.toIndexedSeq)
}
