package perfbench

/** Order statistics the benchmark reports. */
object Stats {

  /** Nearest-rank percentile (`p` in (0, 1]) of unsorted samples. */
  def percentile(xs: Seq[Double], p: Double): Double = {
    require(xs.nonEmpty, "percentile of no samples")
    val s = xs.sorted
    s(math.min(s.size - 1, math.max(0, math.ceil(p * s.size).toInt - 1)))
  }

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    val n = s.size
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  /** Candidate tail percentiles, highest first. */
  val Ladder: Seq[Double] = Seq(0.999, 0.99, 0.95, 0.9, 0.75, 0.5)

  /** The highest ladder percentile with at least ten samples beyond it
    * when `n` samples are taken; none below twenty samples. */
  def tailFor(n: Int): Option[Double] =
    Ladder.find(p => n - math.ceil(p * n).toInt >= 10)

  /** Known-answer checks of the rules above, by name. */
  def selfChecks: Seq[(String, Boolean)] = {
    val hundred = (1 to 100).map(_.toDouble)
    Seq(
      "tailFor(100) = p90" -> (tailFor(100).contains(0.9)),
      "tailFor(1000) = p99" -> (tailFor(1000).contains(0.99)),
      "tailFor(44) = p75" -> (tailFor(44).contains(0.75)),
      "tailFor(39) = p50" -> (tailFor(39).contains(0.5)),
      "tailFor(11) = none" -> (tailFor(11).isEmpty),
      "p90 of 1..100 = 90, ten beyond" ->
        (percentile(hundred, 0.9) == 90.0 && hundred.count(_ > 90.0) == 10),
      "p75 of 1..44 leaves 11 beyond" ->
        (hundred.take(44).count(_ > percentile(hundred.take(44), 0.75)) == 11),
      "median of 1..4 = 2.5" -> (median(Seq(4.0, 1.0, 3.0, 2.0)) == 2.5))
  }
}
