package perfbench

/** Order statistics over a run's samples. */
object Stats {
  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    val n = s.length
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  /** The highest whole percentile `p` whose nearest-rank value still has at
    * least `beyond` samples strictly above it, with that value — a tail
    * that is backed by enough samples to mean something. `None` when the
    * run has too few samples for any percentile to qualify. */
  def tail(xs: Seq[Double], beyond: Int = 10): Option[(Int, Double)] = {
    val s = xs.sorted
    val n = s.length
    def at(p: Int): Double = s(math.max(0, (p * n + 99) / 100 - 1)) // nearest rank
    (99 to 1 by -1).iterator
      .map(p => p -> at(p))
      .find { case (_, v) => s.count(_ > v) >= beyond }
  }
}
