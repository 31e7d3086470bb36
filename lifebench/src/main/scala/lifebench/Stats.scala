package lifebench

/** Order statistics used for every reported figure. `quartiles`
  * matches Python's `statistics.quantiles(values, n=4)` (the default
  * "exclusive" method), so spreads computed here and by a Python
  * reader of the same samples agree. */
object Stats {
  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    val n = s.length
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2.0
  }

  /** (q1, q2, q3); needs at least two samples, like Python. */
  def quartiles(xs: Seq[Double]): (Double, Double, Double) = {
    require(xs.length >= 2, "quartiles need at least two samples")
    val s = xs.sorted
    val n = s.length
    def cut(i: Int): Double = {
      val m = n + 1
      val j = math.min(math.max(i * m / 4, 1), n - 1)
      val delta = i * m - j * 4
      (s(j - 1) * (4 - delta) + s(j) * delta) / 4.0
    }
    (cut(1), cut(2), cut(3))
  }

  /** Largest over smallest-median ratio of a stage's task durations:
    * max / median, the skew a straggler imposes on its stage. */
  def skew(durations: Seq[Double]): Double =
    if (durations.length < 2) 1.0
    else {
      val med = median(durations)
      if (med <= 0.0) 1.0 else durations.max / med
    }
}
