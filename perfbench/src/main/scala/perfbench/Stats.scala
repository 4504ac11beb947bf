package perfbench

/** Pure helpers behind the layer accounting. */
object Stats {

  /** Median of `xs` (mean of the two middle values for an even count). */
  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no values")
    val s = xs.sorted
    val n = s.size
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2.0
  }

  /** A stage's shuffle-write skew: its largest task's bytes over the
    * median task's. `None` when the stage wrote nothing or has a single
    * task, where the ratio says nothing about balance.
    */
  def skew(taskBytes: Seq[Long]): Option[Double] =
    if (taskBytes.size < 2) None
    else {
      val med = median(taskBytes.map(_.toDouble))
      if (med <= 0.0) None else Some(taskBytes.max / med)
    }

  /** Total length of the union of half-open intervals `[start, end)`. */
  def unionLength(intervals: Seq[(Double, Double)]): Double = {
    var total = 0.0
    var curStart = Double.NaN
    var curEnd = Double.NaN
    intervals.filter { case (s, e) => e > s }.sortBy(_._1).foreach { case (s, e) =>
      if (curEnd.isNaN || s > curEnd) {
        if (!curEnd.isNaN) total += curEnd - curStart
        curStart = s; curEnd = e
      } else if (e > curEnd) curEnd = e
    }
    if (!curEnd.isNaN) total += curEnd - curStart
    total
  }
}
