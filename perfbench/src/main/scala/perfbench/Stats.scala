package perfbench

/** Order statistics for the per-layer figures (the end-to-end summaries are
  * computed by run.py from the raw samples).
  */
object Stats {
  def median(xs: scala.collection.Seq[Double]): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      val n = s.size
      if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
    }
}
