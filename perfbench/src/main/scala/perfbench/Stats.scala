package perfbench

import java.nio.file.{Files, Path}

/** Deletes a directory tree, deepest entries first; absent is fine. */
object Tree {
  def clear(p: Path): Unit =
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.sorted(java.util.Comparator.reverseOrder[Path]()).forEach(f => Files.delete(f))
      finally s.close()
    }
}

/** Summary statistics used for every reported number. */
object Stats {
  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    val m = s.size / 2
    if (s.size % 2 == 1) s(m) else (s(m - 1) + s(m)) / 2
  }

  /** Nearest-rank percentile `p` (0 < p <= 1). */
  def percentile(xs: Seq[Double], p: Double): Double = {
    require(xs.nonEmpty && p > 0 && p <= 1, s"percentile $p of ${xs.size} samples")
    val s = xs.sorted
    s(math.max(0, math.ceil(p * s.size).toInt - 1))
  }

  /** Samples strictly above the nearest-rank percentile `p`; the
    * percentile is reported as defined only when this is at least 10. */
  def beyond(xs: Seq[Double], p: Double): Int = {
    val v = percentile(xs, p)
    xs.count(_ > v)
  }

  /** `num / den`, and 0 when nothing was attempted. */
  def ratio(num: Double, den: Double): Double = if (den == 0) 0.0 else num / den
}
