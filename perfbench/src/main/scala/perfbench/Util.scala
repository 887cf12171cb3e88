package perfbench

import java.nio.file.{Files, Path}

object Json {
  def str(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case '\n' => b ++= "\\n"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    (b += '"').toString
  }
  /** A finite number as measured, all its digits. */
  def num(v: Double): String = {
    require(!v.isNaN && !v.isInfinite, s"not a finite number: $v")
    if (v == math.rint(v) && math.abs(v) < 1e15) v.toLong.toString
    else v.toString
  }
}

object Stats {
  /** Linear-interpolated quantile (q in [0, 1]) of a non-empty sample. */
  def quantile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "quantile of an empty sample")
    val s = xs.sorted
    val pos = q * (s.size - 1)
    val lo = math.floor(pos).toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)
  def mean(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else xs.sum / xs.size

  /** Least-squares slope of y on x (0 with fewer than two distinct x). */
  def slope(pts: Seq[(Double, Double)]): Double = {
    val mx = mean(pts.map(_._1)); val my = mean(pts.map(_._2))
    val sxx = pts.map { case (x, _) => (x - mx) * (x - mx) }.sum
    if (sxx == 0) 0.0
    else pts.map { case (x, y) => (x - mx) * (y - my) }.sum / sxx
  }
}

object Files2 {
  /** Total bytes of the regular files under `root` (0 if absent). */
  def sizeOf(root: Path): Long =
    if (!Files.exists(root)) 0L
    else {
      val s = Files.walk(root)
      try s.filter(Files.isRegularFile(_)).mapToLong(Files.size(_)).sum()
      finally s.close()
    }

  /** Regular files under `root` whose name satisfies `p`. */
  def count(root: Path, p: String => Boolean): Long =
    if (!Files.exists(root)) 0L
    else {
      val s = Files.walk(root)
      try s.filter(f => Files.isRegularFile(f) && p(f.getFileName.toString)).count()
      finally s.close()
    }

  def deleteTree(root: Path): Unit = if (Files.exists(root)) {
    val s = Files.walk(root)
    try s.sorted(java.util.Comparator.reverseOrder[Path]())
      .forEach(p => Files.deleteIfExists(p))
    finally s.close()
  }
}
