package perfbench

object Stats {

  /** Nearest-rank quantile of `xs` (0 for no samples). */
  def quantile(xs: Iterable[Double], q: Double): Double = {
    val s = xs.toArray.sorted
    if (s.isEmpty) 0.0 else s(math.min(s.length - 1, math.max(0, math.ceil(q * s.length).toInt - 1)))
  }

  def median(xs: Iterable[Double]): Double = quantile(xs, 0.5)

  /** Peak resident set size of this JVM in MiB (`VmHWM`). */
  def peakRssMb(): Double = {
    val line = scala.io.Source
      .fromFile("/proc/self/status")
      .getLines()
      .find(_.startsWith("VmHWM:"))
      .getOrElse(sys.error("VmHWM missing from /proc/self/status"))
    line.split("\\s+")(1).toDouble / 1024.0
  }
}

object Json {
  def escape(s: String): String =
    s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    }

  def number(v: Double): String =
    if (v.isNaN || v.isInfinite) sys.error(s"not a finite number: $v") else BigDecimal(v).bigDecimal.toPlainString
}
