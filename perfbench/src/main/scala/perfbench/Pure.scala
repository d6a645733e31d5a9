package perfbench

/** The benchmark's pure pieces: order statistics, interval algebra over
  * spans, and the JSON it prints. No Spark here, so PureSpec covers all
  * of it without a session. */
object Pure {

  /** Median of a non-empty sample (mean of the middle pair when even). */
  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of an empty sample")
    val s = xs.sorted
    val m = s.length / 2
    if (s.length % 2 == 1) s(m) else (s(m - 1) + s(m)) / 2
  }

  /** Geometric mean of a non-empty sample of positive values. */
  def geomean(xs: Seq[Double]): Double = {
    require(xs.nonEmpty && xs.forall(_ > 0), s"geomean needs positive values, got $xs")
    math.exp(xs.map(math.log).sum / xs.length)
  }

  /** Percentile `p` (0–100) by linear interpolation between closest
    * ranks. */
  def percentile(xs: Seq[Double], p: Double): Double = {
    require(xs.nonEmpty, "percentile of an empty sample")
    require(p >= 0 && p <= 100, s"percentile $p outside [0, 100]")
    val s = xs.sorted
    val rank = p / 100 * (s.length - 1)
    val lo = math.floor(rank).toInt
    val hi = math.ceil(rank).toInt
    s(lo) + (s(hi) - s(lo)) * (rank - lo)
  }

  val TailLadder: Seq[Double] = Seq(50, 75, 90, 95, 99, 99.9)

  /** The highest percentile of `ladder` that still has at least `beyond`
    * samples above it in a sample of `n`; None when even the lowest rung
    * has fewer. */
  def tailPercentile(n: Int, beyond: Int = 10,
      ladder: Seq[Double] = TailLadder): Option[Double] =
    ladder.filter(p => n * (100 - p) / 100 >= beyond - 1e-9)
      .maxOption

  /** Union of closed intervals `[start, end]`, merged and sorted. */
  def union(xs: Seq[(Double, Double)]): Seq[(Double, Double)] = {
    val out = Vector.newBuilder[(Double, Double)]
    var cur: Option[(Double, Double)] = None
    xs.filter { case (s, e) => e > s }.sortBy(_._1).foreach { case (s, e) =>
      cur match {
        case Some((cs, ce)) if s <= ce => cur = Some((cs, math.max(ce, e)))
        case Some(c) => out += c; cur = Some((s, e))
        case None => cur = Some((s, e))
      }
    }
    cur.foreach(out += _)
    out.result()
  }

  /** Length of the union of intervals, clipped to `[lo, hi]`. */
  def covered(xs: Seq[(Double, Double)], lo: Double, hi: Double): Double =
    union(xs.map { case (s, e) => (math.max(s, lo), math.min(e, hi)) })
      .map { case (s, e) => e - s }.sum

  /** A span's self time: its duration minus the part of it that its
    * children cover (children may overlap each other or spill past the
    * parent; both are clipped). */
  def selfTime(start: Double, end: Double,
      children: Seq[(Double, Double)]): Double =
    (end - start) - covered(children, start, end)

  private val NamePattern = "[A-Za-z0-9][A-Za-z0-9_.-]{0,63}".r

  def validName(s: String): Boolean = NamePattern.matches(s)

  /** JSON string literal: quote, backslash and every control character
    * below U+0020 are escaped. */
  def jsonString(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case '\n' => b ++= "\\n"
      case '\r' => b ++= "\\r"
      case '\t' => b ++= "\\t"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    b += '"'
    b.result()
  }

  /** JSON number with all its digits; non-finite values have no JSON
    * form and are refused. */
  def jsonNumber(d: Double): String = {
    require(!d.isNaN && !d.isInfinite, s"non-finite metric value $d")
    if (d == math.rint(d) && math.abs(d) < 1e15) d.toLong.toString
    else d.toString
  }

  /** The result line: `metrics` maps name -> (value, unit). */
  def resultLine(correct: Boolean, attempted: Int, failed: Int,
      metrics: Seq[(String, Double, String)]): String = {
    metrics.foreach { case (n, _, _) =>
      require(validName(n), s"metric name '$n' is not [A-Za-z0-9_.-]+")
    }
    val ms = metrics.map { case (n, v, u) =>
      s"${jsonString(n)}: {${jsonString("value")}: ${jsonNumber(v)}, " +
        s"${jsonString("unit")}: ${jsonString(u)}}"
    }.mkString("{", ", ", "}")
    s"""{"correct": $correct, "attempted": $attempted, "failed": $failed, """ +
      s""""metrics": $ms}"""
  }

  /** The core count the session runs on, from its command-line text. */
  def parseCores(s: String): Int =
    s.trim.toIntOption.filter(_ > 0).getOrElse(throw new
        IllegalArgumentException(
          s"--cores must be a positive integer, got '${s}'"))

  /** Thread name and CPU ticks (user + system) from one
    * `/proc/<pid>/task/<tid>/stat` line. The name sits in parentheses and
    * may hold spaces or parentheses itself, so fields are counted from the
    * last ')': utime and stime are fields 14 and 15 of the line. */
  def statTicks(line: String): (String, Long) = {
    val open = line.indexOf('(')
    val close = line.lastIndexOf(')')
    require(open >= 0 && close > open, s"not a /proc stat line: '$line'")
    val rest = line.substring(close + 1).trim.split(" +")
    require(rest.length > 12, s"/proc stat line too short: '$line'")
    (line.substring(open + 1, close), rest(11).toLong + rest(12).toLong)
  }

  /** The JVM's own threads: the JIT compiler's and the garbage
    * collector's, by their Linux thread names (cut to 15 characters). */
  def isRuntimeThread(name: String): Boolean =
    name.startsWith("C1 CompilerThre") || name.startsWith("C2 CompilerThre") ||
      name.startsWith("GC Thread") || name.startsWith("G1 ") || name == "VM Thread"
}
