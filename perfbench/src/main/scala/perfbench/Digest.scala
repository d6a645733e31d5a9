package perfbench

import java.math.MathContext

import org.apache.spark.sql.Row

/** A result's canonical digest, the way tools/check.py canonicalises a
  * result before comparing it with the DuckDB oracle: columns sorted by
  * name, rows sorted, floats compared at 1e-9 relative precision (here:
  * rounded to 9 significant digits). SHA-256 over the rendered text. */
object Digest {
  private val Sig9 = new MathContext(9)

  def render(v: Any): String = v match {
    case null => "null"
    case d: Double => double(d)
    case f: Float => double(f.toDouble)
    case r: Row => r.toSeq.map(render).mkString("{", ",", "}")
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => render(k) + ":" + render(x) }
        .sorted.mkString("{", ",", "}")
    case s: scala.collection.Seq[_] => s.map(render).mkString("[", ",", "]")
    case b: Array[Byte] => b.map("%02x".format(_)).mkString
    case x => x.toString
  }

  def double(d: Double): String =
    if (d.isNaN || d.isInfinite) d.toString
    else if (d == 0.0) "0"
    else new java.math.BigDecimal(d).round(Sig9).stripTrailingZeros.toString

  def canonical(columns: Seq[String], rows: Seq[Row]): String = {
    val order = columns.zipWithIndex.sortBy(_._1).map(_._2)
    val lines = rows.map(r => order.map(i => render(r.get(i))).mkString("\t"))
    (order.map(columns(_)).mkString("\t") +: lines.sorted).mkString("\n")
  }

  def of(columns: Seq[String], rows: Seq[Row]): String =
    java.security.MessageDigest.getInstance("SHA-256")
      .digest(canonical(columns, rows).getBytes("UTF-8"))
      .map("%02x".format(_)).mkString
}
