package graft.profiler

import Report.{J, JArr, JBool, JInt, JNull, JNum, JObj, JStr, esc, write}

/** Full-fidelity profile save/load (the reference's ProfileEncoder /
  * json_decoder pair, profile_builder.py:1112-1234, json_decoder.py:1-276
  * — pickle is a non-goal). Unlike [[Report]] (a human-facing view), this
  * serialization carries ALL mergeable state — central moments, histogram
  * buffers, correlation co-moments, label votes — so a decoded profile
  * can keep merging/diffing exactly where it left off. NaN encodes as
  * null and decodes back to NaN.
  */
object Codec {

  // ------------------------------------------------------------- encoding
  private def jd(d: Double): J = if (d.isNaN || d.isInfinite) JNull else JNum(d)

  private def strMap(m: Map[String, Long]): J =
    JObj(m.toSeq.sortBy(_._1).map { case (k, v) => k -> JInt(v) })

  private def b64(b: Array[Byte]): J =
    JStr(java.util.Base64.getEncoder.encodeToString(b))

  def toJson(p: Profile): JObj = JObj(Seq(
    "row_count" -> JInt(p.rowCount),
    "approx_distinct_rows" -> JInt(p.approxDistinctRows),
    "row_has_null" -> JInt(p.rowHasNull),
    "row_is_null" -> JInt(p.rowIsNull),
    "columns" -> JArr(p.columns.map(colJson)),
    "correlation_state" -> JArr(p.correlationState.toSeq
      .sortBy { case ((a, b), _) => (a, b) }
      .map { case ((a, b), m) => JObj(Seq(
        "a" -> JStr(a), "b" -> JStr(b), "n" -> JInt(m.n),
        "mean_a" -> jd(m.meanA), "mean_b" -> jd(m.meanB),
        "m2a" -> jd(m.m2a), "m2b" -> jd(m.m2b), "com" -> jd(m.com)))
      }),
    "times_ms" -> strMap(p.timesMs)) ++
    p.rowsSketch.map(b => "rows_sketch" -> b64(b)))

  private def colJson(c: ColumnProfile): JObj = JObj(Seq(
    "name" -> JStr(c.name),
    "spark_type" -> JStr(c.sparkType),
    "inferred_type" -> JStr(c.inferredType),
    "n" -> JInt(c.n),
    "nulls" -> JInt(c.nulls),
    "approx_distinct" -> JInt(c.approxDistinct)) ++
    c.numeric.map(s => "numeric" -> JObj(Seq(
      "n" -> JInt(s.n), "mean" -> jd(s.mean),
      "m2" -> jd(s.m2), "m3" -> jd(s.m3), "m4" -> jd(s.m4),
      "min" -> jd(s.min), "max" -> jd(s.max), "sum" -> jd(s.sum),
      "zeros" -> JInt(s.zeros), "negatives" -> JInt(s.negatives),
      "approx_distinct" -> JInt(s.approxDistinct),
      "quantiles" -> JObj(s.quantiles.toSeq.sortBy(_._1)
        .map { case (q, v) => q.toString -> jd(v) })))) ++
    c.histogram.map(h => "histogram" -> JObj(Seq(
      "lo" -> jd(h.lo), "hi" -> jd(h.hi),
      "counts" -> JArr(h.counts.toSeq.map(JInt))))) ++
    c.categorical.map(s => "categorical" -> JObj(Seq(
      "n_cat" -> JInt(s.nCat),
      "counts" -> strMap(s.counts),
      "capped" -> JBool(s.capped),
      "heavy_hitters" -> strMap(s.heavyHitters)) ++
      s.cmsBytes.map(b => "cms_sketch" -> b64(b)))) ++
    c.text.map(s => "text" -> JObj(Seq(
      "min_len" -> jd(s.minLen), "max_len" -> jd(s.maxLen),
      "mean_len" -> jd(s.meanLen), "len_m2" -> jd(s.lenM2),
      "n_len" -> JInt(s.nLen),
      "vocab" -> JArr(s.vocab.toSeq.sorted.map(JStr))))) ++
    c.datetime.map(s => "datetime" -> JObj(Seq(
      "min_ts" -> JStr(s.minTs), "max_ts" -> JStr(s.maxTs),
      "n_days" -> JInt(s.nDays)))) ++
    (if (c.labelVotes.isEmpty) Seq.empty
     else Seq("label_votes" -> strMap(c.labelVotes))) ++
    c.order.map(o => "order" -> JStr(o)) ++
    (if (c.datetimeFormats.isEmpty) Seq.empty
     else Seq("datetime_formats" -> JArr(c.datetimeFormats.map(JStr)))) ++
    (if (c.exemplars.isEmpty) Seq.empty
     else Seq("exemplars" -> JArr(c.exemplars.map(JStr)))) ++
    c.ndvSketch.map(b => "ndv_sketch" -> b64(b)) ++
    (if (c.pluginStats.isEmpty) Seq.empty
     else Seq("plugin_stats" -> JObj(
       c.pluginStats.toSeq.sortBy(_._1)
         .map { case (k, v) => k -> jd(v) }))))

  def encode(p: Profile): String = write(toJson(p))

  // ------------------------------------------------------------- parsing
  /** Minimal recursive-descent JSON parser for the codec's own output
    * (no external JSON dependency, mirroring Report's writer). */
  private final class Parser(s: String) {
    private var i = 0
    private def ws(): Unit = while (i < s.length && s.charAt(i).isWhitespace) i += 1
    private def expect(c: Char): Unit = {
      ws()
      require(i < s.length && s.charAt(i) == c, s"expected '$c' at $i")
      i += 1
    }
    def value(): J = {
      ws()
      s.charAt(i) match {
        case '{' => obj()
        case '[' => arr()
        case '"' => JStr(str())
        case 't' => i += 4; JBool(true)
        case 'f' => i += 5; JBool(false)
        case 'n' => i += 4; JNull
        case _ => number()
      }
    }
    private def obj(): JObj = {
      expect('{'); ws()
      val fields = Seq.newBuilder[(String, J)]
      if (s.charAt(i) == '}') { i += 1; return JObj(Seq.empty) }
      var done = false
      while (!done) {
        ws()
        val k = str()
        expect(':')
        fields += (k -> value())
        ws()
        if (s.charAt(i) == ',') i += 1 else { expect('}'); done = true }
      }
      JObj(fields.result())
    }
    private def arr(): JArr = {
      expect('['); ws()
      val xs = Seq.newBuilder[J]
      if (s.charAt(i) == ']') { i += 1; return JArr(Seq.empty) }
      var done = false
      while (!done) {
        xs += value()
        ws()
        if (s.charAt(i) == ',') i += 1 else { expect(']'); done = true }
      }
      JArr(xs.result())
    }
    private def str(): String = {
      expect('"')
      val sb = new java.lang.StringBuilder
      var from = i
      while (s.charAt(i) != '"') {
        if (s.charAt(i) == '\\') {
          sb.append(s, from, i)
          i += 1
          s.charAt(i) match {
            case '"' => sb.append('"')
            case '\\' => sb.append('\\')
            case '/' => sb.append('/')
            case 'n' => sb.append('\n')
            case 'r' => sb.append('\r')
            case 't' => sb.append('\t')
            case 'b' => sb.append('\b')
            case 'f' => sb.append('\f')
            case 'u' =>
              sb.append(Integer.parseInt(s.substring(i + 1, i + 5), 16).toChar)
              i += 4
          }
          from = i + 1
        }
        i += 1
      }
      sb.append(s, from, i)
      i += 1
      sb.toString
    }
    private def number(): J = {
      val start = i
      while (i < s.length && "+-0123456789.eE".indexOf(s.charAt(i)) >= 0) i += 1
      val t = s.substring(start, i)
      if (t.exists(c => c == '.' || c == 'e' || c == 'E')) JNum(t.toDouble)
      else JInt(t.toLong)
    }
  }

  def parse(s: String): J = new Parser(s).value()

  // ------------------------------------------------------------- decoding
  private def fields(j: J): Map[String, J] = j match {
    case JObj(fs) => fs.toMap
    case other => sys.error(s"expected object, got $other")
  }
  private def long(j: J): Long = j match {
    case JInt(l) => l
    case JNum(d) => d.toLong
    case other => sys.error(s"expected int, got $other")
  }
  private def dbl(j: J): Double = j match {
    case JNum(d) => d
    case JInt(l) => l.toDouble
    case JNull => Double.NaN
    case other => sys.error(s"expected number, got $other")
  }
  private def string(j: J): String = j match {
    case JStr(s) => s
    case other => sys.error(s"expected string, got $other")
  }
  private def longMap(j: J): Map[String, Long] = j match {
    case JObj(fs) => fs.map { case (k, v) => k -> long(v) }.toMap
    case _ => Map.empty
  }
  private def dblMap(j: J): Map[String, Double] = j match {
    case JObj(fs) => fs.map { case (k, v) => k -> dbl(v) }.toMap
    case _ => Map.empty
  }

  def decode(s: String): Profile = {
    val f = fields(parse(s))
    val cols = f("columns") match {
      case JArr(xs) => xs.map(decodeCol)
      case _ => Seq.empty
    }
    val corr = f("correlation_state") match {
      case JArr(xs) => xs.map { x =>
        val m = fields(x)
        (string(m("a")), string(m("b"))) -> PairMoments(
          long(m("n")), dbl(m("mean_a")), dbl(m("mean_b")),
          dbl(m("m2a")), dbl(m("m2b")), dbl(m("com")))
      }.toMap
      case _ => Map.empty[(String, String), PairMoments]
    }
    Profile(
      long(f("row_count")), long(f("approx_distinct_rows")),
      long(f("row_has_null")), long(f("row_is_null")),
      cols, corr, longMap(f("times_ms")),
      f.get("rows_sketch").map(s =>
        java.util.Base64.getDecoder.decode(string(s))))
  }

  private def decodeCol(j: J): ColumnProfile = {
    val f = fields(j)
    val numeric = f.get("numeric").map { nj =>
      val n = fields(nj)
      NumericStats(
        long(n("n")), dbl(n("mean")), dbl(n("m2")), dbl(n("m3")), dbl(n("m4")),
        dbl(n("min")), dbl(n("max")), dbl(n("sum")),
        long(n("zeros")), long(n("negatives")), long(n("approx_distinct")),
        n("quantiles") match {
          case JObj(fs) => fs.map { case (k, v) => k.toDouble -> dbl(v) }.toMap
          case _ => Map.empty
        })
    }
    val hist = f.get("histogram").map { hj =>
      val h = fields(hj)
      Histogram(dbl(h("lo")), dbl(h("hi")), h("counts") match {
        case JArr(xs) => xs.map(long).toArray
        case _ => Array.empty[Long]
      })
    }
    val cat = f.get("categorical").map { cj =>
      val c = fields(cj)
      CategoricalStats(long(c("n_cat")), longMap(c("counts")),
        c("capped") == JBool(true), longMap(c("heavy_hitters")),
        c.get("cms_sketch").map(s =>
          java.util.Base64.getDecoder.decode(string(s))))
    }
    val text = f.get("text").map { tj =>
      val t = fields(tj)
      TextStats(dbl(t("min_len")), dbl(t("max_len")), dbl(t("mean_len")),
        dbl(t("len_m2")), long(t("n_len")),
        t("vocab") match {
          case JArr(xs) => xs.map(string).toSet
          case _ => Set.empty
        })
    }
    val dt = f.get("datetime").map { dj =>
      val d = fields(dj)
      DatetimeStats(string(d("min_ts")), string(d("max_ts")), long(d("n_days")))
    }
    ColumnProfile(
      string(f("name")), string(f("spark_type")), string(f("inferred_type")),
      long(f("n")), long(f("nulls")), long(f("approx_distinct")),
      numeric, hist, cat, text, dt,
      f.get("label_votes").map(longMap).getOrElse(Map.empty),
      f.get("order").map(string),
      f.get("datetime_formats") match {
        case Some(JArr(xs)) => xs.map(string)
        case _ => Seq.empty
      },
      f.get("exemplars") match {
        case Some(JArr(xs)) => xs.map(string)
        case _ => Seq.empty
      },
      f.get("ndv_sketch").map(s =>
        java.util.Base64.getDecoder.decode(string(s))),
      f.get("plugin_stats").map(dblMap).getOrElse(Map.empty))
  }
}
