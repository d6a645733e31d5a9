package graft.profiler

/** JSON report rendering — the reference's `report(output_format=...)`
  * (profile_builder.py:2054-2110, report_helpers.py). `pretty` indents,
  * `compact` is one line, `flat` emits dotted key-paths. No external JSON
  * dependency: the writer below covers the value shapes a Profile holds.
  */
object Report {

  sealed trait J
  final case class JStr(s: String) extends J
  final case class JNum(d: Double) extends J
  final case class JInt(l: Long) extends J
  final case class JBool(b: Boolean) extends J
  final case class JArr(xs: Seq[J]) extends J
  final case class JObj(fields: Seq[(String, J)]) extends J
  case object JNull extends J

  /** `s` as the body of a JSON string: `"`, `\` and the control
    * characters escaped, everything else as is; `s` itself when nothing
    * needs escaping. */
  def esc(s: String): String = {
    var i = 0
    while (i < s.length && !needsEscape(s.charAt(i))) i += 1
    if (i == s.length) return s
    val sb = new java.lang.StringBuilder(s.length + 16)
    var from = 0
    while (i < s.length) {
      val c = s.charAt(i)
      if (needsEscape(c)) {
        sb.append(s, from, i)
        c match {
          case '"' => sb.append("\\\"")
          case '\\' => sb.append("\\\\")
          case '\n' => sb.append("\\n")
          case '\r' => sb.append("\\r")
          case '\t' => sb.append("\\t")
          case _ => sb.append(f"\\u${c.toInt}%04x")
        }
        from = i + 1
      }
      i += 1
    }
    sb.append(s, from, s.length).toString
  }

  private def needsEscape(c: Char): Boolean = c < ' ' || c == '"' || c == '\\'

  private def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null"
    else if (d == math.rint(d) && math.abs(d) < 1e15) d.toLong.toString
    else d.toString

  def write(j: J, indent: Int = -1, level: Int = 0): String = {
    val (nl, pad, pad1) =
      if (indent < 0) ("", "", "")
      else ("\n", " " * (indent * level), " " * (indent * (level + 1)))
    j match {
      case JStr(s) => "\"" + esc(s) + "\""
      case JNum(d) => num(d)
      case JInt(l) => l.toString
      case JBool(b) => b.toString
      case JNull => "null"
      case JArr(xs) if xs.isEmpty => "[]"
      case JArr(xs) =>
        xs.map(x => pad1 + write(x, indent, level + 1))
          .mkString("[" + nl, "," + nl, nl + pad + "]")
      case JObj(fs) if fs.isEmpty => "{}"
      case JObj(fs) =>
        fs.map { case (k, v) =>
          pad1 + "\"" + esc(k) + "\":" + (if (indent < 0) "" else " ") +
            write(v, indent, level + 1)
        }.mkString("{" + nl, "," + nl, nl + pad + "}")
    }
  }

  def toJson(p: Profile): JObj = {
    val globalStats = JObj(Seq(
      "samples_used" -> JInt(p.rowCount),
      "column_count" -> JInt(p.columns.size.toLong),
      "row_count" -> JInt(p.rowCount),
      "unique_row_ratio" -> JNum(
        if (p.rowCount == 0) 0.0 else p.approxDistinctRows.toDouble / p.rowCount),
      "duplicate_row_count" -> JInt(p.duplicateRowCountApprox),
      "row_has_null_ratio" -> JNum(
        if (p.rowCount == 0) 0.0 else p.rowHasNull.toDouble / p.rowCount),
      "row_is_null_ratio" -> JNum(
        if (p.rowCount == 0) 0.0 else p.rowIsNull.toDouble / p.rowCount),
      "correlation_matrix" -> JObj(p.correlation.toSeq.sortBy(_._1)
        .map { case ((a, b), v) => s"$a|$b" -> JNum(v) }),
      "times" -> JObj(p.timesMs.toSeq.sortBy(_._1)
        .map { case (k, v) => k -> JInt(v) })))

    val dataStats = JArr(p.columns.map { c =>
      val base = Seq(
        "column_name" -> JStr(c.name),
        "data_type" -> JStr(c.inferredType),
        "samples" -> JArr(c.exemplars.map(JStr)),
        "spark_type" -> JStr(c.sparkType),
        "sample_size" -> JInt(c.n + c.nulls),
        "null_count" -> JInt(c.nulls),
        "null_ratio" -> JNum(c.nullRatio),
        "unique_count" -> JInt(c.approxDistinct),
        "unique_ratio" -> JNum(
          if (c.n == 0) 0.0 else c.approxDistinct.toDouble / c.n))
      val numeric = c.numeric.map { s =>
        "statistics" -> JObj(Seq(
          "min" -> JNum(s.min), "max" -> JNum(s.max), "sum" -> JNum(s.sum),
          "mean" -> JNum(s.mean), "median" -> JNum(s.median),
          "mode" -> c.histogram.map(h => JArr(h.modes(3).map(JNum)))
            .getOrElse(JNull),
          "variance" -> JNum(s.varianceSample), "stddev" -> JNum(s.stddev),
          "skewness" -> JNum(s.skewnessCorrected),
          "kurtosis" -> JNum(s.kurtosisCorrected),
          "num_zeros" -> JInt(s.zeros), "num_negatives" -> JInt(s.negatives),
          "quantiles" -> JObj(s.quantiles.toSeq.sortBy(_._1)
            .map { case (q, v) => q.toString -> JNum(v) })))
      }
      val hist = c.histogram.map { h =>
        // report view = the loss-chosen bin method's downsampled
        // histogram (the stored high-res buffer stays internal,
        // numerical_column_stats.py:1197-1240)
        val (method, view, sugg) = c.numeric match {
          case Some(s) =>
            val (m, bins) = graft.functions.BinMethods.bestMethod(s, h)
            (m, graft.functions.BinMethods.downsample(h, bins),
              graft.functions.BinMethods.suggestedBins(s))
          case None => ("stored", h, Map.empty[String, Int])
        }
        "histogram" -> JObj(Seq(
          "bin_method" -> JStr(method),
          "bin_edges" -> JArr((0 to view.nBins)
            .map(i => JNum(view.lo + i * view.width))),
          "bin_counts" -> JArr(view.counts.toSeq.map(JInt))) ++
          (if (sugg.isEmpty) Seq.empty
           else Seq("suggested_bin_counts" -> JObj(sugg.toSeq.sortBy(_._1)
             .map { case (k, v) => k -> JInt(v.toLong) }))))
      }
      val cat = c.categorical.map { s =>
        "categorical" -> JObj(Seq(
          "unique_count" -> JInt(s.nCat),
          "cap_reached" -> JBool(s.capped),
          "gini_impurity" -> s.gini.map(JNum).getOrElse(JNull),
          "unalikeability" -> s.unalikeability.map(JNum).getOrElse(JNull),
          "categories" -> JObj(s.topK(60).map { case (v, n) => v -> JInt(n) })) ++
          (if (s.heavyHitters.isEmpty) Seq.empty
           else Seq("heavy_hitters" -> JObj(s.heavyHitters.toSeq
             .sortBy { case (v, n) => (-n, v) }
             .map { case (v, n) => v -> JInt(n) }))))
      }
      val text = c.text.map { s =>
        "text" -> JObj(Seq(
          "min_length" -> JNum(s.minLen), "max_length" -> JNum(s.maxLen),
          "mean_length" -> JNum(s.meanLen),
          "variance_length" -> JNum(
            if (s.nLen > 1) s.lenM2 / (s.nLen - 1) else Double.NaN)) ++
          (if (s.vocab.nonEmpty) Seq("vocab_size" -> JInt(s.vocabSize))
           else Seq.empty))
      }
      val order = c.order.map(o => "order" -> JStr(o))
      val dtFmts =
        if (c.datetimeFormats.isEmpty) None
        else Some("datetime_formats" ->
          JArr(c.datetimeFormats.map(JStr)))
      val dt = c.datetime.map { s =>
        "datetime" -> JObj(Seq(
          "min" -> JStr(s.minTs), "max" -> JStr(s.maxTs),
          "distinct_days" -> JInt(s.nDays)))
      }
      val label = c.dataLabel.map { l =>
        val total = c.labelVotes.values.sum.toDouble
        Seq(
          "data_label" -> JStr(l),
          "label_representation" -> JObj(c.labelVotes.toSeq
            .sortBy { case (k, v) => (-v, k) }
            .map { case (k, v) => k -> JNum(v / total) }))
      }.getOrElse(Seq.empty)
      val nameLabel = c.nameLabel.map { case (l, score) =>
        "name_label" -> JObj(Seq(
          "label" -> JStr(l), "score" -> JNum(score)))
      }
      JObj(base ++ numeric ++ hist ++ cat ++ text ++ dt ++ order ++
        dtFmts ++ label ++ nameLabel)
    })
    JObj(Seq("global_stats" -> globalStats, "data_stats" -> dataStats))
  }

  def pretty(p: Profile): String = write(toJson(p), indent = 2)
  def compact(p: Profile): String = write(toJson(p))

  /** Histogram plot specs as Vega-Lite JSON, one spec per numeric column
    * (the reference's matplotlib plot sink, reports/graphs.py:31-151,
    * re-expressed as declarative chart specs a UI can render). */
  def vegaLiteHistograms(p: Profile): String = {
    val specs = p.columns.flatMap { c =>
      c.histogram.map { h0 =>
        val h = c.numeric match {
          case Some(s) =>
            val (_, bins) = graft.functions.BinMethods.bestMethod(s, h0)
            graft.functions.BinMethods.downsample(h0, bins)
          case None => h0
        }
        val values = JArr(h.counts.toSeq.zipWithIndex.map { case (n, i) =>
          JObj(Seq(
            "bin_start" -> JNum(h.lo + i * h.width),
            "bin_end" -> JNum(h.lo + (i + 1) * h.width),
            "count" -> JInt(n)))
        })
        JObj(Seq(
          "$schema" -> JStr("https://vega.github.io/schema/vega-lite/v5.json"),
          "title" -> JStr(c.name),
          "data" -> JObj(Seq("values" -> values)),
          "mark" -> JStr("bar"),
          "encoding" -> JObj(Seq(
            "x" -> JObj(Seq("field" -> JStr("bin_start"),
              "bin" -> JObj(Seq("binned" -> JBool(true))),
              "type" -> JStr("quantitative"))),
            "x2" -> JObj(Seq("field" -> JStr("bin_end"))),
            "y" -> JObj(Seq("field" -> JStr("count"),
              "type" -> JStr("quantitative")))))))
      }
    }
    write(JArr(specs), indent = 2)
  }

  /** Missing-values plot spec as Vega-Lite JSON (the reference's
    * plot_missing_values_matrix, reports/graphs.py:190-246): one bar per
    * column showing its null ratio. The reference draws per-ROW null
    * positions from its in-memory frame; at scale the profile carries
    * per-column null COUNTS (row positions would be O(rows) state), so
    * the ratio bar chart is the bounded-state equivalent. */
  def vegaLiteMissingValues(p: Profile): String = {
    val values = JArr(p.columns.map { c =>
      JObj(Seq(
        "column" -> JStr(c.name),
        "null_ratio" -> JNum(c.nullRatio),
        "nulls" -> JInt(c.nulls),
        "n" -> JInt(c.n)))
    })
    write(JObj(Seq(
      "$schema" -> JStr("https://vega.github.io/schema/vega-lite/v5.json"),
      "title" -> JStr("missing values by column"),
      "data" -> JObj(Seq("values" -> values)),
      "mark" -> JStr("bar"),
      "encoding" -> JObj(Seq(
        "x" -> JObj(Seq("field" -> JStr("column"), "type" -> JStr("nominal"))),
        "y" -> JObj(Seq("field" -> JStr("null_ratio"),
          "type" -> JStr("quantitative"),
          "scale" -> JObj(Seq("domain" -> JArr(Seq(JNum(0), JNum(1))))))))))),
      indent = 2)
  }

  /** Flat key-path → scalar map (report_helpers.py:40-65). */
  def flat(p: Profile): Map[String, String] = {
    def walk(prefix: String, j: J): Seq[(String, String)] = j match {
      case JObj(fs) => fs.flatMap { case (k, v) =>
        walk(if (prefix.isEmpty) k else s"$prefix.$k", v)
      }
      case JArr(xs) => xs.zipWithIndex.flatMap { case (x, i) =>
        walk(s"$prefix.$i", x)
      }
      case JStr(s) => Seq(prefix -> s)
      case other => Seq(prefix -> write(other))
    }
    walk("", toJson(p)).toMap
  }
}
