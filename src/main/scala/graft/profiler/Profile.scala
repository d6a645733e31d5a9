package graft.profiler

/** Mergeable profile model.
  *
  * Mirrors the reference's profile algebra (profile_builder.py:768-808:
  * `p1 + p2`; numerical_column_stats.py:266-368: `_add_helper`): every stat
  * is either additive (counts, sums, category maps), lattice-style
  * (min/max), or carries central-moment sums merged with the pairwise
  * pooled-update formulas (Chan et al.), exactly like Spark's own partial
  * aggregation. `NumericStats` stores (n, mean, M2, M3, M4) so both biased
  * and bias-corrected variance/skew/kurtosis are recoverable after any
  * merge sequence.
  */
final case class NumericStats(
    n: Long,
    mean: Double,
    m2: Double, // sum (x-mean)^2
    m3: Double,
    m4: Double,
    min: Double,
    max: Double,
    sum: Double,
    zeros: Long,
    negatives: Long,
    approxDistinct: Long,
    quantiles: Map[Double, Double]) {

  def variancePop: Double = if (n > 0) m2 / n else Double.NaN
  def varianceSample: Double = if (n > 1) m2 / (n - 1) else Double.NaN
  def stddev: Double = math.sqrt(varianceSample)
  def skewnessBiased: Double = if (m2 > 0) m3 / n / math.pow(m2 / n, 1.5) else Double.NaN
  def skewnessCorrected: Double =
    if (n > 2) skewnessBiased * math.sqrt(n.toDouble * (n - 1)) / (n - 2) else Double.NaN
  def kurtosisBiased: Double = if (m2 > 0) m4 / n / math.pow(m2 / n, 2) - 3.0 else Double.NaN
  def kurtosisCorrected: Double =
    if (n > 3) (n - 1.0) / ((n - 2.0) * (n - 3.0)) * ((n + 1.0) * kurtosisBiased + 6.0)
    else Double.NaN
  def median: Double = quantiles.getOrElse(0.5, Double.NaN)

  /** Pairwise pooled-moment merge (Chan et al.; the reference's
    * _merge_biased_variance/_skewness/_kurtosis chain). */
  def merge(o: NumericStats): NumericStats = {
    if (n == 0) return o
    if (o.n == 0) return this
    val na = n.toDouble; val nb = o.n.toDouble; val nt = na + nb
    val d = o.mean - mean
    val newMean = mean + d * nb / nt
    val newM2 = m2 + o.m2 + d * d * na * nb / nt
    val newM3 = m3 + o.m3 +
      d * d * d * na * nb * (na - nb) / (nt * nt) +
      3.0 * d * (na * o.m2 - nb * m2) / nt
    val newM4 = m4 + o.m4 +
      math.pow(d, 4) * na * nb * (na * na - na * nb + nb * nb) / math.pow(nt, 3) +
      6.0 * d * d * (na * na * o.m2 + nb * nb * m2) / (nt * nt) +
      4.0 * d * (na * o.m3 - nb * m3) / nt
    NumericStats(
      n + o.n, newMean, newM2, newM3, newM4,
      math.min(min, o.min), math.max(max, o.max), sum + o.sum,
      zeros + o.zeros, negatives + o.negatives,
      math.max(approxDistinct, o.approxDistinct), // lower bound; exact NDV needs sketch merge
      Map(): Map[Double, Double]) // quantiles are not exactly mergeable; recompute from histogram
  }
}

/** Category dictionary with the reference's stop-condition semantics
  * (categorical_column_profile.py:478-521): `counts` is populated only
  * while cardinality stays under the cap, `approxDistinct` always tracks.
  * Over-cap columns keep `heavyHitters` — count-min-sketch estimates for
  * the top sampled candidates (the reference's CMS mode,
  * categorical_column_profile.py:523-573) — instead of dropping all
  * frequency information. Estimates are upper bounds within eps·n. */
final case class CategoricalStats(
    nCat: Long,
    counts: Map[String, Long],
    capped: Boolean,
    heavyHitters: Map[String, Long] = Map.empty,
    /** The serialized count-min sketch behind `heavyHitters` (the
      * reference carries its sketch state the same way,
      * profile_builder.py:1793-1824). When both merge sides hold one,
      * heavy-hitter counts merge EXACTLY (sketch counter sums) instead
      * of additively-with-lower-bound-gaps. */
    cmsBytes: Option[Array[Byte]] = None) {

  private def total: Double = counts.values.sum.toDouble
  /** Σc² over the counts in ascending order: equal maps give equal bits
    * whatever order their entries were inserted in. */
  private def sumSquares: Double =
    counts.values.toArray.sorted.map(c => c.toDouble * c).sum
  /** 1 − Σc²/n², the form CoreQueries' `gini` computes. */
  def gini: Option[Double] =
    if (capped || total == 0) None
    else Some(1.0 - sumSquares / (total * total))
  def unalikeability: Option[Double] =
    if (capped || total <= 1) None
    else {
      val n = total
      Some((n * n - sumSquares) / (n * n - n))
    }
  def topK(k: Int): Seq[(String, Long)] =
    counts.toSeq.sortBy { case (v, c) => (-c, v) }.take(k)

  def merge(o: CategoricalStats): CategoricalStats = {
    val merged = (counts.keySet ++ o.counts.keySet).iterator
      .map(k => k -> (counts.getOrElse(k, 0L) + o.counts.getOrElse(k, 0L))).toMap
    val hhKeys = heavyHitters.keySet ++ o.heavyHitters.keySet
    // With both sketches present, merge the sketches and RE-ESTIMATE
    // every candidate from the merged counters — a key that was below
    // one side's candidate radar still gets its occurrences from that
    // side counted. Without them, fall back to additive estimates (keys
    // absent on one side keep the other side's count as a lower bound).
    val sketchMerged: Option[(Map[String, Long], Array[Byte])] =
      (cmsBytes, o.cmsBytes) match {
        case (Some(a), Some(b)) =>
          scala.util.Try {
            val sa = org.apache.spark.util.sketch.CountMinSketch
              .readFrom(new java.io.ByteArrayInputStream(a))
            val sb = org.apache.spark.util.sketch.CountMinSketch
              .readFrom(new java.io.ByteArrayInputStream(b))
            sa.mergeInPlace(sb)
            val out = new java.io.ByteArrayOutputStream()
            sa.writeTo(out)
            (hhKeys.iterator.map(k => k -> sa.estimateCount(k)).toMap,
              out.toByteArray)
          }.toOption
        case _ => None
      }
    val hh = sketchMerged.map(_._1).getOrElse(
      hhKeys.iterator.map(k => k -> (heavyHitters.getOrElse(k, 0L) +
        o.heavyHitters.getOrElse(k, 0L))).toMap)
    CategoricalStats(math.max(nCat, merged.size.toLong), merged,
      capped || o.capped, hh, sketchMerged.map(_._2))
  }
}

final case class TextStats(
    minLen: Double, maxLen: Double, meanLen: Double, lenM2: Double, nLen: Long,
    /** Distinct characters seen (capped; alphabets are naturally small).
      * Merge is TRUE set-union — the reference's _combine_unique_sets
      * (profiler_utils.py:74-92) — so chunked == whole exactly. */
    vocab: Set[String] = Set.empty) {
  def vocabSize: Long = vocab.size.toLong

  def merge(o: TextStats): TextStats = {
    val na = nLen.toDouble; val nb = o.nLen.toDouble
    if (na == 0) return o.copy(vocab = vocab ++ o.vocab)
    if (nb == 0) return this.copy(vocab = vocab ++ o.vocab)
    val nt = na + nb
    val d = o.meanLen - meanLen
    TextStats(
      math.min(minLen, o.minLen), math.max(maxLen, o.maxLen),
      meanLen + d * nb / nt,
      lenM2 + o.lenM2 + d * d * na * nb / nt,
      nLen + o.nLen,
      vocab ++ o.vocab)
  }
}

final case class DatetimeStats(minTs: String, maxTs: String, nDays: Long) {
  def merge(o: DatetimeStats): DatetimeStats =
    DatetimeStats(
      if (minTs <= o.minTs) minTs else o.minTs,
      if (maxTs >= o.maxTs) maxTs else o.maxTs,
      math.max(nDays, o.nDays))
}

/** Equal-width histogram; merge re-buckets the other histogram into the
  * union range (the reference's _assimilate_histogram,
  * numerical_column_stats.py:1399-1485). */
final case class Histogram(lo: Double, hi: Double, counts: Array[Long]) {
  def nBins: Int = counts.length
  def width: Double = if (nBins > 0) (hi - lo) / nBins else 0.0

  def merge(o: Histogram): Histogram = {
    if (counts.isEmpty) return o
    if (o.counts.isEmpty) return this
    val nl = math.min(lo, o.lo); val nh = math.max(hi, o.hi)
    val n = math.max(nBins, o.nBins)
    val out = Array.fill(n)(0L)
    def pour(h: Histogram): Unit = {
      var i = 0
      while (i < h.nBins) {
        val mid = h.lo + (i + 0.5) * h.width
        val j = math.min(n - 1, math.max(0, ((mid - nl) / ((nh - nl) / n)).toInt))
        out(j) += h.counts(i)
        i += 1
      }
    }
    pour(this); pour(o)
    Histogram(nl, nh, out)
  }

  /** Top-k modes estimated from the histogram: the k highest-count bins'
    * midpoints (numerical_column_stats.py:546-557, :1082-1115). */
  def modes(k: Int): Seq[Double] = {
    counts.zipWithIndex.filter(_._1 > 0)
      .sortBy { case (c, i) => (-c, i) }
      .take(k)
      .map { case (_, i) => lo + (i + 0.5) * width }
  }

  /** Interpolated percentile from cumulative bin mass (the reference's
    * _get_percentile, numerical_column_stats.py:1553-1590). */
  def percentile(p: Double): Double = {
    val total = counts.sum.toDouble
    if (total == 0) return Double.NaN
    val target = p * total
    var cum = 0.0
    var i = 0
    while (i < nBins) {
      val next = cum + counts(i)
      if (next >= target) {
        val frac = if (counts(i) == 0) 0.0 else (target - cum) / counts(i)
        return lo + (i + frac) * width
      }
      cum = next
      i += 1
    }
    hi
  }
}

/** Pairwise-complete co-moment state for one numeric column pair — the
  * mergeable representation of Pearson correlation (the reference merges
  * correlation with pooled cov + mean-shift outer products,
  * profile_builder.py:2380-2551). All moments are over rows where BOTH
  * columns are non-null, so the derived correlation is exact under any
  * merge sequence. */
final case class PairMoments(
    n: Long,
    meanA: Double, meanB: Double,
    m2a: Double, m2b: Double, // Σ (a-meanA)², Σ (b-meanB)²
    com: Double) { // Σ (a-meanA)(b-meanB)

  def corr: Double =
    if (n > 0 && m2a > 0 && m2b > 0) com / math.sqrt(m2a * m2b)
    else Double.NaN

  def merge(o: PairMoments): PairMoments = {
    if (n == 0) return o
    if (o.n == 0) return this
    val na = n.toDouble; val nb = o.n.toDouble; val nt = na + nb
    val dA = o.meanA - meanA
    val dB = o.meanB - meanB
    PairMoments(
      n + o.n,
      meanA + dA * nb / nt,
      meanB + dB * nb / nt,
      m2a + o.m2a + dA * dA * na * nb / nt,
      m2b + o.m2b + dB * dB * na * nb / nt,
      com + o.com + dA * dB * na * nb / nt)
  }
}

/** Driver-side DataSketches HLL plumbing shared by the row- and
  * column-level distinct sketches. */
private[graft] object HllOps {
  def estimate(b: Array[Byte]): Long =
    math.round(org.apache.datasketches.hll.HllSketch.heapify(b).getEstimate)
  /** Union two serialized sketches → (estimate, merged bytes). lgMaxK 21
    * covers every lgK the ndvRsd knob can configure (clamped ≤ 20). */
  def union(a: Array[Byte], b: Array[Byte]): Option[(Long, Array[Byte])] =
    scala.util.Try {
      val u = new org.apache.datasketches.hll.Union(21)
      u.update(org.apache.datasketches.hll.HllSketch.heapify(a))
      u.update(org.apache.datasketches.hll.HllSketch.heapify(b))
      val r = u.getResult
      (math.round(r.getEstimate), r.toCompactByteArray)
    }.toOption
}

final case class ColumnProfile(
    name: String,
    sparkType: String,
    inferredType: String, // datetime | int | float | text | string
    n: Long,
    nulls: Long,
    approxDistinct: Long,
    numeric: Option[NumericStats],
    histogram: Option[Histogram],
    categorical: Option[CategoricalStats],
    text: Option[TextStats],
    datetime: Option[DatetimeStats],
    /** Entity-label votes from the RegexLabeler sample pass (label →
      * count); additive on merge like the reference's vote sums
      * (data_labeler_column_profile.py:395-438). */
    labelVotes: Map[String, Long] = Map.empty,
    /** Natural-order classification: ascending | descending | constant |
      * random (order_column_profile.py:374-413). */
    order: Option[String] = None,
    /** Datetime display formats discovered on string columns
      * (datetime_column_profile.py:230-330), as Java patterns. */
    datetimeFormats: Seq[String] = Seq.empty,
    /** Up to five example values from the head sample
      * (profile_builder.py:665-668), string-rendered. */
    exemplars: Seq[String] = Seq.empty,
    /** Serialized HLL over the column's value hashes: when both merge
      * sides carry one, NDV merge is a true sketch union instead of the
      * max() lower bound. */
    ndvSketch: Option[Array[Byte]] = None,
    /** Values from registered [[graft.plugins.ColumnStatPlugin]]s
      * (plugin name → value), computed in the same pass-1 scan; merged
      * by each plugin's own combine (plugins absent at merge time keep
      * the left side — fail-soft, mirroring the reference's optional
      * plugin imports). */
    pluginStats: Map[String, Double] = Map.empty) {

  def nullRatio: Double = if (n + nulls > 0) nulls.toDouble / (n + nulls) else 0.0

  /** The column's entity label under the reference's 0.35/0.2 decision
    * thresholds; None when the labeler pass did not run. */
  def dataLabel: Option[String] =
    if (labelVotes.isEmpty) None
    else Some(graft.labelers.RegexLabeler.decide(labelVotes))

  /** Column-NAME model match (fuzzy, schema-only prior) — derived, not
    * stored (column_name_model.py:27-316). */
  def nameLabel: Option[(String, Double)] =
    graft.labelers.ColumnNameLabeler.matchName(name)

  def merge(o: ColumnProfile): ColumnProfile = {
    require(name == o.name, s"column mismatch: $name vs ${o.name}")
    val mergedHist = (histogram, o.histogram) match {
      case (Some(a), Some(b)) => Some(a.merge(b))
      case (a, b) => a.orElse(b)
    }
    val mergedNumeric = (numeric, o.numeric) match {
      case (Some(a), Some(b)) =>
        val m = a.merge(b)
        // Exact quantiles are not mergeable; approximate them from the
        // merged histogram (the reference re-interpolates its stored
        // histogram the same way, numerical_column_stats.py:1553-1590).
        // CAVEAT: with histograms absent (computeHistograms=false) there
        // is no basis for merged quantiles — keep the larger side's map
        // as a flagged approximation rather than silently emptying it.
        val probs = (a.quantiles.keySet ++ b.quantiles.keySet).toSeq.sorted
        val qs = mergedHist match {
          case Some(h) if probs.nonEmpty =>
            probs.map(p => p -> h.percentile(p)).toMap
          case _ =>
            if (a.n >= b.n) a.quantiles else b.quantiles
        }
        Some(m.copy(quantiles = qs))
      case (a, b) => a.orElse(b)
    }
    // NDV: sketch union when both sides carry bytes (exact under
    // overlap); max() lower bound otherwise
    val ndvU = (ndvSketch, o.ndvSketch) match {
      case (Some(a), Some(b)) => HllOps.union(a, b)
      case _ => None
    }
    val mergedNdv = ndvU.map(_._1)
      .getOrElse(math.max(approxDistinct, o.approxDistinct))
    ColumnProfile(
      name, sparkType,
      if (inferredType == o.inferredType) inferredType else "text",
      n + o.n, nulls + o.nulls,
      mergedNdv,
      mergedNumeric.map(m => m.copy(approxDistinct = mergedNdv)),
      mergedHist,
      (categorical, o.categorical) match {
        case (Some(a), Some(b)) => Some(a.merge(b))
        case (a, b) => a.orElse(b)
      },
      (text, o.text) match {
        case (Some(a), Some(b)) => Some(a.merge(b))
        case (a, b) => a.orElse(b)
      },
      (datetime, o.datetime) match {
        case (Some(a), Some(b)) => Some(a.merge(b))
        case (a, b) => a.orElse(b)
      },
      (labelVotes.keySet ++ o.labelVotes.keySet).iterator
        .map(k => k -> (labelVotes.getOrElse(k, 0L) +
          o.labelVotes.getOrElse(k, 0L))).toMap,
      // Chunk-merge order algebra (simplified from the reference's
      // interval-intersection merge, order_column_profile.py:100-263):
      // equal classifications keep; constant absorbs into the other
      // side's direction; conflicting directions become random. The seam
      // pair between the two chunks is unobservable here, so
      // constant+constant stays constant only as an approximation.
      (order, o.order) match {
        case (Some(a), Some(b)) if a == b => Some(a)
        case (Some("constant"), Some(b)) => Some(b)
        case (Some(a), Some("constant")) => Some(a)
        case (Some(_), Some(_)) => Some("random")
        case (a, b) => a.orElse(b)
      },
      (datetimeFormats ++ o.datetimeFormats).distinct,
      (exemplars ++ o.exemplars).distinct.take(5),
      ndvU.map(_._2),
      // plugin stats combine via each plugin's own merge; a plugin no
      // longer registered keeps the left (or only) side
      (pluginStats.keySet ++ o.pluginStats.keySet).iterator.map { k =>
        k -> ((pluginStats.get(k), o.pluginStats.get(k)) match {
          case (Some(a), Some(b)) =>
            graft.plugins.PluginRegistry
              .get[graft.plugins.ColumnStatPlugin](
                graft.plugins.ColumnStatPlugin.Typ, k)
              .map(_.merge(a, b)).getOrElse(a)
          case (a, b) => a.orElse(b).get
        })
      }.toMap)
  }
}

final case class Profile(
    rowCount: Long,
    approxDistinctRows: Long,
    rowHasNull: Long,
    rowIsNull: Long,
    columns: Seq[ColumnProfile],
    correlationState: Map[(String, String), PairMoments],
    /** Wall milliseconds per pass: `aggregate` (pass 1), `categories`
      * (the catMelt fallback), `order` (the split segment pass) and
      * `labeler` (the head-sample label and format rules, plain calls
      * on the driver over the sample; no query plan); `histograms`,
      * `vocab` and `datetime_formats` ride pass 1 and read 0. Summed on
      * merge. */
    timesMs: Map[String, Long],
    /** Serialized DataSketches HLL over the row fingerprints. When both
      * merge sides carry one, distinct-row merge is a true sketch UNION
      * (overlapping chunks no longer over-count) instead of the clamped
      * sum fallback — the reference keeps its HLL state the same way
      * (profile_builder.py:1793-1824). */
    rowsSketch: Option[Array[Byte]] = None) {

  def duplicateRowCountApprox: Long = math.max(0L, rowCount - approxDistinctRows)
  def column(name: String): Option[ColumnProfile] = columns.find(_.name == name)

  /** Pearson correlation per numeric pair, derived from the mergeable
    * co-moment state. */
  def correlation: Map[(String, String), Double] =
    correlationState.map { case (k, m) => k -> m.corr }

  /** Profile merge = the reference's `p1 + p2`. Columns align by exact
    * name (positionally within a same-name group — the reference keeps a
    * name→indices multimap, profile_builder.py:1972-2045, so duplicate
    * column names merge pairwise in order), then case-insensitively.
    * Fuzzy alignment applies only when the name is unambiguous under
    * lowercasing on BOTH sides, and every remote column is consumed at
    * most once — two locals differing only by case ("ID", "Id") can no
    * longer both merge one remote "id" (which double-counted n/nulls/
    * moments). Correlation merges exactly via pooled co-moments. */
  def merge(o: Profile): Profile = {
    val byName: Map[String, Seq[Int]] =
      o.columns.zipWithIndex.groupBy(_._1.name).map {
        case (n, xs) => n -> xs.map(_._2)
      }
    val byLower: Map[String, Seq[Int]] =
      o.columns.zipWithIndex.groupBy(_._1.name.toLowerCase).map {
        case (n, xs) => n -> xs.map(_._2)
      }
    val localLowerCounts =
      columns.groupBy(_.name.toLowerCase).view.mapValues(_.size).toMap
    val consumed = scala.collection.mutable.Set.empty[Int]
    val exactSeen = scala.collection.mutable.Map.empty[String, Int]
    def align(c: ColumnProfile): Option[ColumnProfile] = {
      val k = exactSeen.getOrElse(c.name, 0)
      exactSeen(c.name) = k + 1
      val exact = byName.getOrElse(c.name, Seq.empty).lift(k)
      val idx = exact.orElse {
        // fuzzy only when unique under lowercasing on both sides
        if (localLowerCounts(c.name.toLowerCase) != 1) None
        else byLower.get(c.name.toLowerCase)
          .collect { case Seq(one) if !consumed(one) => one }
      }
      idx.filterNot(consumed).map { i => consumed += i; o.columns(i) }
    }
    // align is stateful (consumes remote columns): evaluate ONCE per
    // local column, in order
    val aligned: Seq[(ColumnProfile, Option[ColumnProfile])] =
      columns.map(c => c -> align(c))
    val leftovers = o.columns.zipWithIndex
      .collect { case (c, i) if !consumed(i) => c }
    // Distinct rows: with both HLL sketches present the merge is a true
    // union (exact under overlap); otherwise fall back to the clamped
    // sum (≤ total row count, keeps unique_row_ratio ≤ 1).
    val unioned: Option[(Long, Array[Byte])] =
      (rowsSketch, o.rowsSketch) match {
        case (Some(a), Some(b)) => HllOps.union(a, b)
        case _ => None
      }
    Profile(
      rowCount + o.rowCount,
      unioned.map(_._1).getOrElse(
        math.min(rowCount + o.rowCount,
          approxDistinctRows + o.approxDistinctRows)),
      rowHasNull + o.rowHasNull,
      rowIsNull + o.rowIsNull,
      aligned.map { case (c, m) =>
        m.map(oc => c.merge(oc.copy(name = c.name))).getOrElse(c)
      } ++ leftovers,
      (correlationState.keySet ++ o.correlationState.keySet).iterator.map { k =>
        (correlationState.get(k), o.correlationState.get(k)) match {
          case (Some(a), Some(b)) => k -> a.merge(b)
          case (a, b) => k -> a.orElse(b).get
        }
      }.toMap,
      (timesMs.keySet ++ o.timesMs.keySet).iterator
        .map(k => k -> (timesMs.getOrElse(k, 0L) + o.timesMs.getOrElse(k, 0L))).toMap,
      unioned.map(_._2))
  }
}
