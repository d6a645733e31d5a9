package graft.tools

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.labelers.{NgramBayes, RegexLabeler}

/** Labeler accuracy benchmark: measures the 24-label chain and the
  * trainable NgramBayes deviation on a deterministic labeled fixture
  * corpus, and writes LABELER_ACCURACY.md (confusion summary, per-label
  * precision/recall/F1, macro scores). The fixture generators mirror the
  * entity shapes of the reference's labeler test corpus
  * (tests/labelers/test_integration_struct_data_labeler.py:13-21,
  * labelers/regex_model patterns); its exact integration cells are
  * evaluated as a separate subset with the reference's own labels.
  *
  * Usage: runMain graft.tools.LabelerBench [outPath]
  */
object LabelerBench {

  private val PerLabel = 200

  // shared fixture pools/helpers — the holdout and fresh-tier probes
  // reference these so the three tools cannot drift
  private[tools] val firsts = Seq("John", "Mary", "Linda", "James", "Robert",
    "Susan", "David", "Karen", "Peter", "Laura", "Frank", "Alice")
  private[tools] val lasts = Seq("Smith", "Jones", "Miller", "Davis", "Wilson",
    "Moore", "Taylor", "Clark", "Lewis", "Walker")
  private val streets = Seq("Maple Street", "Oak Ave", "Fake St",
    "Sunset Blvd", "River Road", "Hill Lane", "Park Drive", "Main St")
  private val states = Seq("CA", "TX", "NY", "FL", "WA", "Ohio", "Texas",
    "vermont", "OR", "GA", "New York", "North Dakota")
  private val units = Seq("kg", "g", "lb", "oz", "km", "mi", "ft", "ml", "%")
  private val junk = Seq("nice.", "abc", "hello world foo", "!@#$%&^*",
    "lorem ipsum dolor", "???", "N/A note", "the quick brown fox",
    "mixed 12 things here", "trailing space ")

  private[tools] def hex(n: Int, len: Int): String = {
    val s = java.lang.Integer.toHexString(n)
    ("0" * math.max(0, len - s.length)) + s.takeRight(len)
  }

  /** label → i'th fixture cell. Deterministic; variations cycle the
    * pattern alternatives each rule accepts. */
  def cell(label: String, i: Int): String = label match {
    case "ADDRESS" => s"${100 + i} ${streets(i % streets.size)}"
    case "BAN" => ("1" * (1 + i % 8)) + (1000000000L + i * 7919L).toString
      .takeRight(9) // lengths 10..17
    case "CREDIT_CARD" =>
      if (i % 2 == 0) f"4${i % 10}23 5678 9${i % 10}12 345${i % 10}"
      else f"4${i % 10}23567891234${i % 10}${i % 10}${i % 10}"
    case "DATE" => (i % 4) match {
      case 0 => f"2023-${1 + i % 12}%02d-${1 + i % 28}%02d"
      case 1 => s"${1 + i % 12}/${1 + i % 28}/201${i % 10}"
      case 2 => s"${1 + i % 28} March 20${10 + i % 15}"
      case _ => s"July ${1 + i % 28}, 20${10 + i % 15}"
    }
    case "TIME" => (i % 3) match {
      case 0 => f"${i % 24}:${i % 60}%02d"
      case 1 => f"${i % 12 + 1}:${i % 60}%02d pm"
      case _ => f"${i % 24}:${i % 60}%02d:${(i * 7) % 60}%02d"
    }
    case "DATETIME" =>
      if (i % 2 == 0) f"2023-${1 + i % 12}%02d-${1 + i % 28}%02d ${i % 24}:${i % 60}%02d:00"
      else f"${1 + i % 12}/${1 + i % 28}/2020 ${i % 24}:${i % 60}%02d"
    case "DRIVERS_LICENSE" =>
      s"${('A' + i % 26).toChar}${(10000000 + i).toString}"
    case "EMAIL_ADDRESS" => s"user$i.test+tag@mail${i % 10}.example.com"
    case "UUID" =>
      s"${hex(i * 0x9E3779B1, 8)}-${hex(i * 40503, 4)}-" +
        s"${hex(i * 531, 4)}-${hex(i * 77, 4)}-${hex(i, 6)}${hex(i * 13, 6)}"
    case "HASH_OR_KEY" =>
      val base = hex(i * 0x9E3779B1, 8) * 8
      (i % 3) match {
        case 0 => base.take(32); case 1 => base.take(40); case _ => base.take(64)
      }
    case "IPV4" => s"${i % 256}.${(i * 3) % 256}.${(i * 7) % 256}.${(i * 11) % 256}"
    case "IPV6" =>
      if (i % 2 == 0) s"2001:0db8:85a3:0000:0000:8a2e:0370:${hex(7334 + i, 4)}"
      else s"fe80::${hex(i + 1, 4)}:${hex(i * 3 + 1, 4)}"
    case "MAC_ADDRESS" =>
      f"00:1b:44:${i % 256}%02x:${(i * 3) % 256}%02x:${(i * 7) % 256}%02x"
    case "PERSON" =>
      if (i % 3 == 0)
        s"${firsts(i % firsts.size)} ${('A' + i % 26).toChar}. ${lasts(i % lasts.size)}"
      else s"${firsts(i % firsts.size)} ${lasts(i % lasts.size)}"
    case "PHONE_NUMBER" => (i % 3) match {
      case 0 => f"(${200 + i % 700}%03d) ${100 + i % 900}%03d-${1000 + (i * 7) % 9000}%04d"
      case 1 => f"${200 + i % 700}%03d-${100 + i % 900}%03d-${1000 + (i * 7) % 9000}%04d"
      case _ => s"+1415555${1000 + i % 9000}"
    }
    case "SSN" => f"${100 + i % 900}%03d-${10 + i % 90}%02d-${1000 + (i * 3) % 9000}%04d"
    case "URL" =>
      if (i % 2 == 0) s"https://ex${i % 10}.example.org/p/$i"
      else s"www.example${i % 10}.com/page/$i"
    case "US_STATE" => states(i % states.size)
    case "INTEGER" => (i * 37 - 1000).toString
    case "FLOAT" => (i % 3) match {
      case 0 => s"$i.${i % 100}"
      case 1 => s"-$i.5"
      case _ => s"${i % 10}.${i % 10}e${i % 12}"
    }
    case "QUANTITY" => s"${i * 3} ${units(i % units.size)}"
    case "ORDINAL" =>
      val n = i + 1
      val suf =
        if (n % 100 / 10 == 1) "th"
        else n % 10 match { case 1 => "st"; case 2 => "nd"; case 3 => "rd"; case _ => "th" }
      s"$n$suf"
    case "UNKNOWN" => s"${junk(i % junk.size)} ${i / junk.size}"
    case other => sys.error(s"no generator for $other")
  }

  /** Every label except PAD (a sequence-padding artifact with no cell
    * realization — the reference never emits it for whole cells). */
  val EvalLabels: Seq[String] = RegexLabeler.Labels.filterNot(_ == "PAD")

  // ------------------------------------------------------ adversarial tier
  /** The cases the reference's char-CNN
    * (labelers/character_level_cnn_model.py:204-905) exists for and a
    * regex chain is expected to miss: real-world noise, format variants
    * outside the pattern alternatives, and entities embedded in prose.
    * i%3 picks the stressor class so each label sees all three. */
  def advCell(label: String, i: Int): String = (i % 3) match {
    case 0 => noise(cell(label, i), i)
    case 1 => unseen(label, i)
    case _ => embed(label, cell(label, i), i)
  }

  /** Case flips, whitespace padding, trailing punctuation — messy but
    * still unambiguously the same entity to a human reader. */
  private def noise(base: String, i: Int): String = (i / 3 % 4) match {
    case 0 => "  " + base
    case 1 => base + "."
    case 2 => if (i % 2 == 0) base.toUpperCase else base.toLowerCase
    case _ => base.replaceFirst(" ", "  ")
  }

  /** Plausible real-world format variants deliberately OUTSIDE the clean
    * tier's pattern cycle. */
  private def unseen(label: String, i: Int): String = label match {
    case "ADDRESS" =>
      if (i % 2 == 0) s"${100 + i} Birch Court Apt ${1 + i % 20}"
      else s"P.O. Box ${1000 + i}"
    case "BAN" => s"Acct No. ${(1000000000L + i * 7919L).toString.take(10)}"
    case "CREDIT_CARD" => f"4${i % 10}23-5678-9${i % 10}12-345${i % 10}"
    case "DATE" => (i % 3) match {
      case 0 => f"${1 + i % 28}%02d.${1 + i % 12}%02d.2021"
      case 1 => s"Mar ${1 + i % 28} '2${i % 10}"
      case _ => s"${1 + i % 28}th of March 20${10 + i % 15}"
    }
    case "TIME" => f"${i % 24}%02dh${i % 60}%02d"
    case "DATETIME" => f"2023-${1 + i % 12}%02d-${1 + i % 28}%02dT${i % 24}%02d:${i % 60}%02d:00Z"
    case "DRIVERS_LICENSE" =>
      s"${('A' + i % 26).toChar}${('A' + (i / 2) % 26).toChar}${(1000000 + i).toString}"
    case "EMAIL_ADDRESS" =>
      // odd i: word-obfuscated form (" at "/" dot ") — deliberate
      // evasion that a PII labeler must still catch (r15: recovered by
      // the wordEmail canonicalize transform; previously this family
      // sat in the UNKNOWN near-miss slot and the NB mislabeled it)
      if (i % 2 == 0) s"First.Last$i@sub.domain${i % 10}.co.uk"
      else s"user$i at mail${i % 10} dot com"
    case "UUID" =>
      s"{${hex(i * 0x9E3779B1, 8)}-${hex(i * 40503, 4)}-" +
        s"${hex(i * 531, 4)}-${hex(i * 77, 4)}-${hex(i, 6)}${hex(i * 13, 6)}}"
    case "HASH_OR_KEY" => "0x" + (hex(i * 0x9E3779B1, 8) * 4).take(32)
    case "IPV4" => s"${i % 256}.${(i * 3) % 256}.${(i * 7) % 256}.${(i * 11) % 256}:${8000 + i % 1000}"
    case "IPV6" => s"2001:0DB8:85A3:0000:0000:8A2E:0370:${hex(7334 + i, 4).toUpperCase}"
    case "MAC_ADDRESS" => f"00-1B-44-${i % 256}%02X-${(i * 3) % 256}%02X-${(i * 7) % 256}%02X"
    case "PERSON" =>
      if (i % 2 == 0) s"Dr. ${firsts(i % firsts.size)} ${lasts(i % lasts.size)}"
      else s"${lasts(i % lasts.size)}, ${firsts(i % firsts.size)}"
    case "PHONE_NUMBER" =>
      if (i % 2 == 0) f"${200 + i % 700}%03d.${100 + i % 900}%03d.${1000 + (i * 7) % 9000}%04d"
      else s"+44 20 ${7000 + i % 1000} ${1000 + (i * 3) % 9000}"
    case "SSN" => f"${100 + i % 900}%03d ${10 + i % 90}%02d ${1000 + (i * 3) % 9000}%04d"
    case "URL" =>
      if (i % 2 == 0) s"http://example${i % 10}.com:${8000 + i % 1000}/a?b=$i"
      else s"example${i % 10}.com/page/$i"
    case "US_STATE" => (i % 3) match {
      case 0 => "california"; case 1 => "n. dakota"; case _ => "MASS."
    }
    case "INTEGER" => f"${(i + 1) * 1234567L}%,d"
    case "FLOAT" => s"${i + 1}${if (i % 2 == 0) "," else "."}${10 + i % 90}"
    case "QUANTITY" => if (i % 2 == 0) s"${i * 3}${units(i % units.size)}"
      else s"approx. ${i * 3} ${units(i % units.size)}"
    case "ORDINAL" =>
      val n = i + 1
      val suf = if (n % 100 / 10 == 1) "TH"
        else n % 10 match { case 1 => "ST"; case 2 => "ND"; case 3 => "RD"; case _ => "TH" }
      s"$n$suf"
    case "UNKNOWN" => (i % 6) match {
      // near-misses: entity-shaped junk that must NOT be labeled
      case 0 => s"${10000 + i}-${100 + i % 900}"
      // near-miss pressure on the r15 wordEmail transform: rewrites to
      // 'user$i@mail.c' whose 1-char TLD fails the chain, so the
      // accept-gate must keep it UNKNOWN
      case 1 => s"user$i at mail dot c"
      case 2 => s"http//broken$i.example"
      case 3 => s"v${i % 10}.${i % 10}.${i % 100}"
      case 4 => s"${('A' + i % 26).toChar}1B${i % 10}C${i % 10}"
      case _ => s"${100 + i % 900}-${100 + i % 900}"
    }
    case other => sys.error(s"no adversarial generator for $other")
  }

  /** The entity embedded mid-prose — whole-cell matching cannot see it;
    * the token/window scan path (labeler_spans' mechanism) can. */
  private def embed(label: String, base: String, i: Int): String =
    if (label == "UNKNOWN") base
    else (i / 3 % 4) match {
      case 0 => s"please use $base when you reply"
      case 1 => s"noted: $base."
      case 2 => s"the value $base was recorded"
      case _ => s"ref $base thanks"
    }

  /** The reference integration suite's exact cells
    * (test_integration_struct_data_labeler.py:13-21) with its labels.
    * Its vocabulary folds bare dates into DATETIME; ours distinguishes
    * DATE — counted as agreement under that equivalence. */
  val ReferenceCells: Seq[(String, String)] = Seq(
    ("123 Fake St.", "ADDRESS"), ("1/2/2020", "DATETIME"),
    ("nice.", "UNKNOWN"), ("4/3/22", "DATETIME"), ("abc", "UNKNOWN"),
    ("333-44-2341", "SSN"))

  final case class Scores(label: String, tp: Long, fp: Long, fn: Long) {
    def precision: Double = if (tp + fp == 0) 0 else tp.toDouble / (tp + fp)
    def recall: Double = if (tp + fn == 0) 0 else tp.toDouble / (tp + fn)
    def f1: Double =
      if (precision + recall == 0) 0
      else 2 * precision * recall / (precision + recall)
  }

  private def scores(confusion: Seq[(String, String, Long)]): Seq[Scores] =
    EvalLabels.map { l =>
      val tp = confusion.collect { case (`l`, `l`, n) => n }.sum
      val fp = confusion.collect { case (t, `l`, n) if t != l => n }.sum
      val fn = confusion.collect { case (`l`, p, n) if p != l => n }.sum
      Scores(l, tp, fp, fn)
    }

  private def confusionOf(labeled: DataFrame): Seq[(String, String, Long)] =
    labeled.groupBy("true_label", "pred").agg(count(lit(1)).as("n"))
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSeq

  def main(args: Array[String]): Unit = {
    val out = args.headOption.getOrElse("LABELER_ACCURACY.md")
    val spark = graft.GraftSession(graft.GraftSession.envCpus(default = 8),
      confs = Seq("spark.sql.shuffle.partitions" -> "8"))
    import spark.implicits._

    val fixtures = EvalLabels.flatMap(l =>
      (0 until PerLabel).map(i => (l, cell(l, i), i)))
      .toDF("true_label", "cell", "i")

    // ---- 1. the production chain (FastMatch ≡ regex, property-tested)
    val chainConf = confusionOf(
      fixtures.select(col("true_label"),
        RegexLabeler.labelOf(col("cell")).as("pred")))
    val chainScores = scores(chainConf)
    val total = PerLabel.toLong * EvalLabels.size
    val chainAcc = chainScores.map(_.tp).sum.toDouble / total

    // ---- 1b. the TWO-STAGE structured default (chain -> scan fallback
    // on UNKNOWN): on the clean tier it must match the chain everywhere
    // the chain labels; the delta (if any) is confined to true-UNKNOWN
    // cells and reported explicitly
    val twoCleanConf = confusionOf(
      fixtures.select(col("true_label"),
        graft.labelers.FastLabelTwoStage(col("cell")).as("pred")))
    val twoCleanAcc = scores(twoCleanConf).map(_.tp).sum.toDouble / total

    // ---- 2. trainable NgramBayes: fit on even i, predict odd i
    val train = fixtures.filter(col("i") % 2 === 0)
      .select(col("true_label").as("label"), col("cell"))
    val test = fixtures.filter(col("i") % 2 === 1)
      .select(monotonically_increasing_id().as("id"),
        col("true_label"), col("cell"))
    val model = NgramBayes.fit(train)
    val nbConf = confusionOf(
      NgramBayes.predict(test.select("id", "cell"), model)
        .join(test.select("id", "true_label"), Seq("id")))
    val nbScores = scores(nbConf)
    val nbAcc = nbScores.map(_.tp).sum.toDouble / (total / 2)

    // ---- 2b. NB over SHAPE-normalized cells (digits→9, lowercased):
    // entity labels are defined by digit STRUCTURE, not digit values —
    // raw grams memorize values ("123" vs "456"), shaped grams learn
    // the structure ("999-99-9999"). The ONE transform definition —
    // train here, predict in NbFallback — lives in NgramBayes; a local
    // copy drifting would silently mismatch train vs predict.
    def shape(c: org.apache.spark.sql.Column) = NgramBayes.shapeNormalize(c)
    val modelS = NgramBayes.fit(train.select(col("label"),
      shape(col("cell")).as("cell")))
    val nbsConf = confusionOf(
      NgramBayes.predict(
        test.select(col("id"), shape(col("cell")).as("cell")), modelS)
        .join(test.select("id", "true_label"), Seq("id")))
    val nbsScores = scores(nbsConf)
    val nbsAcc = nbsScores.map(_.tp).sum.toDouble / (total / 2)

    // ---- 2c. ADVERSARIAL tier: noise / unseen formats / embedded-in-
    // prose (i%3), evaluated three ways — whole-cell chain (production
    // structured path), token-window scan vote (the labeler_spans
    // mechanism), and the shaped NB trained ONLY on the clean tier.
    val PerLabelAdv = 99
    val advFixtures = EvalLabels.flatMap(l =>
      (0 until PerLabelAdv).map(i => (l, advCell(l, i), i)))
      .toDF("true_label", "cell", "i")
      .withColumn("id", monotonically_increasing_id())
      .cache()
    val advTotal = PerLabelAdv.toLong * EvalLabels.size

    def accOf(conf: Seq[(String, String, Long)], denom: Long): Double =
      conf.collect { case (t, p, n) if t == p => n }.sum.toDouble / denom

    // (a) whole-cell chain (with the production trim preprocessor)
    val advChainConf = confusionOf(advFixtures.select(col("true_label"),
      RegexLabeler.labelOf(trim(col("cell"))).as("pred")))

    // (b) token-window scan vote: label every 1..3-token window
    // (edge punctuation stripped, as labeler_spans does), keep
    // non-UNKNOWN hits, decide by the chain's own rule priority
    val toks = advFixtures.select(col("id"),
      split(trim(col("cell")), "\\s+").as("ts"))
    val wins = (1 to 3).map { wlen =>
      toks.filter(size(col("ts")) >= wlen)
        .select(col("id"),
          explode(sequence(lit(1), size(col("ts")) - (wlen - 1))).as("p"),
          col("ts"))
        .select(col("id"), lit(wlen).as("wlen"),
          concat_ws(" ", expr(s"slice(ts, p, $wlen)")).as("w"))
    }.reduce(_ unionAll _)
    // the production edge-punct class (shared constant — this harness
    // must grade the strip FastMatch.scanLabel actually applies)
    val ep = graft.labelers.FastMatch.EdgePunctClass
    val coreW = regexp_replace(regexp_replace(col("w"),
      s"^$ep+", ""), s"$ep+$$", "")
    val hit = wins.select(col("id"), col("wlen"),
      RegexLabeler.labelOf(coreW).as("l"))
      .filter(col("l") =!= "UNKNOWN")
    val priOf = RegexLabeler.rules.map(_.label).zipWithIndex
      .foldRight(lit(999): org.apache.spark.sql.Column) {
        case ((l, i), acc) => when(col("l") === l, i).otherwise(acc)
      }
    // LONGEST window first (maximal munch — "123 Fake St" must resolve
    // ADDRESS, not the house number's INTEGER), chain priority breaks ties
    val best = hit.withColumn("pri", priOf)
      .groupBy("id")
      .agg(min(struct(lit(3) - col("wlen"), col("pri"), col("l"))).as("b"))
      .select(col("id"), col("b.l").as("pred"))
    val advScanConf = confusionOf(
      advFixtures.join(best, Seq("id"), "left")
        .select(col("true_label"),
          coalesce(col("pred"), lit("UNKNOWN")).as("pred")))

    // (c) shaped NB fit on the FULL clean tier, predicting adversarial
    val modelAdv = NgramBayes.fit(fixtures.select(col("true_label")
      .as("label"), shape(col("cell")).as("cell")))
    val advNbConf = confusionOf(
      NgramBayes.predict(
        advFixtures.select(col("id"), shape(col("cell")).as("cell")),
        modelAdv)
        .join(advFixtures.select("id", "true_label"), Seq("id")))

    // per-stressor-class accuracy of each method (i%3 partitions)
    def tierConf(tier: Int, pred: DataFrame): Double = {
      val sub = confusionOf(pred.join(
        advFixtures.filter(col("i") % 3 === tier).select("id"), Seq("id")))
      accOf(sub, sub.map(_._3).sum)
    }
    val chainPred = advFixtures.select(col("id"), col("true_label"),
      RegexLabeler.labelOf(trim(col("cell"))).as("pred")).cache()
    val twoPred = advFixtures.select(col("id"), col("true_label"),
      graft.labelers.FastLabelTwoStage(trim(col("cell"))).as("pred")).cache()
    val advTwoConf = confusionOf(twoPred.select("true_label", "pred"))
    val scanPred = advFixtures.join(best, Seq("id"), "left")
      .select(col("id"), col("true_label"),
        coalesce(col("pred"), lit("UNKNOWN")).as("pred")).cache()
    val nbPred = NgramBayes.predict(
      advFixtures.select(col("id"), shape(col("cell")).as("cell")), modelAdv)
      .join(advFixtures.select("id", "true_label"), Seq("id")).cache()
    // (e) shape-NB fallback ensemble: the production NbFallback — two-
    // stage first, the clean-tier shaped NB only on its UNKNOWNs. The
    // NB is trained through NbFallback.train so the measured row IS the
    // production configuration (r14: the 2∪3∪4∪5 gram union)
    val ensModel = graft.labelers.DataLabeler.NbFallback.train(
      fixtures.select(col("true_label").as("label"), col("cell")))
    val ensPred = ensModel.label(advFixtures, "cell")
      .join(advFixtures.select("id", "true_label"), Seq("id")).cache()
    val advEnsConf = confusionOf(ensPred.select("true_label", "pred"))
    // clean-tier guard for the ensemble: must not move from the default
    val ensCleanAcc = {
      val fx = fixtures.withColumn("id", monotonically_increasing_id()).cache()
      val p = ensModel.label(fx, "cell")
        .join(fx.select("id", "true_label"), Seq("id"))
      p.filter(col("true_label") === col("pred")).count().toDouble /
        fx.count()
    }
    val tierNames = Seq("noise", "unseen-format", "embedded-in-prose")
    val tierRows = (0 until 3).map(t => (tierNames(t),
      tierConf(t, chainPred), tierConf(t, scanPred), tierConf(t, nbPred),
      tierConf(t, twoPred), tierConf(t, ensPred)))

    // (f) HELD-OUT generalization tier (r15): a third per-label fixture
    // family (LabelerHoldoutProbe.holdoutCell — real-world conventions
    // disjoint from both tiers above, authored before first
    // measurement), scored against the same production ensemble. The
    // adversarial tier above was visible while its fixes were designed;
    // this tier was not, so it is the generalization evidence.
    val PerHoldout = 96
    val holdoutFx = EvalLabels.flatMap(l =>
      (0 until PerHoldout).map(i => (l, LabelerHoldoutProbe.holdoutCell(l, i))))
      .toDF("true_label", "cell")
      .withColumn("id", monotonically_increasing_id()).cache()
    val holdPred = ensModel.label(holdoutFx.select("id", "cell"), "cell")
      .join(holdoutFx.select("id", "true_label"), Seq("id")).cache()
    val holdConf = confusionOf(holdPred.select("true_label", "pred"))
    val holdTotal = PerHoldout.toLong * EvalLabels.size
    val holdAcc = accOf(holdConf, holdTotal)
    val holdResid = holdConf.filter(c => c._1 != c._2).sortBy(-_._3).take(6)
    holdPred.unpersist(); holdoutFx.unpersist()

    // ---- 3. the reference's integration cells, DATE≈DATETIME folded
    val refRows = ReferenceCells.map { case (cellV, want) =>
      val got = spark.range(1).select(
        RegexLabeler.labelOf(lit(cellV)).as("p")).head().getString(0)
      val ok = got == want || (got == "DATE" && want == "DATETIME")
      (cellV, want, got, ok)
    }

    def f(d: Double) = f"$d%.3f"
    val sb = new StringBuilder
    sb ++= "# Labeler accuracy\n\n"
    sb ++= s"Generated by `graft.tools.LabelerBench` over a deterministic\n"
    sb ++= s"fixture corpus: ${EvalLabels.size} labels x $PerLabel cells, pattern\n"
    sb ++= "variants cycled per cell (see LabelerBench.cell). PAD is excluded\n"
    sb ++= "(sequence-padding artifact, never a whole-cell label).\n\n"
    sb ++= s"## Regex/FastMatch chain (production path)\n\n"
    sb ++= s"Cell accuracy: **${f(chainAcc)}** " +
      s"(${chainScores.map(_.tp).sum}/$total), macro-F1 " +
      s"**${f(chainScores.map(_.f1).sum / chainScores.size)}**\n\n"
    sb ++= "| label | precision | recall | F1 |\n|---|---|---|---|\n"
    chainScores.foreach(s =>
      sb ++= s"| ${s.label} | ${f(s.precision)} | ${f(s.recall)} | ${f(s.f1)} |\n")
    val top = chainConf.filter(c => c._1 != c._2).sortBy(-_._3).take(8)
    if (top.nonEmpty) {
      sb ++= "\nTop confusions (true → predicted):\n\n"
      top.foreach { case (t, p, n) => sb ++= s"- $t → $p: $n\n" }
    }
    sb ++= s"\nTwo-stage structured default (chain → canonicalize-rematch →\n"
    sb ++= s"scan fallback on UNKNOWN, the `DataLabeler.structuredDefault`\n"
    sb ++= s"model): clean-tier\n"
    sb ++= s"cell accuracy **${f(twoCleanAcc)}** (chain ${f(chainAcc)} — the\n"
    sb ++= "fallback only ever fires on chain-UNKNOWN cells, and the scan's\n"
    sb ++= "catch-all exclusion keeps junk-with-digits cells UNKNOWN).\n"
    sb ++= s"\n## NgramBayes (trainable slot; fit even-i, predict odd-i)\n\n"
    sb ++= s"Cell accuracy: **${f(nbAcc)}**, macro-F1 " +
      s"**${f(nbScores.map(_.f1).sum / nbScores.size)}**\n\n"
    sb ++= "| label | precision | recall | F1 |\n|---|---|---|---|\n"
    nbScores.foreach(s =>
      sb ++= s"| ${s.label} | ${f(s.precision)} | ${f(s.recall)} | ${f(s.f1)} |\n")
    val nbTop = nbConf.filter(c => c._1 != c._2).sortBy(-_._3).take(8)
    if (nbTop.nonEmpty) {
      sb ++= "\nTop confusions (true → predicted):\n\n"
      nbTop.foreach { case (t, p, n) => sb ++= s"- $t → $p: $n\n" }
    }
    sb ++= s"\n## NgramBayes over shape-normalized cells (digits→9, lowercase)\n\n"
    sb ++= "Same model and split; the caller maps cells through\n"
    sb ++= "`concat('^', translate(lower(cell), '0123456789', '9999999999'), '$')`\n"
    sb ++= "before fit and predict — entity labels are digit-STRUCTURE\n"
    sb ++= "classes, and the boundary sentinels give the grams length/edge\n"
    sb ++= "information, so shaped grams generalize where raw grams\n"
    sb ++= "memorize digit values:\n\n"
    sb ++= s"Cell accuracy: **${f(nbsAcc)}**, macro-F1 " +
      s"**${f(nbsScores.map(_.f1).sum / nbsScores.size)}**\n\n"
    sb ++= "| label | precision | recall | F1 |\n|---|---|---|---|\n"
    nbsScores.foreach(s =>
      sb ++= s"| ${s.label} | ${f(s.precision)} | ${f(s.recall)} | ${f(s.f1)} |\n")
    val nbsTop = nbsConf.filter(c => c._1 != c._2).sortBy(-_._3).take(8)
    if (nbsTop.nonEmpty) {
      sb ++= "\nTop confusions (true → predicted):\n\n"
      nbsTop.foreach { case (t, p, n) => sb ++= s"- $t → $p: $n\n" }
    }
    val advChainAcc = accOf(advChainConf, advTotal)
    val advScanAcc = accOf(advScanConf, advTotal)
    val advNbAcc = accOf(advNbConf, advTotal)
    val advTwoAcc = accOf(advTwoConf, advTotal)
    sb ++= "\n## Adversarial tier (the honest gap report)\n\n"
    sb ++= s"${EvalLabels.size} labels x $PerLabelAdv cells, stressor class\n"
    sb ++= "cycled per cell (i%3): NOISE (case flips, padding, trailing\n"
    sb ++= "punctuation), UNSEEN FORMAT (real-world variants outside the\n"
    sb ++= "pattern cycle: dotted dates, dashed credit cards, `Lastname,\n"
    sb ++= "First`, URLs with ports, thousands separators...), and\n"
    sb ++= "EMBEDDED-IN-PROSE (the entity inside a sentence). These are\n"
    sb ++= "the cases the reference's char-CNN\n"
    sb ++= "(labelers/character_level_cnn_model.py:204-905) exists for.\n\n"
    sb ++= "| method | overall | " + tierNames.mkString(" | ") + " |\n"
    sb ++= "|---|---|---|---|---|\n"
    sb ++= s"| whole-cell regex chain (stage one alone) | ${f(advChainAcc)} | " +
      tierRows.map(r => f(r._2)).mkString(" | ") + " |\n"
    sb ++= s"| token-window scan vote (labeler_spans path) | ${f(advScanAcc)} | " +
      tierRows.map(r => f(r._3)).mkString(" | ") + " |\n"
    sb ++= s"| shaped NgramBayes (trained on clean tier) | ${f(advNbAcc)} | " +
      tierRows.map(r => f(r._4)).mkString(" | ") + " |\n"
    sb ++= s"| two-stage structured default (chain → normalize → scan) | ${f(advTwoAcc)} | " +
      tierRows.map(r => f(r._5)).mkString(" | ") + " |\n"
    sb ++= s"| + shape-NB fallback (DataLabeler.NbFallback, 2∪3∪4∪5 grams) | ${f(accOf(advEnsConf, advTotal))} | " +
      tierRows.map(r => f(r._6)).mkString(" | ") + " |\n"
    sb ++= s"\nNbFallback clean-tier guard: **${f(ensCleanAcc)}** (the NB may\n"
    sb ++= "only fire where the two-stage default answered UNKNOWN, so no\n"
    sb ++= "chain- or scan-labeled cell can change; the ungated fallback\n"
    sb ++= "dominated every margin-gated variant measured, and the\n"
    sb ++= "2∪3∪4∪5 gram union dominated the ten single/union gram sweeps\n"
    sb ++= "of r14 — graft.tools.LabelerEnsembleProbe).\n"
    val advScanTop = advScanConf.filter(c => c._1 != c._2).sortBy(-_._3).take(8)
    if (advScanTop.nonEmpty) {
      sb ++= "\nTop scan-vote confusions (true → predicted):\n\n"
      advScanTop.foreach { case (t, p, n) => sb ++= s"- $t → $p: $n\n" }
    }
    sb ++= "\n**Reading**: the bare whole-cell chain collapses on\n"
    sb ++= "prose-embedded entities by construction (anchored full-cell\n"
    sb ++= "match); the STRUCTURED DEFAULT is therefore the staged\n"
    sb ++= "model — chain first, then the round-12 CANONICALIZE-REMATCH\n"
    sb ++= "pass (FastMatch.normalizedLabel: published format variants —\n"
    sb ++= "grouped thousands, dashed PANs, +E.164 / dotted NANP phones,\n"
    sb ++= "dashed MACs, IPv4:port, spaced SSNs, scheme-less URLs,\n"
    sb ++= "case-folded state names, bracket wraps, `Acct No.` prefixes,\n"
    sb ++= "and the r15 residual-driven trio: P.O. boxes, European\n"
    sb ++= "decimal commas, word-obfuscated emails — rewritten under\n"
    sb ++= "per-transform accept lists and re-chained), then the\n"
    sb ++= "token-window scan fallback (with INTEGER/FLOAT excluded as\n"
    sb ++= "fallback evidence: a bare number inside junk is not a numeric\n"
    sb ++= "cell, and truly numeric cells already matched in stage one).\n"
    sb ++= "The NB's votes pass the r15 vocabulary-consistency gate\n"
    sb ++= "(RegexLabeler.nbGuards: containment-necessary conditions only\n"
    sb ++= "— an EMAIL vote needs an '@', a HASH_OR_KEY vote needs ≥32\n"
    sb ++= "chars; upper bounds are deliberately excluded so\n"
    sb ++= "prose-embedded recoveries are never vetoed). The r12\n"
    sb ++= "normalize pass, the r13/r14 union-gram fallback, and the r15\n"
    sb ++= "census-named fixes (probe: graft.tools.LabelerEnsembleProbe)\n"
    sb ++= "moved the unseen-format tier 0.609 → 0.673 → 0.796 → 0.913 →\n"
    sb ++= "the figure above while touching no chain-labeled cell and\n"
    sb ++= "holding the clean guard at 0.995. Genuinely novel compound\n"
    sb ++= "formats outside every tabulated family remain the documented\n"
    sb ++= "CNN-class capability gap — the fixture suite's current\n"
    sb ++= "families are covered, which bounds (not closes) that gap.\n"
    sb ++= "\n## Held-out generalization tier (r15)\n\n"
    sb ++= s"${EvalLabels.size} labels x $PerHoldout cells of a THIRD\n"
    sb ++= "per-label family (graft.tools.LabelerHoldoutProbe.holdoutCell:\n"
    sb ++= "real-world conventions disjoint from both fixture tiers above,\n"
    sb ++= "authored before the first measurement), against the unchanged\n"
    sb ++= "production ensemble. Unlike the adversarial tier, no fix was\n"
    sb ++= "designed while looking at these families' errors EXCEPT the\n"
    sb ++= "r15 rule/guard additions the tier itself named — the pre-fix\n"
    sb ++= "baseline is committed alongside the probe (0.749, with every\n"
    sb ++= "residual stage-attributed): the chain lacked eight published\n"
    sb ++= "conventions, and NB votes landed with no vocabulary-consistency\n"
    sb ++= "guard for most labels (near-miss precision tier 0.052).\n\n"
    sb ++= s"Held-out accuracy: **${f(holdAcc)}**\n"
    if (holdResid.nonEmpty) {
      sb ++= "\nRemaining residuals (true → predicted):\n\n"
      holdResid.foreach { case (t, p, n) => sb ++= s"- $t → $p: $n\n" }
      sb ++= "\nThe unspaced 12-hex MAC form is genuinely ambiguous (a\n"
      sb ++= "12-hex blob is not evidence of a MAC) — UNKNOWN is the safe\n"
      sb ++= "answer and the named residual; concept-level containment\n"
      sb ++= "guards cannot veto an INTEGER vote on lettered junk because\n"
      sb ++= "prose-embedded integers are a correct recovery class.\n"
    }
    sb ++= "\n## Blind tier ladder (the rotating generalization estimate)\n\n"
    sb ++= "Each tier is authored BLIND, measured ONCE against frozen\n"
    sb ++= "labeler code, committed as-is, and only then may its census\n"
    sb ++= "drive the next round's fixes — after which it becomes a TUNED\n"
    sb ++= "regression pin and the estimate role rotates to a new blind\n"
    sb ++= "tier. The honest generalization number is always the NEWEST\n"
    sb ++= "tier's one-shot; the ladder of (one-shot → tuned) pairs shows\n"
    sb ++= "the census-close loop converging per tier without ever\n"
    sb ++= "grading on a tier it trained against (the methodology that\n"
    sb ++= "replaces the reference's pretrained char-CNN evaluation):\n\n"
    sb ++= "| tier (probe) | one-shot | tuned pin |\n|---|---|---|\n"
    sb ++= "| held-out (LabelerHoldoutProbe, r15) | 0.749 | 0.978 |\n"
    sb ++= "| fresh (LabelerFreshTierProbe, r15→r16) | 0.619 | 0.999 |\n"
    sb ++= "| five (LabelerTierFiveProbe, r16→r17) | 0.681 | 1.000 |\n"
    sb ++= "| six (LabelerTierSixProbe, r17) | **0.573** | — (r18) |\n\n"
    sb ++= "Tier six's standing 0.573 (junk tier 0.521) carries a full\n"
    sb ++= "stage-attributed residual census in its probe output — nine\n"
    sb ++= "chain-family misses (ISO week dates, asctime datetimes,\n"
    sb ++= "Diners 14-digit PANs, accounting decimals, (at)/(dot)\n"
    sb ++= "obfuscated emails, roman ordinals, currency-code amounts,\n"
    sb ++= "DL#-prefixed licenses, SSN#-glued ids, dotless uppercase\n"
    sb ++= "state abbrevs) and four junk-tier NB precision leaks\n"
    sb ++= "(ORD- ids → PHONE, feet-inches → INTEGER, base64 → BAN,\n"
    sb ++= "git-describe → FLOAT/DL) — the r18 work list.\n"
    sb ++= "\n**Model slot status**: `DataLabeler.LabelModel` is the\n"
    sb ++= "pluggable inference boundary, and since r13 a TRAINED model\n"
    sb ++= "actually sits in it in production shape:\n"
    sb ++= "`DataLabeler.NbFallback` (shape-normalized NgramBayes voting\n"
    sb ++= "on the structured default's UNKNOWNs — the ensemble row\n"
    sb ++= "above), with its composition oracle-gated end-to-end by the\n"
    sb ++= "`labeler_nb_fallback` query (chain restatement + NB\n"
    sb ++= "fit/predict + CASE composition recomputed by DuckDB).\n"
    sb ++= "Wiring a real ONNX char-CNN remains DEFERRED with data: this\n"
    sb ++= "build environment resolves no new dependencies (offline\n"
    sb ++= "coursier cache; no onnxruntime jar on the fixed classpath)\n"
    sb ++= "and ships no pretrained weights, so a CNN slot could only\n"
    sb ++= "ever score a fake model — the ensemble numbers above are now\n"
    sb ++= "the bar such a model must beat to pay for itself.\n"
    sb ++= "\n## Reference integration cells\n\n"
    sb ++= "The exact cells of the reference's structured-labeler\n"
    sb ++= "integration suite (test_integration_struct_data_labeler.py:13-21),\n"
    sb ++= "with DATE≈DATETIME counted as agreement (the reference's\n"
    sb ++= "vocabulary folds bare dates into DATETIME):\n\n"
    sb ++= "| cell | reference label | our label | agree |\n|---|---|---|---|\n"
    refRows.foreach { case (c, w, g, ok) =>
      sb ++= s"| `$c` | $w | $g | ${if (ok) "yes" else "NO"} |\n" }
    val refOk = refRows.count(_._4)
    sb ++= s"\nAgreement: $refOk/${refRows.size}\n"
    java.nio.file.Files.writeString(java.nio.file.Paths.get(out), sb.result())
    println(s"[labeler-bench] wrote $out  chain_acc=${f(chainAcc)} " +
      s"nb_acc=${f(nbAcc)} nb_shaped_acc=${f(nbsAcc)}")
    spark.stop()
  }
}
