package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.labelers.RegexLabeler
import graft.profiler.Profiler

/** RegexLabeler unit tests: per-cell label assignment (priority chain) and
  * the DataLabelerColumn decision thresholds
  * (data_labeler_column_profile.py:240-270). */
class LabelerSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark

  private def labelOf(values: String*): Seq[String] = {
    import spark.implicits._
    values.toDF("v").select(RegexLabeler.labelOf(col("v"))).collect()
      .map(_.getString(0)).toSeq
  }

  test("cell labels: one entity per shape, priority resolves overlaps") {
    val cases = Seq(
      "alice@example.com" -> "EMAIL_ADDRESS",
      "https://spark.apache.org/docs" -> "URL",
      "123-45-6789" -> "SSN",
      "(212) 555-0123" -> "PHONE_NUMBER",
      "+1 212-555-0123" -> "PHONE_NUMBER",
      "192.168.0.1" -> "IPV4",
      "2001:db8:0:0:0:0:2:1" -> "IPV6",
      "aa:bb:cc:dd:ee:ff" -> "MAC_ADDRESS",
      "550e8400-e29b-41d4-a716-446655440000" -> "UUID",
      "d41d8cd98f00b204e9800998ecf8427e" -> "HASH_OR_KEY",
      "2023-06-15" -> "DATE",
      "2023-06-15 10:30:00" -> "DATETIME",
      "10:30 pm" -> "TIME",
      "4111-1111-1111-1111" -> "CREDIT_CARD",
      "4111111111111111" -> "CREDIT_CARD", // 16 digits: card, not BAN
      "12345678901" -> "BAN", // 11 digits
      "42" -> "INTEGER",
      "-7.25" -> "FLOAT",
      "3rd" -> "ORDINAL",
      "15 kg" -> "QUANTITY",
      "TX" -> "US_STATE",
      "D1234567" -> "DRIVERS_LICENSE",
      "742 Evergreen Terrace Ave" -> "ADDRESS",
      "Jane Doe" -> "PERSON",
      "5-LOW" -> "UNKNOWN")
    val got = labelOf(cases.map(_._1): _*)
    cases.zip(got).foreach { case ((v, want), g) =>
      assert(g == want, s"value '$v': expected $want got $g")
    }
  }

  test("decision thresholds: 0.35 floor and 0.2 join band") {
    assert(RegexLabeler.decide(Map("EMAIL_ADDRESS" -> 100L)) == "EMAIL_ADDRESS")
    // top below 0.35 -> undetermined
    assert(RegexLabeler.decide(Map(
      "EMAIL_ADDRESS" -> 30L, "URL" -> 30L, "SSN" -> 20L, "UNKNOWN" -> 20L))
      == "could not determine")
    // 0.5 / 0.3: within the 0.2 band -> pipe-joined in ratio order
    assert(RegexLabeler.decide(Map(
      "EMAIL_ADDRESS" -> 50L, "PHONE_NUMBER" -> 30L, "INTEGER" -> 20L))
      == "EMAIL_ADDRESS|PHONE_NUMBER")
    // UNKNOWN never wins even with the most votes
    assert(RegexLabeler.decide(Map("UNKNOWN" -> 60L, "SSN" -> 40L)) == "SSN")
    assert(RegexLabeler.decide(Map("UNKNOWN" -> 100L)) == "could not determine")
  }

  test("column-name model fuzzy-matches schema names") {
    import graft.labelers.ColumnNameLabeler.matchName
    assert(matchName("email").map(_._1).contains("EMAIL_ADDRESS"))
    assert(matchName("Customer_Email_Address").map(_._1).contains("EMAIL_ADDRESS"))
    assert(matchName("phone_nbr").map(_._1).contains("PHONE_NUMBER"))
    assert(matchName("ssn").map(_._1).contains("SSN"))
    assert(matchName("created_at").map(_._1).contains("DATETIME"))
    assert(matchName("username").isEmpty) // false-positive override
    assert(matchName("xyzzy_blob").isEmpty)
  }

  test("report shows bin methods, name label, and vega-lite plots render") {
    val df = {
      import spark.implicits._
      (1 to 500).map(i => (i.toDouble, s"u$i@example.com")).toDF("price", "email")
    }
    val p = Profiler.profile(df)
    val rep = profiler.Report.pretty(p)
    assert(rep.contains("\"bin_method\"") &&
      rep.contains("\"suggested_bin_counts\""))
    assert(rep.contains("\"name_label\""))
    val vl = profiler.Report.vegaLiteHistograms(p)
    assert(vl.contains("vega-lite/v5.json") && vl.contains("\"mark\": \"bar\""))
    val mv = profiler.Report.vegaLiteMissingValues(p)
    assert(mv.contains("missing values by column") &&
      mv.contains("\"null_ratio\""))
  }

  test("pipeline boundary: default labels a column end-to-end") {
    import spark.implicits._
    val df = (1 to 50).map(i => s"  user$i@example.com ").toDF("c")
    // preprocessor trims, model labels, postprocessor decides
    assert(graft.labelers.DataLabeler.structuredDefault
      .labelColumn(df, "c") == "EMAIL_ADDRESS")
  }

  test("profile carries data_label for entity-shaped string columns") {
    import spark.implicits._
    val df = (1 to 200).map(i =>
      (s"user$i@example.com", s"$i", "misc text " * 3)).toDF("email", "num", "blob")
    val p = Profiler.profile(df)
    assert(p.column("email").get.dataLabel.contains("EMAIL_ADDRESS"))
    assert(p.column("num").get.dataLabel.contains("INTEGER"))
    assert(p.column("blob").get.dataLabel.contains("could not determine"))
    val rep = profiler.Report.pretty(p)
    assert(rep.contains("\"data_label\""))
  }

  test("two-stage decision: chain-labeled cells untouched, prose recovered") {
    import graft.labelers.FastMatch
    // stage one decides: identical to the chain wherever it labels
    Seq("user@example.com", "123-45-6789", "2024-01-02", "42", "3.14")
      .foreach(c => assert(FastMatch.twoStageLabel(c) == FastMatch.label(c)))
    // prose-embedded / punctuation-noised entities recover via the scan
    assert(FastMatch.twoStageLabel("please use 123-45-6789 when you reply") == "SSN")
    assert(FastMatch.twoStageLabel("noted: user@example.com.") == "EMAIL_ADDRESS")
    assert(FastMatch.twoStageLabel("the value 1.2.3.4 was recorded") == "IPV4")
    assert(FastMatch.twoStageLabel("ref 123 Fake St. thanks") == "ADDRESS")
    // catch-all exclusion: a bare number inside junk is NOT evidence —
    // junk-with-digits cells stay UNKNOWN (the clean-tier invariant)
    assert(FastMatch.twoStageLabel("foo 3") == "UNKNOWN")
    assert(FastMatch.twoStageLabel("the value 42 was recorded") == "UNKNOWN")
    // but a truly numeric CELL still labels via stage one
    assert(FastMatch.twoStageLabel("42") == "INTEGER")
  }

  test("stage 1.5 canonicalize-rematch: published format variants " +
      "normalize into the vocabulary; near-misses stay UNKNOWN") {
    import graft.labelers.FastMatch.{twoStageLabel => l}
    assert(l("1,234,567") == "INTEGER")
    assert(l("12,345.99") == "FLOAT")
    assert(l("4123-5678-9012-3456") == "CREDIT_CARD")
    assert(l("123 45 6789") == "SSN")
    assert(l("212.555.1234") == "PHONE_NUMBER")
    assert(l("+44 20 7946 0958") == "PHONE_NUMBER")
    assert(l("00-1B-44-11-3A-B7") == "MAC_ADDRESS")
    assert(l("170.3.7.11:8042") == "IPV4")
    assert(l("17h35") == "TIME")
    assert(l("23RD") == "ORDINAL")
    assert(l("california") == "US_STATE")
    assert(l("example.com/page/5") == "URL")
    // r15 residual-driven transforms
    assert(l("P.O. Box 1234") == "ADDRESS")
    assert(l("PO Box 7") == "ADDRESS")
    assert(l("11,20") == "FLOAT")            // European decimal comma
    assert(l("-3,5") == "FLOAT")
    assert(l("user1 at mail dot com") == "EMAIL_ADDRESS") // obfuscated
    // near-misses must NOT normalize into a label
    assert(l("1,23,456") == "UNKNOWN")       // not grouped by 3
    assert(l("P.O. Box") == "UNKNOWN")       // no box number
    assert(l("user1 at mail dot c") == "UNKNOWN") // 1-char TLD fails chain
    assert(l("stay at home") == "UNKNOWN")   // no ' dot ' — not an email
    // the dotted-phone rewrite must agree with the canonical form's own
    // chain verdict (the accept-list delegates validity to the chain)
    assert(l("999.999.9999") == l("(999) 999-9999"))
    assert(l("walrus") == "UNKNOWN")          // one word, not a state
    assert(l("john smith") == "UNKNOWN")      // title-case must not make PERSON
    assert(l("256.1.1.1:80") == l("256.1.1.1")) // octet range delegated to chain
  }

  test("NbFallback only relabels two-stage UNKNOWNs (r13 ensemble)") {
    import org.apache.spark.sql.functions._
    import graft.labelers.DataLabeler
    // train the shaped NB on the clean fixture corpus (what LabelerBench
    // does) and drive the ensemble on cells spanning the three cases
    val spark2 = spark
    import spark2.implicits._
    val train = tools.LabelerBench.EvalLabels.flatMap(l =>
      (0 until 200).map(i => (l, tools.LabelerBench.cell(l, i))))
      .toDF("label", "cell") // the measured LabelerBench configuration
    val ens = DataLabeler.NbFallback.train(train)
    val unseenCandidates = Seq(
      "DATE" -> "Mar 5 '21", "DATE" -> "5th of March 2015",
      "DATE" -> "28.03.2021", "ADDRESS" -> "P.O. Box 1234",
      "PERSON" -> "Smith, John", "PERSON" -> "Dr. Mary Jones")
    val cells = (Seq(
      ("two_stage_hit", "u@example.com"),     // stage-one chain labels it
      ("junk_stays", "!@#$%&^*"),             // junk must remain UNKNOWN
      // r15 vocabulary-consistency gate (RegexLabeler.nbGuards): an NB
      // vote landing on a label whose containment condition the cell
      // fails is demoted — HASH_OR_KEY needs ≥32 chars, EMAIL needs '@'
      ("gate_hash_junk", "U1B6C6"),
      ("gate_email_junk", "user9 at mail dot c")) ++
      unseenCandidates.zipWithIndex.map { case ((want, c), i) =>
        (s"unseen_${i}_$want", c)
      })
      .toDF("case", "cell")
      // cache BEFORE labeling: monotonically_increasing_id is only
      // re-evaluation-stable on a materialized frame (LabelerBench
      // caches its equivalent fixture for the same reason)
      .withColumn("id", monotonically_increasing_id()).cache()
    val pred = ens.label(cells, "cell")
      .join(cells, Seq("id")).collect()
      .map(r => r.getAs[String]("case") -> r.getAs[String]("pred")).toMap
    assert(pred("two_stage_hit") == "EMAIL_ADDRESS")
    assert(pred("junk_stays") == "UNKNOWN")
    assert(pred("gate_hash_junk") == "UNKNOWN")
    assert(pred("gate_email_junk") == "UNKNOWN")
    // the NB fallback recovers unseen-format entities the two-stage
    // default misses (full unseen tier: 0.796 → 0.889 in LabelerBench).
    // These six are deliberately hard picks: dotted dates and both
    // PERSON variants recover; month-name dates and free-form addresses
    // are the documented residual (LABELER_ACCURACY.md) — ≥3 pins the
    // capability deterministically without over-fitting one cell.
    val recovered = unseenCandidates.zipWithIndex.count {
      case ((want, _), i) => pred(s"unseen_${i}_$want") == want
    }
    info(s"unseen recovered $recovered/${unseenCandidates.size}: " +
      unseenCandidates.zipWithIndex.map { case ((w, c), i) =>
        s"'$c'->${pred(s"unseen_${i}_$w")}" }.mkString(", "))
    assert(recovered >= 3,
      s"only $recovered/${unseenCandidates.size} unseen cells recovered")
    // the invariant that makes the ensemble safe: wherever two-stage is
    // not UNKNOWN, the ensemble answer IS the two-stage answer
    val adv = tools.LabelerBench.EvalLabels.flatMap(l =>
      (0 until 21).map(i => (l, tools.LabelerBench.advCell(l, i))))
      .toDF("label", "cell")
      .withColumn("id", monotonically_increasing_id()).cache()
    val both = ens.label(adv, "cell").join(
      adv.select(col("id"),
        graft.labelers.FastLabelTwoStage(trim(col("cell"))).as("two")),
      Seq("id"))
    assert(both.filter(col("two") =!= "UNKNOWN" &&
      col("two") =!= col("pred")).count() == 0)
    cells.unpersist(); adv.unpersist()
  }

  test("NbFallback.label leaves no cached partitions behind") {
    import org.apache.spark.sql.functions._
    import graft.labelers.DataLabeler
    val spark2 = spark
    import spark2.implicits._
    val train = tools.LabelerBench.EvalLabels.flatMap(l =>
      (0 until 50).map(i => (l, tools.LabelerBench.cell(l, i))))
      .toDF("label", "cell")
    val ens = DataLabeler.NbFallback.train(train)
    val cells = (0 until 100).map(i => (i.toLong, s"cell $i value"))
      .toDF("id", "cell")
    // suites run sequentially in the forked test JVM, so clearing the
    // shared session's cache here cannot race another suite
    spark.catalog.clearCache()
    assert(spark.sharedState.cacheManager.isEmpty,
      "test precondition: cache manager not empty")
    val out = ens.label(cells, "cell")
    // the result is already materialized (eager localCheckpoint) and
    // the stage-one cache must be gone the moment label() returns
    assert(spark.sharedState.cacheManager.isEmpty,
      "NbFallback.label left cached partitions registered")
    assert(out.count() == 100)
    // reserved-column contract is enforced, not just documented
    intercept[IllegalArgumentException] {
      ens.label(cells.withColumn("pred", lit("x")), "cell")
    }
    intercept[IllegalArgumentException] {
      ens.label(cells.drop("id"), "cell")
    }
  }
}
