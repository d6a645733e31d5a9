package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables
import graft.labelers.RegexLabeler

/** Entity-labeling queries (SURVEY §2.11): the RegexLabeler's 24-label
  * priority chain evaluated over deterministic entity-shaped columns
  * synthesized from `orders`, with per-column vote counts and the
  * DataLabelerColumn decision thresholds — both oracle-checked.
  *
  * Scale shape: labeling is a map-only CASE-WHEN scan; votes are a
  * groupBy bounded by (columns × 24 labels); the decision is a window
  * over that tiny vote table. At 100 TB the only real cost is the scan.
  */
object LabelerQueries extends QueryModule {

  /** Four test columns with known entity mixes (cell values derived from
    * o_orderkey so both engines synthesize identical data):
    *  - `mixed`:   10 entity types at ~10% each → no label dominates
    *  - `contact`: 50% email / 30% phone / 20% integer → joined label
    *  - `ids`:     100% UUID
    *  - `priority`: o_orderpriority text → all UNKNOWN
    */
  /** The ten entity generators over `orders` columns, in the order the
    * `mixed` column cycles them (`m = o_orderkey % 10` picks branch i).
    * Names are the TRUE labels the NB query trains against; also the
    * building blocks of every cell column here. */
  private def entityCols: Seq[(String, Column)] = {
    val k = col("o_orderkey")
    val ks = k.cast("string")
    val email = concat(lit("user"), ks, lit("@example.com"))
    val url = concat(lit("https://example.org/item/"), ks)
    val ssn = concat(
      lpad((k % 1000).cast("string"), 3, "0"), lit("-"),
      lpad((k % 100).cast("string"), 2, "0"), lit("-"),
      lpad((k % 10000).cast("string"), 4, "0"))
    val ip = concat(
      (k % 200 + 1).cast("string"), lit("."), (k % 250).cast("string"),
      lit("."), (col("o_custkey") % 250).cast("string"), lit("."),
      (k % 100 + 1).cast("string"))
    val dateStr = date_format(col("o_orderdate"), "yyyy-MM-dd")
    val floatStr = concat(ks, lit(".25"))
    val qty = concat((k % 500).cast("string"), lit(" kg"))
    val phone = concat(
      lit("("), lpad((k % 700 + 200).cast("string"), 3, "0"), lit(") "),
      lpad((k % 900 + 100).cast("string"), 3, "0"), lit("-"),
      lpad((k % 10000).cast("string"), 4, "0"))
    val h = md5(ks)
    val uuid = concat(
      substring(h, 1, 8), lit("-"), substring(h, 9, 4), lit("-"),
      substring(h, 13, 4), lit("-"), substring(h, 17, 4), lit("-"),
      substring(h, 21, 12))
    Seq("EMAIL" -> email, "URL" -> url, "SSN" -> ssn, "IPV4" -> ip,
      "DATE" -> dateStr, "INTEGER" -> ks, "FLOAT" -> floatStr,
      "QUANTITY" -> qty, "PHONE" -> phone, "UUID" -> uuid)
  }

  private def cells(s: SparkSession, dir: String): DataFrame = {
    // fanned: cell synthesis + labeling is CPU-bound per row (see
    // Tables.loadFanned — the scan stage otherwise runs on the file's
    // row-group count)
    val o = Tables.loadFanned(s, dir, "orders")
    val k = col("o_orderkey")
    val ks = k.cast("string")
    val ent = entityCols.toMap
    val Seq(email, phone, uuid) = Seq("EMAIL", "PHONE", "UUID").map(ent)
    val m = k % 10
    val mixed = entityCols.zipWithIndex.foldRight(uuid) {
      case (((_, c), i), acc) => if (i == 9) acc else when(m === i, c).otherwise(acc)
    }
    val contact = when(m < 5, email).when(m < 8, phone).otherwise(ks)
    o.select(explode(array(
      struct(lit("mixed").as("col_name"), mixed.as("cell")),
      struct(lit("contact").as("col_name"), contact.as("cell")),
      struct(lit("ids").as("col_name"), uuid.as("cell")),
      struct(lit("priority").as("col_name"),
        col("o_orderpriority").as("cell")))).as("kv"))
      .select(col("kv.col_name"), col("kv.cell"))
  }

  /** The same ten generators as DuckDB SQL fragments, same order. */
  private val entitySql: Seq[(String, String)] = {
    val ks = "CAST(o_orderkey AS VARCHAR)"
    Seq(
      "EMAIL" -> s"'user' || $ks || '@example.com'",
      "URL" -> s"'https://example.org/item/' || $ks",
      "SSN" -> ("lpad(CAST(o_orderkey % 1000 AS VARCHAR), 3, '0') || '-' || " +
        "lpad(CAST(o_orderkey % 100 AS VARCHAR), 2, '0') || '-' || " +
        "lpad(CAST(o_orderkey % 10000 AS VARCHAR), 4, '0')"),
      "IPV4" -> ("CAST(o_orderkey % 200 + 1 AS VARCHAR) || '.' || " +
        "CAST(o_orderkey % 250 AS VARCHAR) || '.' || " +
        "CAST(o_custkey % 250 AS VARCHAR) || '.' || " +
        "CAST(o_orderkey % 100 + 1 AS VARCHAR)"),
      "DATE" -> "strftime(o_orderdate, '%Y-%m-%d')",
      "INTEGER" -> ks,
      "FLOAT" -> s"$ks || '.25'",
      "QUANTITY" -> "CAST(o_orderkey % 500 AS VARCHAR) || ' kg'",
      "PHONE" -> ("'(' || lpad(CAST(o_orderkey % 700 + 200 AS VARCHAR), 3, '0')" +
        " || ') ' || lpad(CAST(o_orderkey % 900 + 100 AS VARCHAR), 3, '0')" +
        " || '-' || lpad(CAST(o_orderkey % 10000 AS VARCHAR), 4, '0')"),
      "UUID" -> (s"substr(md5($ks), 1, 8) || '-' || substr(md5($ks), 9, 4)" +
        s" || '-' || substr(md5($ks), 13, 4) || '-' || substr(md5($ks), 17, 4)" +
        s" || '-' || substr(md5($ks), 21, 12)"))
  }

  /** The same synthesis as DuckDB SQL (a long-form UNION via unnest). */
  private val cellsSql = {
    val e = entitySql.toMap
    val Seq(email, url, ssn, ip, dateStr, ks, floatStr, qty, phone, uuid) =
      Seq("EMAIL", "URL", "SSN", "IPV4", "DATE", "INTEGER", "FLOAT",
        "QUANTITY", "PHONE", "UUID").map(e)
    val mixed = s"""CASE o_orderkey % 10
       |      WHEN 0 THEN $email WHEN 1 THEN $url WHEN 2 THEN $ssn
       |      WHEN 3 THEN $ip WHEN 4 THEN $dateStr WHEN 5 THEN $ks
       |      WHEN 6 THEN $floatStr WHEN 7 THEN $qty WHEN 8 THEN $phone
       |      ELSE $uuid END""".stripMargin
    val contact = s"""CASE WHEN o_orderkey % 10 < 5 THEN $email
       |      WHEN o_orderkey % 10 < 8 THEN $phone ELSE $ks END""".stripMargin
    s"""SELECT 'mixed' AS col_name, $mixed AS cell FROM orders
       |UNION ALL SELECT 'contact', $contact FROM orders
       |UNION ALL SELECT 'ids', $uuid FROM orders
       |UNION ALL SELECT 'priority', o_orderpriority FROM orders""".stripMargin
  }

  // -------------------------------------------------------- labeler_votes
  /** Per-column label vote counts: one labeling scan + one tiny groupBy. */
  private def labelerVotes(s: SparkSession, dir: String): DataFrame =
    cells(s, dir)
      .select(col("col_name"), RegexLabeler.labelOf(col("cell")).as("label"))
      .groupBy("col_name", "label")
      .agg(count(lit(1)).as("votes"))
      .orderBy("col_name", "label")

  /** Bench-only twin: the SAME vote query through the codegen'd rlike
    * CASE chain instead of [[graft.labelers.FastMatch]] — timed every
    * round alongside `labeler_votes` so the FastMatch speedup stays
    * measured, not claimed (FastMatchSpec property-checks equivalence,
    * so the two plans return identical rows). */
  def labelerVotesRegex(s: SparkSession, dir: String): DataFrame =
    cells(s, dir)
      .select(col("col_name"), RegexLabeler.labelOfRegex(col("cell")).as("label"))
      .groupBy("col_name", "label")
      .agg(count(lit(1)).as("votes"))
      .orderBy("col_name", "label")

  private val labelerVotesSql =
    s"""SELECT col_name, ${RegexLabeler.labelSqlExpr("cell")} AS label,
       |  count(*) AS votes
       |FROM ($cellsSql) c
       |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  // ----------------------------------------------------- labeler_decision
  /** DataLabelerColumn's decision per column
    * (data_labeler_column_profile.py:240-270): UNKNOWN is dropped, top
    * ratio must reach 0.35, labels within 0.2 of the top pipe-join in
    * ratio-desc (label-asc) order. */
  private def labelerDecision(s: SparkSession, dir: String): DataFrame = {
    val votes = cells(s, dir)
      .select(col("col_name"), RegexLabeler.labelOf(col("cell")).as("label"))
      .groupBy("col_name", "label").agg(count(lit(1)).as("votes"))
    val wCol = Window.partitionBy("col_name")
    val ranked = votes
      .withColumn("ratio", col("votes") / sum("votes").over(wCol))
      .filter(col("label") =!= "UNKNOWN")
      .withColumn("top", max("ratio").over(wCol))
    val agg = ranked
      .filter(col("top") - col("ratio") <= RegexLabeler.JoinBand)
      .groupBy("col_name")
      .agg(
        max("top").as("top"),
        array_join(transform(
          array_sort(collect_list(struct((-col("ratio")).as("nr"),
            col("label").as("l")))),
          x => x.getField("l")), "|").as("joined"))
      .select(col("col_name"),
        when(col("top") >= RegexLabeler.MinTopRatio, col("joined"))
          .otherwise(lit("could not determine")).as("data_label"))
    // columns whose labels are all UNKNOWN drop out of `ranked` — restore
    // them with the no-candidates decision
    cells(s, dir).select("col_name").distinct()
      .join(agg, Seq("col_name"), "left")
      .select(col("col_name"),
        coalesce(col("data_label"), lit("could not determine"))
          .as("data_label"))
      .orderBy("col_name")
  }

  private val labelerDecisionSql =
    s"""WITH cells AS ($cellsSql),
       |votes AS (
       |  SELECT col_name, ${RegexLabeler.labelSqlExpr("cell")} AS label,
       |    count(*) AS votes
       |  FROM cells GROUP BY 1, 2),
       |ranked AS (
       |  SELECT col_name, label,
       |    votes / CAST(sum(votes) OVER (PARTITION BY col_name) AS DOUBLE)
       |      AS ratio
       |  FROM votes),
       |cand AS (
       |  SELECT *, max(ratio) OVER (PARTITION BY col_name) AS top
       |  FROM ranked WHERE label != 'UNKNOWN'),
       |agg AS (
       |  SELECT col_name, max(top) AS top,
       |    string_agg(label, '|' ORDER BY ratio DESC, label ASC) AS joined
       |  FROM cand WHERE top - ratio <= ${RegexLabeler.JoinBand}
       |  GROUP BY col_name)
       |SELECT c.col_name,
       |  coalesce(CASE WHEN a.top >= ${RegexLabeler.MinTopRatio}
       |                THEN a.joined END,
       |           'could not determine') AS data_label
       |FROM (SELECT DISTINCT col_name FROM cells) c
       |LEFT JOIN agg a USING (col_name)
       |ORDER BY col_name""".stripMargin

  // ------------------------------------------------------ labeler_entities
  /** Word- AND char-level entity counts over unstructured text (the
    * reference's UnstructuredLabelerProfile reports both granularities,
    * unstructured_labeler_profile.py:158-199): tokenize, strip edge
    * punctuation, label every token, count per entity — char-level
    * weights each token's label by its length (the deterministic
    * aggregate twin of the reference's per-char NER spans). Map-side
    * explode + a 24-key groupBy either way. */
  // THE edge-punct class — derived from the same char set as
  // FastMatch.isEdgePunct (the scan stage's per-window strip), so
  // '<user@ex.org>' tokenizes identically on the labeler_spans /
  // labeler_entities surfaces and the two-stage cell scan (r17).
  // Declared before the SQL vals that interpolate it (object-body
  // initialization order).
  private val EdgePunct = graft.labelers.FastMatch.EdgePunctClass
  // the same class with ' doubled for DuckDB string literals
  private val EdgePunctSql = EdgePunct.replace("'", "''")

  private def labelerEntities(s: SparkSession, dir: String): DataFrame = {
    val d = Tables.load(s, dir, "documents")
    val tok = d.select(explode(split(col("text"), " ")).as("w"))
      .select(
        regexp_replace(regexp_replace(col("w"),
          s"^$EdgePunct+", ""), s"$EdgePunct+$$", "")
          .as("w"))
      .filter(col("w") =!= "")
    val labeled = tok
      .select(RegexLabeler.labelOf(col("w")).as("label"),
        length(col("w")).cast("long").as("len"))
      .groupBy("label")
      .agg(count(lit(1)).as("n"), sum("len").as("n_chars"))
    // unpartitioned window over `labeled` = one row per LABEL (bounded
    // vocabulary, ~20 rows post-aggregation) — safe at any corpus size
    labeled
      .withColumn("pct", round(col("n") /
        sum("n").over(Window.partitionBy()), 6))
      .withColumn("pct_chars", round(col("n_chars") /
        sum("n_chars").over(Window.partitionBy()), 6))
      .orderBy("label")
  }

  private val labelerEntitiesSql =
    s"""WITH tok AS (
       |  SELECT regexp_replace(regexp_replace(w,
       |    '^$EdgePunctSql+', ''), '$EdgePunctSql+$$', '') AS w
       |  FROM (SELECT unnest(string_split(text, ' ')) AS w FROM documents) t),
       |labeled AS (
       |  SELECT ${RegexLabeler.labelSqlExpr("w")} AS label, count(*) AS n,
       |    CAST(sum(length(w)) AS BIGINT) AS n_chars
       |  FROM tok WHERE w != '' GROUP BY 1)
       |SELECT label, n, n_chars,
       |  round(n / CAST(sum(n) OVER () AS DOUBLE), 6) AS pct,
       |  round(n_chars / CAST(sum(n_chars) OVER () AS DOUBLE), 6) AS pct_chars
       |FROM labeled ORDER BY label""".stripMargin

  // --------------------------------------------------------- labeler_spans
  /** Char-level NER spans (the reference's span granularity,
    * data_processing.py:1030-1311): for a deterministic document slice,
    * every labeled token's [start, end] CHARACTER offsets in the
    * original text plus its entity label. Token start = cumulative
    * length of prior tokens + separators (a window sum — one shuffle on
    * doc_id, no driver loop); edge punctuation is excluded from the
    * span, shifting `start` by the stripped prefix length. */
  private val SpanSlice = 50

  private def labelerSpans(s: SparkSession, dir: String): DataFrame = {
    // deterministic entity injection (same device as the dedup corpus
    // clones): the synthetic documents carry no PII-shaped tokens, so a
    // per-doc suffix adds an email and an SSN at KNOWN positions —
    // identical injection on the DuckDB side, so spans must agree
    val d = Tables.load(s, dir, "documents").filter(col("doc_id") < SpanSlice)
      .select(col("doc_id"),
        concat(col("text"), lit(" contact user"),
          col("doc_id").cast("string"), lit("@mail.com ssn 123-45-6789"))
          .as("text"))
    val tok = d.select(col("doc_id"),
      posexplode(split(col("text"), " ")).as(Seq("pos", "w")))
    val noLead = regexp_replace(col("w"), s"^$EdgePunct+", "")
    val core = regexp_replace(noLead, s"$EdgePunct+$$", "")
    val lead = length(col("w")) - length(noLead)
    val win = Window.partitionBy("doc_id").orderBy("pos")
      .rowsBetween(Window.unboundedPreceding, -1)
    tok
      .withColumn("tok_start",
        coalesce(sum(length(col("w")).cast("long")).over(win), lit(0L)) +
          col("pos") + 1)
      .select(col("doc_id"),
        (col("tok_start") + lead).cast("long").as("start"),
        (col("tok_start") + lead + length(core) - 1).cast("long").as("end"),
        core.as("core"),
        RegexLabeler.labelOf(core).as("label"))
      .filter(col("core") =!= "" && col("label") =!= "UNKNOWN")
      .select("doc_id", "start", "end", "label")
      .orderBy("doc_id", "start")
  }

  private val labelerSpansSql = {
    // the SAME char class as EdgePunct, with ' doubled for SQL literals
    val punct = EdgePunctSql
    s"""WITH docs AS (
       |  SELECT doc_id,
       |    concat(text, ' contact user', CAST(doc_id AS VARCHAR),
       |           '@mail.com ssn 123-45-6789') AS text
       |  FROM documents WHERE doc_id < $SpanSlice),
       |tok AS (
       |  SELECT doc_id,
       |    unnest(string_split(text, ' ')) AS w,
       |    generate_subscripts(string_split(text, ' '), 1) AS pos
       |  FROM docs),
       |placed AS (
       |  SELECT doc_id, w, pos,
       |    coalesce(CAST(sum(length(w)) OVER (PARTITION BY doc_id
       |      ORDER BY pos ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
       |      AS BIGINT), 0) + (pos - 1) + 1 AS tok_start,
       |    regexp_replace(regexp_replace(w, '^$punct+', ''),
       |      '$punct+$$', '') AS core,
       |    length(w) - length(regexp_replace(w, '^$punct+', '')) AS lead
       |  FROM tok)
       |SELECT doc_id,
       |  CAST(tok_start + lead AS BIGINT) AS start,
       |  CAST(tok_start + lead + length(core) - 1 AS BIGINT) AS "end",
       |  ${RegexLabeler.labelSqlExpr("core")} AS label
       |FROM placed
       |WHERE core != '' AND ${RegexLabeler.labelSqlExpr("core")} != 'UNKNOWN'
       |ORDER BY doc_id, start""".stripMargin
  }

  // ------------------------------------------------------------ labeler_nb
  /** Train + evaluate the char-n-gram Naive Bayes model
    * ([[graft.labelers.NgramBayes]] — the reference's trainable-model
    * slot, labelers/character_level_cnn_model.py:28-644, re-expressed
    * as NB): fit on entity cells with TRUE labels known by construction
    * (train slice o_orderkey % 23 = 1), predict a held-out slice
    * (% 23 = 2, branch-cycled so all ten labels appear), return the
    * confusion matrix. The key cap makes the query sf-independent above
    * sf0.01, like `labeler_spans`' doc slice. Integer-only output; the
    * 6-dp/4-dp rounding contract in NgramBayes makes DuckDB reproduce
    * the argmax exactly. */
  private val NbKeyCap = 15000

  /** Shared NB slices: train on `% 23 = 1` entity cells with
    * by-construction labels, test on the branch-cycled `% 23 = 2` slice
    * (used by `labeler_nb` and `label_agreement`). Package-private so
    * NgramBayesSpec can pin which physical predict form this model
    * routes through (the r16 fan-out gate). */
  private[graft] def nbTrain(o: DataFrame): DataFrame = {
    val k = col("o_orderkey")
    o.filter(k % 23 === 1 && k < NbKeyCap)
      .select(explode(array(entityCols.map { case (l, c) =>
        struct(lit(l).as("label"), c.as("cell"))
      }: _*)).as("kv"))
      .select(col("kv.label"), col("kv.cell"))
  }

  /** (true_label, cell) CASE builders over the 10-way entity cycle —
    * the ONE construction `nbTest` and `nbFallbackTest` both slice. */
  private def entityCase(m: Column): (Column, Column) = {
    val trueLabel = entityCols.zipWithIndex.foldRight(lit(entityCols.last._1)) {
      case (((l, _), i), acc) => if (i == 9) acc else when(m === i, lit(l)).otherwise(acc)
    }
    val testCell = entityCols.zipWithIndex.foldRight(entityCols.last._2) {
      case (((_, c), i), acc) => if (i == 9) acc else when(m === i, c).otherwise(acc)
    }
    (trueLabel, testCell)
  }

  private def nbTest(o: DataFrame): DataFrame = {
    val k = col("o_orderkey")
    val (trueLabel, testCell) = entityCase(k % 10)
    o.filter(k % 23 === 2 && k < NbKeyCap)
      .select(k.as("id"), trueLabel.as("true_label"), testCell.as("cell"))
  }

  private def labelerNb(s: SparkSession, dir: String): DataFrame = {
    import graft.labelers.NgramBayes
    val o = Tables.load(s, dir, "orders")
    val train = nbTrain(o)
    val test = nbTest(o)
    val model = NgramBayes.fit(train)
    NgramBayes.predict(test.select("id", "cell"), model)
      .join(test.select("id", "true_label"), Seq("id"))
      .groupBy(col("true_label"), col("pred").as("pred_label"))
      .agg(count(lit(1)).as("n"))
      .orderBy("true_label", "pred_label")
  }

  // ---------------------------------------------------- labeler_nb_fallback
  /** The r13 [[graft.labelers.DataLabeler.NbFallback]] COMPOSITION under
    * the DuckDB oracle: stage one is the SQL-restatable chain
    * ([[RegexLabeler.labelSqlExpr]]); a SHAPE-normalized NB trained on
    * the `%23=1` entity slice votes on — and only on — the chain's
    * UNKNOWNs. The `%23=5` test slice cycles a stressor by `key%3`
    * (plain / prose-prefixed / suffixed), so ~two thirds of the cells
    * exercise the fallback path for real. Emits the confusion matrix;
    * the oracle recomputes chain restatement + shaped NB fit/predict +
    * the CASE composition, so drift in the residue filter, the shape
    * transform, or the coalesce semantics breaks the hash. The
    * production default (two-stage stage one; LABELER_ACCURACY.md
    * adversarial 0.940) runs this same class.
    *
    * Scale shape: one labeling scan; the NB model join touches only the
    * UNKNOWN residue; confusion groupBy is label² bounded. */
  private def nbFallbackTest(o: DataFrame): DataFrame = {
    val k = col("o_orderkey")
    val (trueLabel, testCell) = entityCase(k % 10)
    val stressed = when(k % 3 === 1, concat(lit("noted: "), testCell))
      .when(k % 3 === 2, concat(testCell, lit(" today")))
      .otherwise(testCell)
    o.filter(k % 23 === 5 && k < NbKeyCap)
      .select(k.as("id"), trueLabel.as("true_label"), stressed.as("cell"))
  }

  private def labelerNbFallback(s: SparkSession, dir: String): DataFrame = {
    import graft.labelers.{DataLabeler, NgramBayes}
    val o = Tables.load(s, dir, "orders")
    val model = NgramBayes.fit(nbTrain(o).select(col("label"),
      NgramBayes.shapeNormalize(col("cell")).as("cell")),
      DataLabeler.NbFallback.FallbackGrams)
    val ens = new DataLabeler.NbFallback(model, DataLabeler.RegexModel)
    val test = nbFallbackTest(o)
    ens.label(test, "cell")
      .join(test.select("id", "true_label"), Seq("id"))
      .groupBy(col("true_label"), col("pred").as("pred_label"))
      .agg(count(lit(1)).as("n"))
      .orderBy("true_label", "pred_label")
  }

  private val labelerNbFallbackSql = {
    def shape(c: String) =
      s"'^' || translate(lower($c), '0123456789', '9999999999') || '$$'"
    val train = entitySql.map { case (l, e) =>
      s"SELECT '$l' AS label, ${shape(e)} AS cell FROM orders " +
        s"WHERE o_orderkey % 23 = 1 AND o_orderkey < $NbKeyCap"
    }.mkString("\nUNION ALL ")
    val caseCell = "CASE o_orderkey % 10 " + entitySql.zipWithIndex
      .map { case ((_, e), i) => s"WHEN $i THEN $e" }.mkString(" ") + " END"
    val caseLabel = "CASE o_orderkey % 10 " + entitySql.zipWithIndex
      .map { case ((l, _), i) => s"WHEN $i THEN '$l'" }.mkString(" ") + " END"
    val stressed = s"""CASE o_orderkey % 3
      |  WHEN 1 THEN 'noted: ' || ($caseCell)
      |  WHEN 2 THEN ($caseCell) || ' today'
      |  ELSE ($caseCell) END""".stripMargin
    val testBase =
      s"""SELECT o_orderkey AS id, $caseLabel AS true_label, $stressed AS cell
         |FROM orders WHERE o_orderkey % 23 = 5 AND o_orderkey < $NbKeyCap"""
        .stripMargin
    val chainExpr = RegexLabeler.labelSqlExpr("cell")
    // `raw` rides along for the nbGateSql vote gate (the pre-shape cell
    // the containment conditions inspect)
    val residue =
      s"""SELECT id, true_label, ${shape("cell")} AS cell, cell AS raw
         |FROM (SELECT *, $chainExpr AS ch FROM ($testBase) tb) tc
         |WHERE ch = 'UNKNOWN'""".stripMargin
    val chainPart =
      s"""SELECT true_label, ch AS pred_label, count(*) AS n
         |FROM (SELECT true_label, $chainExpr AS ch FROM ($testBase) tb2) td
         |WHERE ch != 'UNKNOWN' GROUP BY 1, 2""".stripMargin
    s"""WITH nbconf AS MATERIALIZED (
       |${graft.labelers.NgramBayes.confusionSql(train, residue,
            graft.labelers.DataLabeler.NbFallback.FallbackGrams,
            nbGate = Some(RegexLabeler.nbGateSql))}
       |),
       |chain_part AS ($chainPart)
       |SELECT true_label, pred_label, CAST(sum(n) AS BIGINT) AS n
       |FROM (SELECT * FROM nbconf UNION ALL SELECT * FROM chain_part) u
       |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin
  }

  // --------------------------------------------------------------- ner_nb
  /** CHAR-LEVEL trained sequence labeling — the granularity the
    * reference's char-CNN works at (character_level_cnn_model.py:28-644
    * labels every character; unstructured_labeler_profile.py:158-199
    * reports `true_char_level` percentages). Each entity cell explodes
    * into per-character 5-char context windows; the SAME NgramBayes
    * machinery fits on (label, window) pairs and predicts every held-out
    * character, giving the char-level confusion matrix — a trained model
    * at per-char granularity, different family from the CNN by declared
    * scope, same contract. Four acoustically-distinct labels keep the
    * window gram spaces separable.
    *
    * Scale shape: the window explode is map-side (positions generator +
    * substr); everything downstream is NgramBayes' bounded-model
    * shuffle + broadcast scoring. Per-char ids are key*100 + position
    * (cells are shorter than 100 chars). */
  private val NerLabels = Seq("EMAIL", "SSN", "PHONE", "DATE")

  private def nerNb(s: SparkSession, dir: String): DataFrame = {
    import graft.labelers.NgramBayes
    val o = Tables.load(s, dir, "orders")
    val k = col("o_orderkey")
    val chosen = entityCols.filter(c => NerLabels.contains(c._1))
    def windows(df: DataFrame, idCols: Seq[Column]): DataFrame = df
      .select(idCols :+ col("cell0") :+
        explode(sequence(lit(1), length(col("cell0")))).as("p"): _*)
      .select(idCols :+ col("p") :+
        col("cell0").substr(greatest(col("p") - 2, lit(1)), lit(5))
          .as("cell"): _*)
    val train = windows(
      o.filter(k % 23 === 3 && k < NbKeyCap)
        .select(explode(array(chosen.map { case (l, c) =>
          struct(lit(l).as("label"), c.as("cell0"))
        }: _*)).as("kv"))
        .select(col("kv.label"), col("kv.cell0")),
      Seq(col("label")))
      .select("label", "cell")
    val m = k % 4
    val trueLabel = chosen.zipWithIndex.foldRight(lit(chosen.last._1)) {
      case (((l, _), i), acc) =>
        if (i == chosen.size - 1) acc else when(m === i, lit(l)).otherwise(acc)
    }
    val testCell = chosen.zipWithIndex.foldRight(chosen.last._2) {
      case (((_, c), i), acc) =>
        if (i == chosen.size - 1) acc else when(m === i, c).otherwise(acc)
    }
    val test = windows(
      o.filter(k % 23 === 4 && k < NbKeyCap)
        .select(k.as("key"), trueLabel.as("true_label"),
          testCell.as("cell0")),
      Seq(col("key"), col("true_label")))
      .select((col("key") * 100 + col("p")).as("id"),
        col("true_label"), col("cell"))
    val model = NgramBayes.fit(train)
    NgramBayes.predict(test.select("id", "cell"), model)
      .join(test.select("id", "true_label"), Seq("id"))
      .groupBy(col("true_label"), col("pred").as("pred_label"))
      .agg(count(lit(1)).as("n_chars"))
      .orderBy("true_label", "pred_label")
  }

  private val nerNbSql = {
    val chosen = entitySql.filter(c => NerLabels.contains(c._1))
    val trainInner = chosen.map { case (l, e) =>
      s"SELECT '$l' AS label, $e AS cell0 FROM orders " +
        s"WHERE o_orderkey % 23 = 3 AND o_orderkey < $NbKeyCap"
    }.mkString("\nUNION ALL ")
    val caseLbl = "CASE o_orderkey % 4 " + chosen.zipWithIndex
      .map { case ((l, _), i) => s"WHEN $i THEN '$l'" }.mkString(" ") + " END"
    val caseCell = "CASE o_orderkey % 4 " + chosen.zipWithIndex
      .map { case ((_, e), i) => s"WHEN $i THEN $e" }.mkString(" ") + " END"
    val trainSql =
      s"""SELECT label, substr(cell0, greatest(p - 2, 1), 5) AS cell
         |FROM ($trainInner) t,
         |     unnest(generate_series(1, length(cell0))) AS u(p)""".stripMargin
    val testSql =
      s"""SELECT key * 100 + p AS id, true_label,
         |       substr(cell0, greatest(p - 2, 1), 5) AS cell
         |FROM (SELECT o_orderkey AS key, $caseLbl AS true_label,
         |        $caseCell AS cell0
         |      FROM orders
         |      WHERE o_orderkey % 23 = 4 AND o_orderkey < $NbKeyCap) t,
         |     unnest(generate_series(1, length(cell0))) AS u(p)""".stripMargin
    // confusionSql emits `n` — re-alias to the char-count name
    s"""SELECT true_label, pred_label, n AS n_chars FROM (
       |${graft.labelers.NgramBayes.confusionSql(trainSql, testSql)}
       |) ORDER BY true_label, pred_label""".stripMargin
  }

  private val labelerNbSql = {
    val train = entitySql.map { case (l, e) =>
      s"SELECT '$l' AS label, $e AS cell FROM orders " +
        s"WHERE o_orderkey % 23 = 1 AND o_orderkey < $NbKeyCap"
    }.mkString("\nUNION ALL ")
    val caseLbl = "CASE o_orderkey % 10 " + entitySql.zipWithIndex
      .map { case ((l, _), i) => s"WHEN $i THEN '$l'" }.mkString(" ") + " END"
    val caseCell = "CASE o_orderkey % 10 " + entitySql.zipWithIndex
      .map { case ((_, e), i) => s"WHEN $i THEN $e" }.mkString(" ") + " END"
    graft.labelers.NgramBayes.confusionSql(train,
      s"""SELECT o_orderkey AS id, $caseLbl AS true_label, $caseCell AS cell
         |  FROM orders WHERE o_orderkey % 23 = 2 AND o_orderkey < $NbKeyCap""".stripMargin)
  }

  // ------------------------------------------------------ label_agreement
  /** Inter-model agreement census — Cohen's κ (Cohen 1960) between the
    * two independent labeler families over the SAME cells: the regex
    * priority chain (rater A) and the trained char-n-gram NB model
    * (rater B), on `labeler_nb`'s held-out slice. This is the standard
    * annotation-quality measurement a labeling pipeline publishes
    * alongside its decisions: observed agreement p_o corrected by the
    * chance agreement p_e of the two raters' marginal label
    * distributions. A κ drop between rounds flags model drift without
    * any hand-labeled truth.
    *
    * Determinism: p_o, p_e and κ derive from EXACT integer counts (one
    * double division each, correctly rounded on identical operands in
    * both engines, then 6 dp).
    *
    * Scale shape: one labeling scan (map-only CASE chain + the bounded
    * NB broadcast-score) into a confusion groupBy bounded by 24² — the
    * scan is the only corpus-sized cost. The census algebra (totals,
    * marginals, sum-of-products, κ) runs DRIVER-SIDE on the collected
    * exact counts, the assoc_rules pattern: as DataFrame algebra the
    * three `conf` consumers plus the marginal joins re-ran the labeling
    * subplans as ~20 AQE exchange jobs whose fixed cost dwarfed the
    * arithmetic on ≤576 rows (graft.tools.Probe's job-floor bracket: 20
    * jobs, 3.0 s at sf1 for ~0.5 s of real work). Rounding parity with
    * the oracle: double division on identical operands, then HALF_UP on
    * the value's decimal string — Spark round()/DuckDB round()
    * semantics. */
  private def labelAgreement(s: SparkSession, dir: String): DataFrame = {
    import graft.labelers.NgramBayes
    val o = Tables.load(s, dir, "orders")
    // NOTE (measured null result): eagerly materializing this ~650-row
    // slice (localCheckpoint) to spare its three consumers re-running
    // the pruned scan + CASE chain was WORSE (15 → 16 jobs, 1.98 →
    // 2.21 s sf1) — the extra materialization job costs more than the
    // re-evaluations it saves. Don't retry.
    val test = nbTest(o)
      .select(col("id"), RegexLabeler.labelOf(col("cell")).as("label_a"),
        col("cell"))
    val model = NgramBayes.fit(nbTrain(o))
    val conf = NgramBayes.predict(test.select("id", "cell"), model)
      .join(test.select("id", "label_a"), Seq("id"))
      .groupBy(col("label_a"), col("pred").as("label_b"))
      .agg(count(lit(1)).as("c"))
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2)))
    val n = conf.map(_._3).sum
    val agree = conf.filter(t => t._1 == t._2).map(_._3).sum
    val ma = conf.groupBy(_._1).view.mapValues(_.map(_._3).sum).toMap
    val mb = conf.groupBy(_._2).view.mapValues(_.map(_._3).sum).toMap
    // full-outer marginal product: a label missing from one rater
    // contributes 0, exactly the coalesce(na,0)*coalesce(nb,0) the
    // DataFrame join computed
    val sumprod = (ma.keySet ++ mb.keySet).toSeq
      .map(l => ma.getOrElse(l, 0L) * mb.getOrElse(l, 0L)).sum
    def r6(x: Double) = graft.functions.roundHalfUp(x, 6)
    val po = agree.toDouble / n
    val pe = sumprod.toDouble / (n * n)
    import s.implicits._
    Seq((n, agree, r6(po), r6(pe), r6((po - pe) / (1.0 - pe))))
      .toDF("n", "agree", "po", "pe", "kappa")
  }

  private val labelAgreementSql = {
    val train = entitySql.map { case (l, e) =>
      s"SELECT '$l' AS label, $e AS cell FROM orders " +
        s"WHERE o_orderkey % 23 = 1 AND o_orderkey < $NbKeyCap"
    }.mkString("\nUNION ALL ")
    val caseCell = "CASE o_orderkey % 10 " + entitySql.zipWithIndex
      .map { case ((_, e), i) => s"WHEN $i THEN $e" }.mkString(" ") + " END"
    // rater A's label rides confusionSql's true_label slot, so the
    // existing fit->predict->confusion chain yields the A-vs-B matrix
    val test =
      s"""SELECT id, ${RegexLabeler.labelSqlExpr("cell")} AS true_label, cell
         |FROM (SELECT o_orderkey AS id, $caseCell AS cell FROM orders
         |      WHERE o_orderkey % 23 = 2 AND o_orderkey < $NbKeyCap) t""".stripMargin
    s"""WITH conf AS MATERIALIZED (
       |${graft.labelers.NgramBayes.confusionSql(train, test)}
       |),
       |tot AS (SELECT CAST(sum(n) AS BIGINT) AS n,
       |  CAST(sum(CASE WHEN true_label = pred_label THEN n ELSE 0 END)
       |    AS BIGINT) AS agree FROM conf),
       |ma AS (SELECT true_label AS label, CAST(sum(n) AS BIGINT) AS na
       |       FROM conf GROUP BY 1),
       |mb AS (SELECT pred_label AS label, CAST(sum(n) AS BIGINT) AS nb
       |       FROM conf GROUP BY 1),
       |sp AS (SELECT CAST(sum(coalesce(na, 0) * coalesce(nb, 0))
       |         AS BIGINT) AS sumprod
       |       FROM ma FULL OUTER JOIN mb USING (label))
       |SELECT n, agree,
       |  round(CAST(agree AS DOUBLE) / n, 6) AS po,
       |  round(CAST(sumprod AS DOUBLE) / (n * n), 6) AS pe,
       |  round((CAST(agree AS DOUBLE) / n -
       |         CAST(sumprod AS DOUBLE) / (n * n)) /
       |        (1.0 - CAST(sumprod AS DOUBLE) / (n * n)), 6) AS kappa
       |FROM tot, sp""".stripMargin
  }

  // -------------------------------------------------------- colname_labels
  /** Column-NAME entity model over the live schemas of three tables
    * (column_name_model.py:27-316): the cheap prior that fires before any
    * data is read. Driver-side schema work — zero cluster cost; the
    * oracle pins the fuzzy-match outcomes (term containment, Levenshtein
    * fallback, false-positive overrides) as a golden regression gate. */
  private def colnameLabels(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val names = Seq("customer", "events", "documents")
      .flatMap(t => Tables.load(s, dir, t).columns)
    names.map { nm =>
      graft.labelers.ColumnNameLabeler.matchName(nm) match {
        case Some((label, score)) =>
          (nm, label, BigDecimal(score)
            .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble)
        case None => (nm, "NONE", 0.0)
      }
    }.toDF("col_name", "label", "score").orderBy("col_name")
  }

  // golden VALUES authored from the model's pinned behavior
  // (generated by Test/runMain graft.tools.ColnamePin)
  private val colnameLabelsSql =
    """SELECT col_name, label, CAST(score AS DOUBLE) AS score FROM (VALUES
      |  ('c_custkey', 'NONE', 0.0),
      |  ('c_name', 'PERSON', 0.85),
      |  ('c_nationkey', 'NONE', 0.0),
      |  ('c_acctbal', 'BAN', 0.85),
      |  ('c_mktsegment', 'NONE', 0.0),
      |  ('event_id', 'NONE', 0.0),
      |  ('ts', 'DATETIME', 1.0),
      |  ('user_id', 'NONE', 0.0),
      |  ('event_type', 'DATETIME', 0.8),
      |  ('value', 'NONE', 0.0),
      |  ('props', 'NONE', 0.0),
      |  ('doc_id', 'NONE', 0.0),
      |  ('text', 'NONE', 0.0),
      |  ('lang', 'NONE', 0.0),
      |  ('source', 'NONE', 0.0),
      |  ('n_chars', 'NONE', 0.0)
      |) t(col_name, label, score) ORDER BY col_name""".stripMargin

  // ---------------------------------------------------- labeler_terminator
  /** Cross-engine parity canary for the `$`-before-line-terminator quirk:
    * Java regex (and the reference's Python `re`, and [[FastMatch]]) let
    * an anchored pattern match before ONE final \n / \r\n / \r; RE2 does
    * not, so the oracle side strips exactly one final terminator (see
    * [[RegexLabeler.labelSqlExpr]]). This query synthesizes the SAME
    * terminator-suffixed cells on both engines — including a double-\n
    * case that must stay UNKNOWN on both — and hash-compares the label
    * census, so a parity regression fails the correctness gate instead
    * of surfacing as a production mismatch. */
  private def labelerTerminator(s: SparkSession, dir: String): DataFrame = {
    val o = Tables.loadFanned(s, dir, "orders")
    val k = col("o_orderkey")
    val ent = entityCols.toMap
    val base = when(k % 3 === 0, ent("INTEGER"))
      .when(k % 3 === 1, ent("DATE"))
      .otherwise(ent("EMAIL"))
    val suffix = when(k % 5 === 0, lit(""))
      .when(k % 5 === 1, lit("\n"))
      .when(k % 5 === 2, lit("\r\n"))
      .when(k % 5 === 3, lit("\r"))
      .otherwise(lit("\n\n")) // NOT a final-terminator case: UNKNOWN on both
    o.select(RegexLabeler.labelOf(concat(base, suffix)).as("label"))
      .groupBy("label").agg(count(lit(1)).as("n"))
      .orderBy("label")
  }

  private val labelerTerminatorSql = {
    val e = entitySql.toMap
    s"""SELECT ${RegexLabeler.labelSqlExpr("cell")} AS label,
       |  count(*) AS n
       |FROM (
       |  SELECT (CASE o_orderkey % 3
       |      WHEN 0 THEN ${e("INTEGER")}
       |      WHEN 1 THEN ${e("DATE")}
       |      ELSE ${e("EMAIL")} END) ||
       |    (CASE o_orderkey % 5
       |      WHEN 0 THEN ''
       |      WHEN 1 THEN chr(10)
       |      WHEN 2 THEN chr(13) || chr(10)
       |      WHEN 3 THEN chr(13)
       |      ELSE chr(10) || chr(10) END) AS cell
       |  FROM orders) c
       |GROUP BY label ORDER BY label""".stripMargin
  }

  override val qs: Seq[Q] = Seq(
    Q("colname_labels", colnameLabels, Some(colnameLabelsSql)),
    Q("labeler_terminator", labelerTerminator, Some(labelerTerminatorSql)),
    Q("labeler_votes", labelerVotes, Some(labelerVotesSql)),
    Q("labeler_decision", labelerDecision, Some(labelerDecisionSql)),
    Q("labeler_entities", labelerEntities, Some(labelerEntitiesSql)),
    Q("labeler_spans", labelerSpans, Some(labelerSpansSql)),
    Q("labeler_nb", labelerNb, Some(labelerNbSql)),
    Q("labeler_nb_fallback", labelerNbFallback, Some(labelerNbFallbackSql)),
    Q("label_agreement", labelAgreement, Some(labelAgreementSql)),
    Q("ner_nb", nerNb, Some(nerNbSql)))
}
