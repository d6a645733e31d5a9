package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables

/** Text-analysis operators for training-data pipelines: token counting,
  * word frequency with stopword filtering (unstructured_text_profile.py:
  * 691-722), quality scoring, heuristic language ID, and document
  * fingerprinting. All pure Column expressions — codegen'd, single scan,
  * shuffle only on the tiny aggregated keys.
  */
object TextQueries extends QueryModule {

  /** The full nltk-derived English stopword list the reference ships
    * (unstructured_text_profile.py:52-477) — 179 entries including the
    * contraction fragments. Both the Spark queries and the DuckDB oracle
    * SQL are generated from THIS seq, so the two engines always agree on
    * the filter set. */
  val Stopwords: Seq[String] = Seq(
    "i", "me", "my", "myself", "we", "our", "ours", "ourselves", "you",
    "you're", "you've", "you'll", "you'd", "your", "yours", "yourself",
    "yourselves", "he", "him", "his", "himself", "she", "she's", "her",
    "hers", "herself", "it", "it's", "its", "itself", "they", "them",
    "their", "theirs", "themselves", "what", "which", "who", "whom",
    "this", "that", "that'll", "these", "those", "am", "is", "are",
    "was", "were", "be", "been", "being", "have", "has", "had", "having",
    "do", "does", "did", "doing", "a", "an", "the", "and", "but", "if",
    "or", "because", "as", "until", "while", "of", "at", "by", "for",
    "with", "about", "against", "between", "into", "through", "during",
    "before", "after", "above", "below", "to", "from", "up", "down",
    "in", "out", "on", "off", "over", "under", "again", "further",
    "then", "once", "here", "there", "when", "where", "why", "how",
    "all", "any", "both", "each", "few", "more", "most", "other",
    "some", "such", "no", "nor", "not", "only", "own", "same", "so",
    "than", "too", "very", "s", "t", "can", "will", "just", "don",
    "don't", "should", "should've", "now", "d", "ll", "m", "o", "re",
    "ve", "y", "ain", "aren", "aren't", "couldn", "couldn't", "didn",
    "didn't", "doesn", "doesn't", "hadn", "hadn't", "hasn", "hasn't",
    "haven", "haven't", "isn", "isn't", "ma", "mightn", "mightn't",
    "mustn", "mustn't", "needn", "needn't", "shan", "shan't", "shouldn",
    "shouldn't", "wasn", "wasn't", "weren", "weren't", "won", "won't",
    "wouldn", "wouldn't")

  /** SQL string literal with embedded quotes doubled (several stopwords
    * are contractions). */
  private def sqlLit(w: String): String = "'" + w.replace("'", "''") + "'"

  /** Per-language stopword profiles for the language-ID heuristic. */
  val LangProfiles: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "a", "and", "of", "to", "in", "is"),
    "es" -> Seq("el", "la", "los", "las", "de", "que", "y", "es"),
    "de" -> Seq("der", "die", "das", "und", "ist", "nicht", "ein"),
    "fr" -> Seq("le", "la", "les", "et", "est", "une", "que"),
    "zh" -> Seq.empty) // zh scored by CJK codepoint ratio instead

  private def tokens(c: Column): Column = split(c, " ")

  // ---------------------------------------------------------- token stats
  /** Token-count statistics per language: one scan, groupBy on the 5-value
    * lang key; distinct vocabulary via a second aggregation of the exploded
    * tokens (shuffle keyed on (lang, word) — partial-agg collapses dups
    * map-side, so the shuffle is bounded by vocabulary size, not corpus
    * size). */
  private def tokenStats(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.load(s, dir, "documents")
    val withTok = docs.withColumn("n_tok", size(tokens(col("text"))))
    val base = withTok.groupBy("lang").agg(
      count(lit(1)).as("n_docs"),
      sum("n_tok").as("total_tokens"),
      round(avg("n_tok"), 6).as("avg_tokens"),
      min("n_tok").as("min_tokens"),
      max("n_tok").as("max_tokens"))
    val vocab = docs
      .select(col("lang"), explode(tokens(col("text"))).as("word"))
      .groupBy("lang").agg(countDistinct("word").as("n_distinct_words"))
    base.join(vocab, "lang").orderBy("lang")
  }

  private val tokenStatsSql =
    """SELECT b.lang, n_docs, total_tokens, avg_tokens, min_tokens,
      |       max_tokens, n_distinct_words
      |FROM (
      |  SELECT lang, count(*) AS n_docs,
      |    CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS total_tokens,
      |    round(avg(len(string_split(text, ' '))), 6) AS avg_tokens,
      |    min(len(string_split(text, ' '))) AS min_tokens,
      |    max(len(string_split(text, ' '))) AS max_tokens
      |  FROM documents GROUP BY lang) b
      |JOIN (
      |  SELECT lang, count(DISTINCT word) AS n_distinct_words
      |  FROM (SELECT lang, unnest(string_split(text, ' ')) AS word
      |        FROM documents) w GROUP BY lang) v
      |ON b.lang = v.lang
      |ORDER BY b.lang""".stripMargin

  // ------------------------------------------------------------ word topk
  /** Global top-20 words after stopword removal — the classic
    * explode → partial-agg → tiny top-k. At 100 TB the word-count shuffle is
    * bounded by vocabulary, and the final top-k is a single-reducer sort of
    * the already-aggregated counts. */
  private def wordTopk(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.load(s, dir, "documents")
    docs.select(explode(tokens(col("text"))).as("word"))
      .filter(!col("word").isin(Stopwords: _*) && col("word") =!= "")
      .groupBy("word").agg(count(lit(1)).as("cnt"))
      .orderBy(col("cnt").desc, col("word").asc)
      .limit(20)
  }

  private val wordTopkSql = {
    val stop = Stopwords.map(sqlLit).mkString(", ")
    s"""SELECT word, count(*) AS cnt
       |FROM (SELECT unnest(string_split(text, ' ')) AS word FROM documents) w
       |WHERE word NOT IN ($stop) AND word != ''
       |GROUP BY word ORDER BY cnt DESC, word ASC LIMIT 20""".stripMargin
  }

  // -------------------------------------------------------------- quality
  /** Per-document quality signals (length, stopword ratio, mean word
    * length, digit/punct ratio) rolled up per language. These are the
    * standard pretraining-corpus filters (C4/Gopher-style), all computed as
    * one pass of scalar expressions. */
  private def quality(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.load(s, dir, "documents")
    val tok = tokens(col("text"))
    val nTok = size(tok)
    val nStop = size(filter(tok, w => w.isin(Stopwords: _*)))
    val meanWordLen = (length(col("text")) - (nTok - 1)).cast("double") / nTok
    val digitRatio = (length(col("text")) -
      length(regexp_replace(col("text"), "[0-9]", ""))).cast("double") /
      length(col("text"))
    val d = docs.select(
      col("lang"),
      nTok.as("n_tok"),
      (nStop.cast("double") / nTok).as("stop_ratio"),
      meanWordLen.as("mwl"),
      digitRatio.as("digit_ratio"))
    d.groupBy("lang").agg(
      count(lit(1)).as("n_docs"),
      round(avg("mwl"), 6).as("avg_word_len"),
      round(avg("stop_ratio"), 6).as("avg_stop_ratio"),
      round(avg("digit_ratio"), 6).as("avg_digit_ratio"),
      cnt(col("n_tok") < 20).as("n_short"),
      cnt(col("stop_ratio") > 0.4).as("n_stopword_heavy"))
      .orderBy("lang")
  }

  // coalesced like graft.functions.cnt: count 0 (not NULL) over 0 rows
  private def cnt(pred: Column): Column =
    coalesce(sum(when(pred, 1L).otherwise(0L)), lit(0L))

  private val qualitySql = {
    val stop = Stopwords.map(sqlLit).mkString(", ")
    s"""SELECT lang, count(*) AS n_docs,
       |  round(avg(mwl), 6) AS avg_word_len,
       |  round(avg(stop_ratio), 6) AS avg_stop_ratio,
       |  round(avg(digit_ratio), 6) AS avg_digit_ratio,
       |  count(*) FILTER (n_tok < 20) AS n_short,
       |  count(*) FILTER (stop_ratio > 0.4) AS n_stopword_heavy
       |FROM (
       |  SELECT lang,
       |    len(string_split(text, ' ')) AS n_tok,
       |    CAST(len(list_filter(string_split(text, ' '),
       |      w -> w IN ($stop))) AS DOUBLE) / len(string_split(text, ' '))
       |      AS stop_ratio,
       |    CAST(length(text) - (len(string_split(text, ' ')) - 1) AS DOUBLE)
       |      / len(string_split(text, ' ')) AS mwl,
       |    CAST(length(text) - length(regexp_replace(text, '[0-9]', '', 'g'))
       |      AS DOUBLE) / length(text) AS digit_ratio
       |  FROM documents) t
       |GROUP BY lang ORDER BY lang""".stripMargin
  }

  // --------------------------------------------------------------- langid
  /** Heuristic language ID: per-language stopword hit counts + CJK
    * codepoint ratio, argmax with deterministic preference order. Scored
    * against the ground-truth lang column (accuracy table). On this
    * synthetic corpus every language shares an English-ish vocabulary, so
    * the heuristic degenerates to en/unknown — the operator and its
    * evaluation plumbing are the deliverable. */
  private def langid(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.load(s, dir, "documents")
    // ALL language profiles scored in one codegen'd byte-scan — the
    // per-language size(filter(tokens, isin/rlike)) formulation ran an
    // interpreted lambda per token PER LANGUAGE (plus a regex Matcher
    // per token for the CJK profile); graft_langscores walks the text
    // once with a word → language-bitmask table (SCALING.md r12)
    val scores = LangProfiles.zipWithIndex.map { case ((lang, _), i) =>
      element_at(col("ls"), i + 1).as(s"score_$lang")
    }
    val scored = docs
      .select(col("lang"),
        graft.functions.LangScores(col("text"), LangProfiles).as("ls"))
      .select(col("lang") +: scores: _*)
    val best = LangProfiles.map(_._1).foldLeft(
      (lit("unknown"), lit(0))) { case ((bl, bs), lang) =>
      val sc = col(s"score_$lang")
      (when(sc > bs, lit(lang)).otherwise(bl),
        when(sc > bs, sc).otherwise(bs))
    }
    scored.withColumn("pred", best._1)
      .groupBy("lang", "pred").agg(count(lit(1)).as("n"))
      .orderBy("lang", "pred")
  }

  private val langidSql = {
    def scoreSql(lang: String, words: Seq[String]): String =
      if (lang == "zh")
        "len(list_filter(string_split(text, ' '), w -> regexp_matches(w, '[\\x{4e00}-\\x{9fff}]')))"
      else
        s"len(list_filter(string_split(text, ' '), w -> w IN (${words.map(w => s"'$w'").mkString(", ")})))"
    val scoreCols = LangProfiles.map { case (l, ws) =>
      s"${scoreSql(l, ws)} AS score_$l"
    }.mkString(",\n    ")
    // fold in the same preference order as the Spark side
    val pred = LangProfiles.map(_._1).foldLeft(("'unknown'", "0")) {
      case ((bl, bs), lang) =>
        (s"CASE WHEN score_$lang > $bs THEN '$lang' ELSE $bl END",
          s"CASE WHEN score_$lang > $bs THEN score_$lang ELSE $bs END")
    }._1
    s"""SELECT lang, pred, count(*) AS n FROM (
       |  SELECT lang, $pred AS pred FROM (
       |    SELECT lang, text,
       |    $scoreCols
       |    FROM documents) sc) p
       |GROUP BY lang, pred ORDER BY lang, pred""".stripMargin
  }

  // ---------------------------------------------------------- fingerprint
  /** Document fingerprinting via md5 of whitespace-normalized text (md5 is
    * bit-identical across engines, unlike xxhash64 — the library's scale
    * path uses xxhash64, see Dedup). */
  private def fingerprint(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.load(s, dir, "documents")
    val fp = md5(regexp_replace(trim(col("text")), "\\s+", " "))
    docs.select(fp.as("fp"))
      .groupBy("fp").agg(count(lit(1)).as("c"))
      .agg(
        sum("c").as("n_docs"),
        count(lit(1)).as("n_unique"),
        sum(when(col("c") > 1, col("c")).otherwise(0L)).as("n_dup_docs"),
        max("c").as("max_group"))
  }

  private val fingerprintSql =
    """SELECT CAST(sum(c) AS BIGINT) AS n_docs, count(*) AS n_unique,
      |  CAST(sum(CASE WHEN c > 1 THEN c ELSE 0 END) AS BIGINT) AS n_dup_docs,
      |  max(c) AS max_group
      |FROM (SELECT md5(regexp_replace(trim(text), '\s+', ' ', 'g')) AS fp,
      |             count(*) AS c
      |      FROM documents GROUP BY 1) g""".stripMargin

  // ------------------------------------------------------------- memsize
  /** Unstructured-corpus intake stats (profile_builder.py:1449-1536):
    * empty/whitespace-line filtering plus memory size. The corpus-wide
    * byte/char totals are one scan of map-side sums. */
  private def memsize(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.load(s, dir, "documents")
    val isEmpty = col("text").isNull || col("text").rlike("^\\s*$")
    docs.agg(
      count(lit(1)).as("n_docs"),
      cnt(isEmpty).as("n_empty"),
      cnt(!isEmpty).as("n_kept"),
      sum(length(col("text"))).as("total_chars"),
      sum(octet_length(col("text"))).as("total_bytes"),
      round(sum(octet_length(col("text"))).cast("double") / (1024 * 1024), 6)
        .as("size_mb"))
  }

  private val memsizeSql =
    """SELECT count(*) AS n_docs,
      |  count(*) FILTER (text IS NULL OR regexp_matches(text, '^\s*$'))
      |    AS n_empty,
      |  count(*) FILTER (NOT (text IS NULL OR regexp_matches(text, '^\s*$')))
      |    AS n_kept,
      |  CAST(sum(length(text)) AS BIGINT) AS total_chars,
      |  CAST(sum(octet_length(CAST(text AS BLOB))) AS BIGINT) AS total_bytes,
      |  round(sum(octet_length(CAST(text AS BLOB))) / CAST(1048576 AS DOUBLE), 6)
      |    AS size_mb
      |FROM documents""".stripMargin

  // ---------------------------------------------------------- bpe tokens
  /** GPT-style pre-tokenizer counting: the BPE-ish segmentation regex
    * (contractions | space+letter-run | space+digit-run | space+punct-run
    * | whitespace) — the practical token estimator an LLM-data pipeline
    * budgets with. Pure `regexp_count` per row in the RE2∩Java subset;
    * one scan, one 1-row aggregate. */
  private val BpeTokenRegex =
    "'(?:s|t|re|ve|m|ll|d)| ?[A-Za-z]+| ?[0-9]+| ?[^A-Za-z0-9 \\t\\n]+|\\s+"

  private def bpeTokens(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.load(s, dir, "documents")
    val nTok = regexp_count(col("text"), lit(BpeTokenRegex))
    docs.select(nTok.as("n_tok"), length(col("text")).as("n_chars"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum("n_tok").as("total_tokens"),
        round(avg("n_tok"), 6).as("avg_tokens"),
        max("n_tok").cast("long").as("max_tokens"),
        round(sum(col("n_chars")).cast("double") / sum("n_tok"), 6)
          .as("chars_per_token"))
  }

  private val bpeTokensSql = {
    val re = BpeTokenRegex.replace("'", "''")
    s"""SELECT count(*) AS n_docs,
       |  CAST(sum(n_tok) AS BIGINT) AS total_tokens,
       |  round(avg(n_tok), 6) AS avg_tokens,
       |  CAST(max(n_tok) AS BIGINT) AS max_tokens,
       |  round(sum(n_chars) / CAST(sum(n_tok) AS DOUBLE), 6)
       |    AS chars_per_token
       |FROM (SELECT length(regexp_extract_all(text, '$re')) AS n_tok,
       |        length(text) AS n_chars
       |      FROM documents) t""".stripMargin
  }

  // --------------------------------------------------------- text_length
  /** Text-length NumericStats (text_column_profile.py:159-173: the same
    * numeric aggregations over `str.len()`) — one scan of
    * `length(text)`, partial aggregation all the way. */
  private def textLength(s: SparkSession, dir: String): DataFrame = {
    val len = Tables.load(s, dir, "documents")
      .select(length(col("text")).cast("long").as("len"))
    len.agg(
      count(lit(1)).as("n"),
      min("len").as("min_len"),
      max("len").as("max_len"),
      round(avg("len"), 6).as("avg_len"),
      round(var_pop("len"), 4).as("var_len"),
      round(expr("percentile(len, 0.5)"), 6).as("median_len"))
  }

  private val textLengthSql =
    """SELECT count(*) AS n,
      |  CAST(min(len) AS BIGINT) AS min_len,
      |  CAST(max(len) AS BIGINT) AS max_len,
      |  round(avg(len), 6) AS avg_len,
      |  round(var_pop(len), 4) AS var_len,
      |  round(quantile_cont(len, 0.5), 6) AS median_len
      |FROM (SELECT length(text) AS len FROM documents) t""".stripMargin

  // -------------------------------------------------------- text_normalize
  /** Unicode-normalization census — the step CCNet/C4 run before any
    * hashing, because composed vs decomposed accent sequences are
    * VISUALLY identical but hash apart, silently defeating exact dedup.
    * The corpus is ASCII, so known positives are injected on both
    * engines identically: docs < 10 reappear once with 'e' → precomposed
    * 'é' (+300000) and once with 'e' → decomposed "é" (+400000).
    * NFC maps the decomposed clone onto the precomposed one, so the
    * normalized fingerprints collide where the raw ones do not.
    *
    * Shape: `graft_nfc` (native codegen'd expression) is map-side; the
    * only shuffle is the NFC-fingerprint groupBy — identical to exact
    * dedup. Output: one census row (docs, changed-by-NFC count, chars
    * removed, docs colliding post-NFC vs pre-NFC). */
  private def textNormalize(s: SparkSession, dir: String): DataFrame = {
    val base = Tables.load(s, dir, "documents").select("doc_id", "text")
    val small = base.filter(col("doc_id") < 10)
    val pre = small.select((col("doc_id") + 300000).as("doc_id"),
      regexp_replace(col("text"), "e", "é").as("text"))
    val dec = small.select((col("doc_id") + 400000).as("doc_id"),
      regexp_replace(col("text"), "e", "é").as("text"))
    val c = base.unionAll(pre).unionAll(dec)
      .withColumn("nt", graft.functions.NfcNormalize(col("text")))
    def dupDocs(fp: org.apache.spark.sql.Column) = c
      .groupBy(md5(fp).as("f")).agg(count(lit(1)).as("n"))
      .filter(col("n") > 1).agg(coalesce(sum("n"), lit(0L)).as("d"))
    val census = c.agg(
      count(lit(1)).as("n_docs"),
      sum(when(col("nt") =!= col("text"), 1L).otherwise(0L))
        .as("n_changed"),
      sum(length(col("text")) - length(col("nt"))).as("chars_removed"))
    census
      .crossJoin(dupDocs(col("nt")).select(col("d").as("n_nfc_dup_docs")))
      .crossJoin(dupDocs(col("text")).select(col("d").as("n_raw_dup_docs")))
  }

  private val textNormalizeSql =
    """WITH corpus AS (
      |  SELECT doc_id, text FROM documents
      |  UNION ALL
      |  SELECT doc_id + 300000, replace(text, 'e', 'é')
      |  FROM documents WHERE doc_id < 10
      |  UNION ALL
      |  SELECT doc_id + 400000, replace(text, 'e', 'é')
      |  FROM documents WHERE doc_id < 10),
      |n AS (SELECT doc_id, text, nfc_normalize(text) AS nt FROM corpus),
      |dup_nfc AS (SELECT coalesce(CAST(sum(n) AS BIGINT), 0)
      |              AS n_nfc_dup_docs
      |            FROM (SELECT md5(nt) AS f, count(*) AS n FROM n
      |                  GROUP BY 1) g WHERE n > 1),
      |dup_raw AS (SELECT coalesce(CAST(sum(n) AS BIGINT), 0)
      |              AS n_raw_dup_docs
      |            FROM (SELECT md5(text) AS f, count(*) AS n FROM n
      |                  GROUP BY 1) g WHERE n > 1)
      |SELECT count(*) AS n_docs,
      |  CAST(sum(CASE WHEN nt != text THEN 1 ELSE 0 END) AS BIGINT)
      |    AS n_changed,
      |  CAST(sum(length(text) - length(nt)) AS BIGINT) AS chars_removed,
      |  n_nfc_dup_docs, n_raw_dup_docs
      |FROM n CROSS JOIN dup_nfc CROSS JOIN dup_raw
      |GROUP BY n_nfc_dup_docs, n_raw_dup_docs""".stripMargin

  // --------------------------------------------------------- text_entropy
  /** Character-entropy quality census — the "compressibility" heuristic
    * without a compressor: per document, Shannon entropy (bits/char) of
    * the codepoint distribution via the codegen'd single-pass
    * `graft_entropy` ([[graft.functions.CharEntropy]]); natural prose
    * sits near the language's character entropy while padding/
    * boilerplate collapses toward 0. The census buckets documents at
    * half-bit granularity per source — the distribution a curation
    * pipeline thresholds against, complementing `text_repetition`'s
    * word-gram signal.
    *
    * Scale shape: the entropy is DOC-LOCAL (map-only; no corpus char
    * shuffle — the same contract the text_repetition rewrite
    * established); the only exchange is the (source × ~14 bucket)
    * census agg, partial map-side. Entropies round to 6 dp BEFORE
    * bucketing/min/max so both engines bucket identical values. */
  private def textEntropy(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.load(s, dir, "documents").filter(col("n_chars") > 0)
    docs
      .select(col("source"), col("n_chars"),
        round(graft.functions.CharEntropy(col("text")), 6).as("h6"))
      .withColumn("h_bucket", floor(col("h6") * 2).cast("long"))
      .groupBy("source", "h_bucket")
      .agg(
        count(lit(1)).as("n_docs"),
        sum("n_chars").as("sum_chars"),
        min("h6").as("h_min"),
        max("h6").as("h_max"))
      .orderBy("source", "h_bucket")
  }

  private val textEntropySql =
    """WITH e AS (
      |  SELECT doc_id, round(entropy(c), 6) AS h6
      |  FROM (SELECT doc_id, unnest(string_split(text, '')) AS c
      |        FROM documents WHERE n_chars > 0) u
      |  GROUP BY doc_id)
      |SELECT d.source, CAST(floor(h6 * 2) AS BIGINT) AS h_bucket,
      |  count(*) AS n_docs,
      |  CAST(sum(d.n_chars) AS BIGINT) AS sum_chars,
      |  min(h6) AS h_min, max(h6) AS h_max
      |FROM e JOIN documents d USING (doc_id)
      |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  override val qs: Seq[Q] = Seq(
    Q("text_entropy", textEntropy, Some(textEntropySql)),
    Q("text_length", textLength, Some(textLengthSql)),
    Q("text_normalize", textNormalize, Some(textNormalizeSql)),
    Q("text_bpe_tokens", bpeTokens, Some(bpeTokensSql)),
    Q("text_memsize", memsize, Some(memsizeSql)),
    Q("text_token_stats", tokenStats, Some(tokenStatsSql)),
    Q("text_word_topk", wordTopk, Some(wordTopkSql)),
    Q("text_quality", quality, Some(qualitySql)),
    Q("text_langid", langid, Some(langidSql)),
    Q("text_fingerprint", fingerprint, Some(fingerprintSql)))
}
