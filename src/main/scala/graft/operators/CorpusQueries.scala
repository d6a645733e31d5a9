package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables

/** Corpus-curation operators for LLM training-data pipelines, layered on
  * the same `documents` table as TextQueries/PipelineQueries: LM-based
  * quality scoring (the CCNet recipe), BM25 ranked retrieval (the dense
  * half lives in SimilarityQueries; this is the sparse half), token-budget
  * packing, and target-proportion domain mixing (the DoReMi/Pile-style
  * mixture step).
  *
  * Scale shape: every operator is one (or two) corpus scans whose shuffles
  * are bounded by VOCABULARY or KEY-CARDINALITY, never by corpus size —
  * `text_perplexity` shuffles (lang × vocab) partial counts and joins the
  * model back by broadcast; `search_bm25` prunes the token explode to the
  * query-term set map-side before any shuffle; `budget_pack` and
  * `mix_sources` shuffle once on the stratum key and prune with the same
  * map-side top-k the window planner gives row_number filters. All output
  * is integer-exact or rounded after a single deterministic aggregation.
  */
object CorpusQueries extends QueryModule {

  /** Whitespace tokens with empties dropped — the shared tokenizer, kept
    * to the exact arithmetic DuckDB's `string_split`/`list_filter` twin
    * computes so token counts agree bit-for-bit. */
  private def tokArr: org.apache.spark.sql.Column =
    filter(split(col("text"), " "), x => x =!= "")

  // ------------------------------------------------------ text_perplexity
  /** Unigram-LM cross-entropy per language — the CCNet quality-scoring
    * recipe (Wenzek et al. 2020: score text by an LM trained on the
    * corpus; here add-one-smoothed unigrams trained on the whole corpus,
    * p(t) = (n_t + 1)/(N + V)) reported as per-language cross-entropy
    * and perplexity.
    *
    * Plan: ONE token explode → (lang, token) partial-agg'd counts (the
    * only corpus-sized pass, cached because both the model and the score
    * derive from it); the global model folds out of that same aggregate
    * (vocab-bounded), joins back by broadcast, and the per-language
    * weighted log-sum is a |vocab × langs|-row aggregation. At 100 TB the
    * model is Heaps'-law-bounded (millions of terms → still a broadcast);
    * the corpus is scanned once. */
  private def textPerplexity(s: SparkSession, dir: String): DataFrame = {
    val lt = Tables.loadFanned(s, dir, "documents")
      .select(col("lang"), explode(tokArr).as("tok"))
      .groupBy("lang", "tok").agg(count(lit(1)).as("c"))
      .transform(graft.functions.cacheOnce)
    val model = lt.groupBy("tok").agg(sum("c").as("n_t"))
    val tot = model.agg(sum("n_t").as("n"), count(lit(1)).as("v"))
    val nll = col("c") * -log((col("n_t") + 1.0) / (col("n") + col("v")))
    lt.join(broadcast(model), "tok")
      .crossJoin(broadcast(tot))
      .groupBy("lang")
      .agg(sum("c").as("n_tokens"), sum(nll).as("s"))
      .select(col("lang"), col("n_tokens"),
        round(col("s") / col("n_tokens"), 4).as("xent"),
        round(exp(col("s") / col("n_tokens")), 2).as("ppl"))
      .orderBy("lang")
  }

  private val textPerplexitySql =
    """WITH tok AS (SELECT lang,
      |               unnest(list_filter(string_split(text, ' '),
      |                                  x -> x != '')) AS tok
      |             FROM documents),
      |lt AS (SELECT lang, tok, count(*) AS c FROM tok GROUP BY 1, 2),
      |g AS (SELECT tok, sum(c) AS n_t FROM lt GROUP BY 1),
      |tot AS (SELECT sum(n_t) AS n, count(*) AS v FROM g)
      |SELECT lang, CAST(sum(c) AS BIGINT) AS n_tokens,
      |  round(sum(c * -ln((n_t + 1.0) / (n + v))) / sum(c), 4) AS xent,
      |  round(exp(sum(c * -ln((n_t + 1.0) / (n + v))) / sum(c)), 2) AS ppl
      |FROM lt JOIN g USING (tok) CROSS JOIN tot
      |GROUP BY lang ORDER BY lang""".stripMargin

  // ---------------------------------------------------------- search_bm25
  private val Bm25K1 = 1.2
  private val Bm25B = 0.75
  private val Bm25TopK = 10
  /** Fixed query workload — terms drawn from the corpus vocabulary. */
  private val Bm25Queries: Seq[(String, Seq[String])] = Seq(
    "q1" -> Seq("spark", "hash", "join"),
    "q2" -> Seq("window", "sort", "merge"),
    "q3" -> Seq("customer", "vector", "stream"))

  /** BM25 top-k ranked retrieval (Robertson/Sparck Jones; the Lucene
    * `ln(1 + (N - df + .5)/(df + .5))` idf form) for a fixed query
    * batch — the sparse-retrieval sibling of `sim_topk`.
    *
    * Plan: document length comes map-side from `size(arr)` (no explode
    * needed for dl), the token explode is pruned to the query-term set
    * BEFORE any shuffle (`isin` on a literal set — at scale a broadcast
    * semi-join), so the only corpus-sized shuffle carries (doc, term ∈
    * queries) pairs with map-side partial counts. df/N/avgdl are
    * term-cardinality aggregates joined back by broadcast; ranking is
    * rounded-score-then-id so both engines sort identical keys. */
  private def searchBm25(s: SparkSession, dir: String): DataFrame = {
    val terms = Bm25Queries.flatMap(_._2).distinct
    // tf stage is DOC-LOCAL, computed in-row by the codegen'd
    // graft_termcounts byte-scan (one pass, zero allocation per token):
    // no Generate over all corpus tokens, no (doc, dl, tok) hash-combine
    // — the only Generate left is the |terms|-slot posexplode and the tf
    // stage needs no aggregation at all (SCALING.md records the ratio to
    // the explode→isin→groupBy formulation it replaced).
    val nT = terms.size
    // CACHE the (doc_id, dl, tc) frame — ~an int per term per doc — so
    // the byte-scan runs exactly ONCE per document: stats and tf both
    // read the cache, and the cache boundary also stops Catalyst's
    // InferFiltersFromGenerate from pushing a size(termcounts(...))>0
    // pre-filter under the project, which re-evaluated the expression
    // per row (the text_repetition lesson; the plan gate pins both)
    val docs = Tables.loadFanned(s, dir, "documents")
      .select(col("doc_id"),
        graft.functions.TermCounts(col("text"), terms).as("tc"))
      .select(col("doc_id"),
        element_at(col("tc"), nT + 1).as("dl"),
        slice(col("tc"), 1, nT).as("tc"))
      .transform(graft.functions.cacheOnce)
    val stats = docs.agg(count(lit(1)).as("n"), avg("dl").as("avgdl"))
    val tf = docs
      .select(col("doc_id"), col("dl"), posexplode(col("tc")))
      .filter(col("col") > 0)
      .select(col("doc_id"), col("dl"),
        element_at(typedlit(terms), col("pos") + 1).as("tok"),
        col("col").cast("long").as("tf"))
    val dft = tf.groupBy("tok").agg(count(lit(1)).as("df"))
    import s.implicits._
    val q = Bm25Queries.flatMap { case (id, ts) => ts.map(id -> _) }
      .toDF("query", "tok")
    val idf = log(lit(1.0) + (col("n") - col("df") + 0.5) / (col("df") + 0.5))
    val partScore = idf * col("tf") * (Bm25K1 + 1.0) /
      (col("tf") + lit(Bm25K1) * (lit(1.0 - Bm25B) + lit(Bm25B) * col("dl") / col("avgdl")))
    val scored = tf
      .join(broadcast(q), "tok")
      .join(broadcast(dft), "tok")
      .crossJoin(broadcast(stats))
      .groupBy("query", "doc_id")
      .agg(round(sum(partScore), 4).as("score"))
    val w = Window.partitionBy("query")
      .orderBy(col("score").desc, col("doc_id"))
    scored.withColumn("rk", row_number().over(w))
      .filter(col("rk") <= Bm25TopK)
      .select(col("query"), col("rk").cast("long").as("rk"),
        col("doc_id"), col("score"))
      .orderBy("query", "rk")
  }

  private val searchBm25Sql = {
    val qRows = Bm25Queries
      .flatMap { case (id, ts) => ts.map(t => s"('$id', '$t')") }
      .mkString(", ")
    s"""WITH q(query, tok) AS (VALUES $qRows),
       |d AS (SELECT doc_id,
       |        list_filter(string_split(text, ' '), x -> x != '') AS arr
       |      FROM documents),
       |dd AS (SELECT doc_id, len(arr) AS dl, arr FROM d),
       |stats AS (SELECT count(*) AS n, avg(dl) AS avgdl FROM dd),
       |t AS (SELECT doc_id, dl, unnest(arr) AS tok FROM dd),
       |tf AS (SELECT doc_id, dl, tok, count(*) AS tf FROM t
       |       WHERE tok IN (SELECT DISTINCT tok FROM q) GROUP BY 1, 2, 3),
       |dft AS (SELECT tok, count(*) AS df FROM tf GROUP BY 1),
       |sc AS (SELECT query, doc_id,
       |         round(sum(ln(1.0 + (n - df + 0.5) / (df + 0.5))
       |                   * tf * ($Bm25K1 + 1.0)
       |                   / (tf + $Bm25K1 * (1.0 - $Bm25B
       |                        + $Bm25B * dl / avgdl))), 4) AS score
       |       FROM tf JOIN q USING (tok) JOIN dft USING (tok)
       |            CROSS JOIN stats
       |       GROUP BY 1, 2),
       |r AS (SELECT query, doc_id, score,
       |        row_number() OVER (PARTITION BY query
       |                           ORDER BY score DESC, doc_id) AS rk
       |      FROM sc)
       |SELECT query, CAST(rk AS BIGINT) AS rk, doc_id, score
       |FROM r WHERE rk <= $Bm25TopK ORDER BY query, rk""".stripMargin
  }

  // ---------------------------------------------------------- budget_pack
  private val PackBudget = 600L

  /** Token-budget packing: per source, admit documents in a deterministic
    * content-free order (md5 of id — reproducible on any engine and any
    * partitioning) until the running token total exceeds the budget, and
    * report what fit. This is the "fill each mixture slot up to its token
    * budget" step of corpus assembly, expressed as a running-total window
    * rather than any driver-side loop.
    *
    * Plan: dl is map-side (`size(split(...))`, no explode), then ONE
    * shuffle on the source key for the cumulative sum; the final report
    * is a |sources|-key aggregate. Integer-exact output. */
  private def budgetPack(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("source")
      .orderBy(md5(col("doc_id").cast("string")), col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    Tables.load(s, dir, "documents")
      .select(col("source"), col("doc_id"), size(tokArr).cast("long").as("dl"))
      .withColumn("cum", sum("dl").over(w))
      .filter(col("cum") <= PackBudget)
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"), sum("dl").as("n_tokens"))
      .orderBy("source")
  }

  private val budgetPackSql =
    s"""WITH d AS (SELECT source, doc_id,
       |             len(list_filter(string_split(text, ' '),
       |                             x -> x != '')) AS dl
       |           FROM documents),
       |c AS (SELECT source, dl,
       |        sum(dl) OVER (PARTITION BY source
       |                      ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id
       |                      ROWS UNBOUNDED PRECEDING) AS cum
       |      FROM d)
       |SELECT source, count(*) AS n_docs, CAST(sum(dl) AS BIGINT) AS n_tokens
       |FROM c WHERE cum <= $PackBudget GROUP BY 1 ORDER BY 1""".stripMargin

  // ------------------------------------------------------- pack_sequences
  private val SeqLen = 512L
  private val PackShards = 8

  /** Sequence packing — the concat-and-chop step that turns a curated
    * corpus into fixed-length training sequences (every GPT-style
    * pipeline's last preprocessing stage): docs are hashed to shards,
    * concatenated per shard in a deterministic content-free order, and
    * chopped into `SeqLen`-token windows. The report is the packing
    * census an operator watches before a training run: per shard, how
    * many docs and tokens landed, how many sequences that yields, and
    * how many docs straddle a sequence boundary (the split-rate that
    * drives the "does attention bleed across documents" decision).
    *
    * Plan: token length is map-side, then ONE shuffle on the shard key
    * for the running cumulative sum — the window is per-shard, so
    * parallelism = shard count and no global ordering exists anywhere.
    * At 100 TB the shard count scales with the corpus and each shard's
    * window is a single sorted partition stream; bin arithmetic is
    * integer division on the running total (`cum div SeqLen`), so the
    * whole census stays integer-exact for the oracle. */
  private def packSequences(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("shard")
      .orderBy(md5(col("doc_id").cast("string")), col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    Tables.load(s, dir, "documents")
      .select(
        (conv(substring(md5(col("doc_id").cast("string")), 1, 8), 16, 10)
          .cast("long") % PackShards).as("shard"),
        col("doc_id"), size(tokArr).cast("long").as("dl"))
      .filter(col("dl") > 0)
      .withColumn("cum", sum("dl").over(w))
      .groupBy("shard")
      .agg(
        count(lit(1)).as("n_docs"),
        sum("dl").as("n_tokens"),
        expr(s"cast((max(cum) + ${SeqLen - 1}) div $SeqLen as bigint)")
          .as("n_seqs"),
        sum(when(expr(s"(cum - 1) div $SeqLen") >
          expr(s"(cum - dl) div $SeqLen"), 1L).otherwise(0L))
          .as("n_split_docs"))
      .orderBy("shard")
  }

  private val packSequencesSql =
    s"""WITH d AS (SELECT
       |    CAST(CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))
       |      AS BIGINT) % $PackShards AS BIGINT) AS shard,
       |    doc_id,
       |    len(list_filter(string_split(text, ' '), x -> x != '')) AS dl
       |  FROM documents),
       |c AS (SELECT shard, dl,
       |        sum(dl) OVER (PARTITION BY shard
       |                      ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id
       |                      ROWS UNBOUNDED PRECEDING) AS cum
       |      FROM d WHERE dl > 0)
       |SELECT shard, count(*) AS n_docs, CAST(sum(dl) AS BIGINT) AS n_tokens,
       |  CAST((max(cum) + ${SeqLen - 1}) // $SeqLen AS BIGINT) AS n_seqs,
       |  CAST(count(*) FILTER ((cum - 1) // $SeqLen > (cum - dl) // $SeqLen)
       |    AS BIGINT) AS n_split_docs
       |FROM c GROUP BY 1 ORDER BY 1""".stripMargin

  // ---------------------------------------------------------- mix_sources
  /** Target mixture proportions by language (weights sum to 1). */
  private val MixWeights: Seq[(String, Double)] = Seq(
    "en" -> 0.40, "es" -> 0.15, "fr" -> 0.15, "de" -> 0.15, "zh" -> 0.15)

  /** Domain-mixture sampling to target proportions (the DoReMi/Pile
    * mixture step): given per-language target weights, the largest
    * corpus honoring them is T = min_l(count_l / w_l); each language
    * keeps its floor(w_l · T) top documents under the deterministic md5
    * permutation. Output reports available vs target counts plus the
    * characters actually admitted (which pins the exact selected SET,
    * not just its size).
    *
    * Plan: counts are a |langs|-key aggregate, T is a scalar, caps join
    * back by broadcast, and the selection is the same one-shuffle
    * map-side-pruned top-k window as `sample_stratified`. The double
    * arithmetic (count/w, w·T) is identical IEEE ops in both engines. */
  private def mixSources(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val docs = Tables.load(s, dir, "documents")
    val wdf = MixWeights.toDF("lang", "w")
    val counts = docs.groupBy("lang").agg(count(lit(1)).as("n_total"))
    val t = counts.join(broadcast(wdf), "lang")
      .agg(floor(min(col("n_total") / col("w"))).as("t"))
    val cap = counts.join(broadcast(wdf), "lang")
      .crossJoin(broadcast(t))
      .select(col("lang"), col("n_total"),
        floor(col("w") * col("t")).cast("long").as("n_target"))
    val w = Window.partitionBy("lang")
      .orderBy(md5(col("doc_id").cast("string")), col("doc_id"))
    docs.withColumn("rk", row_number().over(w))
      .join(broadcast(cap), "lang")
      .filter(col("rk") <= col("n_target"))
      .groupBy("lang", "n_total", "n_target")
      .agg(sum("n_chars").as("chars_kept"))
      .orderBy("lang")
  }

  private val mixSourcesSql = {
    val wRows = MixWeights
      .map { case (l, w) => s"('$l', CAST($w AS DOUBLE))" }
      .mkString(", ")
    """WITH w(lang, w) AS (VALUES %s),
      |c AS (SELECT lang, count(*) AS n_total FROM documents GROUP BY 1),
      |t AS (SELECT floor(min(n_total / w)) AS t FROM c JOIN w USING (lang)),
      |cap AS (SELECT lang, n_total,
      |          CAST(floor(w * t) AS BIGINT) AS n_target
      |        FROM c JOIN w USING (lang) CROSS JOIN t),
      |r AS (SELECT lang, doc_id, n_chars,
      |        row_number() OVER (PARTITION BY lang
      |          ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rk
      |      FROM documents)
      |SELECT lang, n_total, n_target, CAST(sum(n_chars) AS BIGINT) AS chars_kept
      |FROM r JOIN cap USING (lang) WHERE rk <= n_target
      |GROUP BY 1, 2, 3 ORDER BY lang""".stripMargin.format(wRows)
  }

  /** The 100 TB mode of [[qualityBuckets]]: tercile THRESHOLDS come from
    * a bounded percentile_approx sketch per language and bucketing is a
    * map-side `when` against the broadcast cut points — no per-language
    * sort. Benched (not oracle-verified: sketch cuts are approximate by
    * nature); the ntile sibling verifies the shared scoring. */
  def qualityBucketsApprox(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.load(s, dir, "documents")
    val toks = docs.select(col("doc_id"), col("lang"),
      explode(tokArr).as("tok"))
    val g = toks.groupBy("tok").agg(count(lit(1)).as("n_t"))
    val tot = g.agg(sum("n_t").as("n"), count(lit(1)).as("v"))
    val model = g.crossJoin(broadcast(tot))
      .select(col("tok"),
        round(-log((col("n_t") + lit(1.0)) / (col("n") + col("v"))), 6)
          .as("nll"))
    val scored = toks
      .join(broadcast(model), Seq("tok"))
      .groupBy("doc_id", "lang")
      .agg(round(sum("nll") / count(lit(1)), 4).as("xent"))
    val cuts = scored.groupBy("lang")
      .agg(expr("percentile_approx(xent, array(0.3333D, 0.6667D), 2000)")
        .as("cut"))
      .select(col("lang"), col("cut")(0).as("t1"), col("cut")(1).as("t2"))
    scored.join(broadcast(cuts), "lang")
      .withColumn("bucket",
        when(col("xent") <= col("t1"), "head")
          .when(col("xent") <= col("t2"), "middle")
          .otherwise("tail"))
      .groupBy("lang", "bucket")
      .agg(count(lit(1)).as("n_docs"), round(avg("xent"), 6).as("avg_xent"))
      .orderBy("lang", "bucket")
  }

  // ------------------------------------------------------ mix_temperature
  /** Temperature-based mixture reweighting — the multilingual-corpus
    * sampling rule (mT5/XLM-R: p_i ∝ n_i^α, α ≈ 0.3) that upsamples
    * low-resource slices without the hard target weights of
    * [[mixSources]]. Reports, per language: raw share, temperature
    * share, the doc budget allocated at the corpus's own size, and the
    * implied epochs over that slice (>1 = upsampling).
    *
    * Scale shape: one count aggregate (|langs| keys) + a broadcast of
    * the 1-row normalizer — the reweighting itself is arithmetic on the
    * count table, never a corpus shuffle. */
  private val MixAlpha = 0.3

  private def mixTemperature(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.load(s, dir, "documents")
    val counts = docs.groupBy("lang").agg(count(lit(1)).as("n_total"))
    val tot = counts.agg(
      sum("n_total").as("n"),
      sum(pow(col("n_total"), MixAlpha)).as("z"))
    counts.crossJoin(broadcast(tot))
      .select(col("lang"), col("n_total"),
        round(col("n_total") / col("n"), 6).as("p_raw"),
        round(pow(col("n_total"), MixAlpha) / col("z"), 6).as("p_temp"),
        floor(pow(col("n_total"), MixAlpha) / col("z") * col("n"))
          .cast("long").as("n_target"))
      .withColumn("epochs", round(col("n_target") / col("n_total"), 4))
      .orderBy("lang")
  }

  private val mixTemperatureSql =
    s"""WITH c AS (SELECT lang, count(*) AS n_total FROM documents GROUP BY 1),
       |t AS (SELECT sum(n_total) AS n,
       |        sum(power(n_total, CAST($MixAlpha AS DOUBLE))) AS z FROM c)
       |SELECT lang, n_total,
       |  round(n_total / n, 6) AS p_raw,
       |  round(power(n_total, CAST($MixAlpha AS DOUBLE)) / z, 6) AS p_temp,
       |  CAST(floor(power(n_total, CAST($MixAlpha AS DOUBLE)) / z * n)
       |    AS BIGINT) AS n_target,
       |  round(CAST(floor(power(n_total, CAST($MixAlpha AS DOUBLE)) / z * n)
       |    AS BIGINT) / n_total, 4) AS epochs
       |FROM c CROSS JOIN t ORDER BY lang""".stripMargin

  // ------------------------------------------------------------ langid_nb
  /** TRAINED language identification (the fasttext-langid slot of a
    * curation pipeline, and the second consumer of the
    * [[graft.labelers.NgramBayes]] trainable-model machinery after
    * labeler_nb): fit char-trigram NB on a 60% doc_id split with the
    * corpus's own `lang` column as labels, predict the held-out 40%,
    * return the 5×5 confusion matrix.
    *
    * Cells are capped at [[LangIdCellCap]] chars: enough signal for 5
    * languages, bounds the per-doc gram count (predict-side `sum(logp)`
    * is FP-order-sensitive across engines; short sums keep the 4-dp
    * rounding contract safely decisive), and caps cost — langid never
    * needs the whole document.
    *
    * Scale shape is [[graft.labelers.NgramBayes]]'s: fit = explode + two
    * vocabulary-bounded groupBys; predict = map-side explode + broadcast
    * model join + per-id argmax window. */
  private val LangIdCellCap = 120

  private def langidNb(s: SparkSession, dir: String): DataFrame = {
    import graft.labelers.NgramBayes
    // fanned: char-gram explode + NB scoring are CPU-bound per row (see
    // Tables.loadFanned)
    val d = Tables.loadFanned(s, dir, "documents")
      .select(col("doc_id"), col("lang"),
        substring(col("text"), 1, LangIdCellCap).as("cell"))
    val train = d.filter(col("doc_id") % 5 < 3)
      .select(col("lang").as("label"), col("cell"))
    val test = d.filter(col("doc_id") % 5 >= 3)
      .select(col("doc_id").as("id"), col("lang").as("true_label"), col("cell"))
    val model = NgramBayes.fit(train)
    NgramBayes.predict(test.select("id", "cell"), model)
      .join(test.select("id", "true_label"), Seq("id"))
      .groupBy(col("true_label"), col("pred").as("pred_label"))
      .agg(count(lit(1)).as("n"))
      .orderBy("true_label", "pred_label")
  }

  private val langidNbSql = graft.labelers.NgramBayes.confusionSql(
    s"""SELECT lang AS label, substr(text, 1, $LangIdCellCap) AS cell
       |  FROM documents WHERE doc_id % 5 < 3""".stripMargin,
    s"""SELECT doc_id AS id, lang AS true_label,
       |    substr(text, 1, $LangIdCellCap) AS cell
       |  FROM documents WHERE doc_id % 5 >= 3""".stripMargin)

  // ------------------------------------------------------------ vocab_bpe
  /** BPE tokenizer training (Sennrich et al. 2016, arXiv:1508.07909 §3.2
    * — the vocabulary-construction step of every LLM data pipeline):
    * [[BpeMerges]] merge rounds over the corpus, emitting the learned
    * merge table (step, pair, weighted frequency).
    *
    * BPE's defining scale property is that it trains on the WORD
    * HISTOGRAM, not the corpus: one corpus-sized explode builds the
    * (word, count) dict — vocabulary-bounded from then on — and each
    * round is (a) a pair-count shuffle bounded by the token-pair
    * universe, (b) a 1-row argmax collect, (c) a map-side merge. That is
    * the standard distributed BPE trainer shape at 100 TB.
    *
    * The merge itself is expressed as literal string `replace` on a
    * space-delimited char-sequence repr with sentinel spaces, applied
    * [[BpeReplacePasses]] times: left-to-right non-overlapping `replace`
    * is BPE's greedy merge order, and one pass consumes the shared
    * delimiter between back-to-back occurrences, so each extra pass
    * halves the longest unmerged run (2^4 ≥ any token in this corpus).
    * Java and DuckDB `replace` share these semantics exactly, which is
    * what makes the oracle bit-for-bit: integer counts, argmax ties
    * broken (count desc, pair asc) identically in both engines. */
  private val BpeMerges = 8
  private val BpeReplacePasses = 4

  /** Shared BPE trainer: word histogram → [[BpeMerges]] rounds, returning
    * the final (word, repr, c) dict and the learned merge table. */
  private def bpeLearn(s: SparkSession, dir: String)
      : (DataFrame, Seq[(Int, String, String, Long)]) = {
    val docs = Tables.load(s, dir, "documents")
    val dict0 = docs.select(explode(tokArr).as("word"))
      .groupBy("word").agg(count(lit(1)).as("c"))
      .select(col("word"), concat(lit(" "),
        regexp_replace(col("word"), "(.)", "$1 ")).as("repr"), col("c"))
      .transform(graft.functions.cacheOnce)
    val merges = Seq.newBuilder[(Int, String, String, Long)]
    var dict = dict0
    for (i <- 1 to BpeMerges) {
      val toks = split(trim(col("repr")), " ")
      val prs = when(size(toks) >= 2,
        transform(sequence(lit(1), size(toks) - 1),
          j => struct(element_at(toks, j).as("a"),
            element_at(toks, j + 1).as("b"))))
        .otherwise(array().cast("array<struct<a:string,b:string>>"))
      val top = dict.select(col("c"), explode(prs).as("p"))
        .groupBy(col("p.a").as("a"), col("p.b").as("b"))
        .agg(sum("c").as("n"))
        .orderBy(col("n").desc, col("a"), col("b")).limit(1)
        .collect()(0)
      val (a, b, n) = (top.getString(0), top.getString(1), top.getLong(2))
      merges += ((i, a, b, n))
      // tokens are corpus content — escape them before embedding in the
      // replace() SQL (a quote in a token must not break the expression)
      def q(t: String) = t.replace("\\", "\\\\").replace("'", "\\'")
      val merged = (1 to BpeReplacePasses).foldLeft("repr")((e, _) =>
        s"replace($e, ' ${q(a)} ${q(b)} ', ' ${q(a)}${q(b)} ')")
      dict = dict.select(col("word"), expr(merged).as("repr"), col("c"))
    }
    dict0.unpersist()
    (dict, merges.result())
  }

  private def vocabBpe(s: SparkSession, dir: String): DataFrame = {
    val merges = bpeLearn(s, dir)._2
    import s.implicits._
    merges.toDF("step", "left_tok", "right_tok", "pair_count")
      .select(col("step").cast("long").as("step"), col("left_tok"),
        col("right_tok"), col("pair_count"))
      .orderBy("step")
  }

  /** The 8 merge rounds as DuckDB CTEs (shared prefix of vocab_bpe and
    * bpe_encode) — d0..dN carry (word, repr, c), t1..tN the argmaxes. */
  private val bpeCtes = {
    def pairs(d: String) =
      s"""SELECT p[1] AS a, p[2] AS b, CAST(sum(c) AS BIGINT) AS n
         |FROM (SELECT c, unnest(list_transform(
         |        generate_series(1, len(string_split(trim(repr), ' ')) - 1),
         |        j -> [string_split(trim(repr), ' ')[j],
         |              string_split(trim(repr), ' ')[j + 1]])) AS p
         |      FROM $d) u
         |GROUP BY 1, 2""".stripMargin
    val iters = (1 to BpeMerges).map { i =>
      val rep = (1 to BpeReplacePasses).foldLeft("repr")((e, _) =>
        s"replace($e, ' ' || a || ' ' || b || ' ', ' ' || a || b || ' ')")
      s"""t$i AS (SELECT a, b, n FROM (${pairs(s"d${i - 1}")})
         |      ORDER BY n DESC, a, b LIMIT 1),
         |d$i AS (SELECT word, $rep AS repr, c
         |        FROM d${i - 1} CROSS JOIN t$i)"""
        .stripMargin
    }.mkString(",\n")
    s"""WITH d0 AS (
       |  SELECT word, ' ' || regexp_replace(word, '(.)', '\\1 ', 'g') AS repr,
       |         count(*) AS c
       |  FROM (SELECT unnest(list_filter(string_split(text, ' '),
       |                                  x -> x != '')) AS word
       |        FROM documents) w
       |  GROUP BY 1),
       |$iters""".stripMargin
  }

  private val vocabBpeSql = {
    val out = (1 to BpeMerges)
      .map(i => s"SELECT $i AS step, a AS left_tok, b AS right_tok, " +
        s"n AS pair_count FROM t$i")
      .mkString("\nUNION ALL\n")
    s"""$bpeCtes
       |SELECT CAST(step AS BIGINT) AS step, left_tok, right_tok, pair_count
       |FROM ($out) ORDER BY step""".stripMargin
  }

  // ------------------------------------------------------------ bpe_encode
  /** Tokenizer APPLICATION: encode the corpus with the merge table
    * [[bpeLearn]] just produced and report per-source compression — total
    * words / chars / BPE tokens and chars-per-token, the number a
    * tokenizer pipeline actually tracks.
    *
    * Scale shape: encoding joins the corpus's (source, word) histogram
    * against the vocabulary-bounded word→n_tokens dict by BROADCAST —
    * the corpus is never re-tokenized row by row, and the only
    * corpus-sized shuffle is the (source, word) count with map-side
    * combine. Integer sums; one rounded division per source. */
  private def bpeEncode(s: SparkSession, dir: String): DataFrame = {
    val dict = bpeLearn(s, dir)._1
    val wtok = dict.select(col("word"),
      size(split(trim(col("repr")), " ")).cast("long").as("ntok"))
    val docs = Tables.load(s, dir, "documents")
    docs.select(col("source"), explode(tokArr).as("word"))
      .groupBy("source", "word").agg(count(lit(1)).as("c"))
      .join(broadcast(wtok), Seq("word"))
      .groupBy("source")
      .agg(
        sum(col("c")).as("n_words"),
        sum(col("c") * length(col("word"))).as("n_chars"),
        sum(col("c") * col("ntok")).as("n_tokens"))
      .select(col("source"), col("n_words"), col("n_chars"), col("n_tokens"),
        round(col("n_chars").cast("double") / col("n_tokens"), 4)
          .as("chars_per_token"))
      .orderBy("source")
  }

  private val bpeEncodeSql =
    s"""$bpeCtes,
       |wtok AS (SELECT word, len(string_split(trim(repr), ' ')) AS ntok
       |         FROM d$BpeMerges),
       |sw AS (SELECT source, word, count(*) AS c
       |       FROM (SELECT source, unnest(list_filter(string_split(text, ' '),
       |                                               x -> x != '')) AS word
       |             FROM documents) u
       |       GROUP BY 1, 2)
       |SELECT source,
       |  CAST(sum(c) AS BIGINT) AS n_words,
       |  CAST(sum(c * length(word)) AS BIGINT) AS n_chars,
       |  CAST(sum(c * ntok) AS BIGINT) AS n_tokens,
       |  round(CAST(sum(c * length(word)) AS DOUBLE)
       |        / sum(c * ntok), 4) AS chars_per_token
       |FROM sw JOIN wtok USING (word)
       |GROUP BY source ORDER BY source""".stripMargin

  // ------------------------------------------------------ quality_buckets
  /** CCNet-style quality bucketing (Wenzek et al. 2020, arXiv:1911.00359
    * §4.4): score every document with a language model, split each
    * language into head / middle / tail terciles by score, report the
    * per-bucket census. The LM here is the corpus's own smoothed unigram
    * (the same model family as text_perplexity), standing in for CCNet's
    * wiki-trained KenLM.
    *
    * Determinism contract (same as [[graft.labelers.NgramBayes]]): token
    * log-probs round to 6 dp in the model, per-doc scores to 4 dp, and
    * tercile assignment orders by (score, doc_id) so both engines cut
    * identical boundaries.
    *
    * Scale shape: model = one vocabulary-bounded count shuffle,
    * broadcast back; scoring = map-side explode + broadcast join + one
    * doc-key combine. The ntile window sorts within each language — at
    * 100 TB the cut would come from approx-quantile thresholds applied
    * map-side instead (documented deviation; the tercile SEMANTICS are
    * what the oracle pins). */
  private def qualityBuckets(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.loadFanned(s, dir, "documents")
    val toks = docs.select(col("doc_id"), col("lang"),
      explode(tokArr).as("tok"))
    val g = toks.groupBy("tok").agg(count(lit(1)).as("n_t"))
    val tot = g.agg(sum("n_t").as("n"), count(lit(1)).as("v"))
    val model = g.crossJoin(broadcast(tot))
      .select(col("tok"),
        round(-log((col("n_t") + lit(1.0)) / (col("n") + col("v"))), 6)
          .as("nll"))
    val scored = toks
      .join(broadcast(model), Seq("tok"))
      .groupBy("doc_id", "lang")
      .agg(round(sum("nll") / count(lit(1)), 4).as("xent"))
    val nt = ntile(3).over(Window.partitionBy("lang")
      .orderBy(col("xent"), col("doc_id")))
    scored.withColumn("bucket",
      element_at(array(lit("head"), lit("middle"), lit("tail")), nt))
      .groupBy("lang", "bucket")
      .agg(count(lit(1)).as("n_docs"), round(avg("xent"), 6).as("avg_xent"))
      .orderBy("lang", "bucket")
  }

  private val qualityBucketsSql =
    """WITH toks AS (
      |  SELECT doc_id, lang,
      |    unnest(list_filter(string_split(text, ' '), x -> x != '')) AS tok
      |  FROM documents),
      |g AS (SELECT tok, count(*) AS n_t FROM toks GROUP BY 1),
      |tot AS (SELECT sum(n_t) AS n, count(*) AS v FROM g),
      |model AS (SELECT tok, round(-ln((n_t + 1.0) / (n + v)), 6) AS nll
      |          FROM g CROSS JOIN tot),
      |scored AS (SELECT doc_id, lang,
      |             round(sum(nll) / count(*), 4) AS xent
      |           FROM toks JOIN model USING (tok) GROUP BY 1, 2),
      |b AS (SELECT lang, xent,
      |        ['head', 'middle', 'tail'][
      |          ntile(3) OVER (PARTITION BY lang ORDER BY xent, doc_id)]
      |          AS bucket
      |      FROM scored)
      |SELECT lang, bucket, count(*) AS n_docs,
      |  round(avg(xent), 6) AS avg_xent
      |FROM b GROUP BY 1, 2 ORDER BY lang, bucket""".stripMargin

  // ---------------------------------------------------------- dsir_weights
  /** DSIR importance weights (Xie et al. 2023, "Data Selection for
    * Language Models via Importance Resampling"): score every raw
    * document by how target-like its hashed-feature profile is, then
    * resample by weight. Features are hashed token buckets (the paper's
    * hashed n-grams; md5-derived so DuckDB reproduces the bucketing
    * bit-for-bit); target and raw bucket distributions get add-1
    * smoothing; the per-doc log importance weight is
    * Σ_b c_db · (ln p_target(b) − ln p_raw(b)).
    *
    * The target domain here is the `lang = 'en'` slice — the proxy for
    * "high-quality target corpus" the paper draws from Wikipedia+books.
    *
    * Plan: ONE token explode → (doc, bucket) partial-agg'd counts (the
    * only corpus-sized shuffle, ≤ |docs| × [[DsirBuckets]] keys,
    * cached); both models fold out of that frame as [[DsirBuckets]]-row
    * aggregates; per-bucket deltas round at 6 dp and broadcast-join
    * back, so the rescoring never reshuffles the corpus. Per-doc
    * weights round at 4 dp before any comparison — the NgramBayes
    * determinism contract. Output: per-language weight census (en must
    * dominate for the weights to mean anything). */
  private val DsirBuckets = 1024

  private def dsirWeights(s: SparkSession, dir: String): DataFrame = {
    val db = Tables.loadFanned(s, dir, "documents")
      .select(col("doc_id"), col("lang"), explode(tokArr).as("w"))
      .withColumn("b",
        conv(substring(md5(col("w")), 1, 8), 16, 10).cast("long")
          % DsirBuckets)
      .groupBy("doc_id", "lang", "b").agg(count(lit(1)).as("c"))
      .transform(graft.functions.cacheOnce)
    val raw = db.groupBy("b").agg(sum("c").as("rb"))
    val tgt = db.filter(col("lang") === "en")
      .groupBy("b").agg(sum("c").as("tb"))
    val tot = db.agg(sum("c").as("rt"),
      sum(when(col("lang") === "en", col("c"))).as("tt"))
    val delta = raw.join(tgt, Seq("b"), "left")
      .crossJoin(broadcast(tot))
      .select(col("b"), round(
        log((coalesce(col("tb"), lit(0L)) + 1.0) /
          (col("tt") + DsirBuckets)) -
        log((col("rb") + 1.0) / (col("rt") + DsirBuckets)), 6).as("delta"))
    val dw = db.join(broadcast(delta), "b")
      .groupBy("doc_id", "lang")
      .agg(round(sum(col("c") * col("delta")), 4).as("logw"))
    dw.groupBy("lang")
      .agg(
        count(lit(1)).as("n_docs"),
        round(avg("logw"), 4).as("avg_logw"),
        min("logw").as("min_logw"),
        max("logw").as("max_logw"))
      .orderBy("lang")
  }

  private val dsirWeightsSql =
    s"""WITH tok AS (SELECT doc_id, lang,
       |               unnest(list_filter(string_split(text, ' '),
       |                                  x -> x != '')) AS w
       |             FROM documents),
       |db AS (SELECT doc_id, lang,
       |         CAST(concat('0x', substr(md5(w), 1, 8)) AS BIGINT)
       |           % $DsirBuckets AS b,
       |         count(*) AS c
       |       FROM tok GROUP BY 1, 2, 3),
       |raw AS (SELECT b, sum(c) AS rb FROM db GROUP BY 1),
       |tgt AS (SELECT b, sum(c) AS tb FROM db WHERE lang = 'en' GROUP BY 1),
       |tot AS (SELECT sum(c) AS rt,
       |          sum(CASE WHEN lang = 'en' THEN c END) AS tt FROM db),
       |delta AS (SELECT raw.b,
       |            round(ln((coalesce(tb, 0) + 1.0) / (tt + $DsirBuckets))
       |              - ln((rb + 1.0) / (rt + $DsirBuckets)), 6) AS delta
       |          FROM raw LEFT JOIN tgt USING (b) CROSS JOIN tot),
       |dw AS (SELECT doc_id, lang, round(sum(c * delta), 4) AS logw
       |       FROM db JOIN delta USING (b) GROUP BY 1, 2)
       |SELECT lang, count(*) AS n_docs,
       |  round(avg(logw), 4) AS avg_logw,
       |  min(logw) AS min_logw,
       |  max(logw) AS max_logw
       |FROM dw GROUP BY lang ORDER BY lang""".stripMargin

  override val qs: Seq[Q] = Seq(
    Q("text_perplexity", textPerplexity, Some(textPerplexitySql)),
    Q("dsir_weights", dsirWeights, Some(dsirWeightsSql)),
    Q("search_bm25", searchBm25, Some(searchBm25Sql)),
    Q("budget_pack", budgetPack, Some(budgetPackSql)),
    Q("pack_sequences", packSequences, Some(packSequencesSql)),
    Q("mix_sources", mixSources, Some(mixSourcesSql)),
    Q("langid_nb", langidNb, Some(langidNbSql)),
    Q("vocab_bpe", vocabBpe, Some(vocabBpeSql)),
    Q("bpe_encode", bpeEncode, Some(bpeEncodeSql)),
    Q("quality_buckets", qualityBuckets, Some(qualityBucketsSql)),
    Q("mix_temperature", mixTemperature, Some(mixTemperatureSql)))
}
