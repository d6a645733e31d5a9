package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.Tables

/** Similarity search over the `embeddings` table (64-dim float vectors):
  * brute-force cosine top-k (the exact baseline), threshold pair search,
  * sign-bit LSH banding (the scale path), and IVF-style coarse
  * quantization.
  *
  * All math is pure Column expressions — `zip_with` + `aggregate` fold to
  * a codegen'd dot product; no UDFs.
  *
  * Scale shape: top-k broadcasts the (small) query set and scans the
  * corpus once — at 100 TB this is the right exact plan for a bounded
  * query batch (one pass, no shuffle; per-partition partial top-k via the
  * window is the only reduce). The all-pairs threshold search is
  * deliberately quadratic — it is the verification stage; LSH banding
  * (equi-join on (band, key)) and IVF cell routing (argmax over a
  * broadcast centroid set) are the candidate-pruning plans that replace
  * it at scale.
  */
object SimilarityQueries extends QueryModule {

  /** Cosine in double precision via the [[graft.functions.DotProduct]]
    * native expression — a codegen'd tight loop (no per-pair array
    * allocation, no lambda dispatch). Left-to-right accumulation keeps it
    * bit-identical to the DuckDB oracle's list_sum fold. */
  private def dot(a: Column, b: Column): Column =
    graft.functions.DotProduct(a, b)

  private def vecs(s: SparkSession, dir: String): DataFrame = {
    val e = Tables.load(s, dir, "embeddings")
    val v = transform(col("embedding"), x => x.cast("double"))
    e.select(col("vec_id"), col("label"), v.as("v"))
      .withColumn("nrm", sqrt(dot(col("v"), col("v"))))
  }

  private val vecsSql =
    """SELECT vec_id, label, v,
      |  sqrt(list_sum(list_transform(range(1, len(v) + 1),
      |       i -> v[i] * v[i]))) AS nrm
      |FROM (SELECT vec_id, label,
      |        list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
      |      FROM embeddings) e""".stripMargin

  private val simSqlExpr =
    "round(list_sum(list_transform(range(1, len(a.v) + 1), " +
      "i -> a.v[i] * b.v[i])) / (a.nrm * b.nrm), 6)"

  // ------------------------------------------------------------- sim_topk
  private val NQueries = 16
  private val TopK = 3

  /** Exact top-k cosine neighbors for a small query batch: broadcast the
    * queries, one scan of the corpus, rank with a per-query window.
    * Rounding happens BEFORE ranking so both engines order identically. */
  private def simTopk(s: SparkSession, dir: String): DataFrame = {
    val e = vecs(s, dir)
    val q = e.filter(col("vec_id") < NQueries)
      .select(col("vec_id").as("q_id"), col("v").as("qv"), col("nrm").as("qn"))
    val sims = e.crossJoin(broadcast(q))
      .filter(col("vec_id") =!= col("q_id"))
      .select(col("q_id"), col("vec_id").as("n_id"),
        round(dot(col("v"), col("qv")) / (col("nrm") * col("qn")), 6).as("sim"))
    val w = Window.partitionBy("q_id").orderBy(col("sim").desc, col("n_id").asc)
    sims.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= TopK)
      .select(col("q_id"), col("rank").cast("int").as("rank"),
        col("n_id"), col("sim"))
      .orderBy("q_id", "rank")
  }

  private val simTopkSql =
    s"""WITH n AS ($vecsSql),
       |sims AS (
       |  SELECT b.vec_id AS q_id, a.vec_id AS n_id, $simSqlExpr AS sim
       |  FROM n a JOIN n b ON b.vec_id < $NQueries AND a.vec_id != b.vec_id)
       |SELECT q_id, CAST(rn AS INT) AS rank, n_id, sim
       |FROM (SELECT *, row_number() OVER
       |        (PARTITION BY q_id ORDER BY sim DESC, n_id ASC) AS rn
       |      FROM sims) r
       |WHERE rn <= $TopK
       |ORDER BY q_id, rank""".stripMargin

  // ------------------------------------------------------------ sim_pairs
  private val SimThreshold = 0.35

  /** All vector pairs with cosine ≥ threshold — the exact (quadratic)
    * verification stage that LSH/IVF candidates feed at scale. Unordered
    * form for counting consumers ([[simLsh]]): caching the ordered frame
    * would materialize a sort of every qualifying pair that a count
    * never needs (EliminateSorts cannot fire through a cache). */
  private def simPairsUnordered(s: SparkSession, dir: String): DataFrame = {
    val e = vecs(s, dir)
    // the corpus parquet is one file → one partition, which would run
    // the whole quadratic pass as a single task. Round-robin the STREAM
    // side across the executor slots (a |corpus|-row shuffle of skinny
    // rows — trivial next to the n² dot products it parallelizes) and
    // broadcast the other side: the standard shape for a gated
    // verification stage at any scale.
    val par = s.sessionState.conf.numShufflePartitions
    val a = e.select(col("vec_id").as("id_a"), col("v").as("va"), col("nrm").as("na"))
      .repartition(par)
    val b = e.select(col("vec_id").as("id_b"), col("v").as("vb"), col("nrm").as("nb"))
    a.crossJoin(broadcast(b)).filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"),
        round(dot(col("va"), col("vb")) / (col("na") * col("nb")), 6).as("sim"))
      .filter(col("sim") >= SimThreshold)
  }

  private def simPairs(s: SparkSession, dir: String): DataFrame =
    simPairsUnordered(s, dir).orderBy("id_a", "id_b")

  private val simPairsSql =
    s"""WITH n AS ($vecsSql)
       |SELECT a.vec_id AS id_a, b.vec_id AS id_b, $simSqlExpr AS sim
       |FROM n a JOIN n b ON a.vec_id < b.vec_id
       |WHERE $simSqlExpr >= $SimThreshold
       |ORDER BY id_a, id_b""".stripMargin

  // -------------------------------------------------------------- sim_lsh
  private val LshBands = 4
  private val LshRowsPerBand = 4

  /** The band-`band` signature nibble (4 sign bits of coordinates
    * [4·band, 4·band+4)) — the ONE definition shared by [[lshBands]]
    * and [[simLsh]]'s histogram formulation, so the two cannot drift. */
  private def lshNibble(band: Int): Column =
    (0 until LshRowsPerBand).map { j =>
      when(col("v")(band * LshRowsPerBand + j) > 0, 1 << j).otherwise(0)
    }.reduce(_ + _)

  /** Sign-bit band (band, key) rows per vector: a 16-bit signature from
    * the signs of the first 16 coordinates (axis-aligned random-
    * hyperplane family), banded 4×4 — the shared candidate structure for
    * sim_lsh and dedup_embed. */
  private def lshBands(e: DataFrame): DataFrame = {
    val bandCols = (0 until LshBands).map { band =>
      struct(lit(band).as("band"), lshNibble(band).as("key"))
    }
    e.select(col("vec_id"), explode(array(bandCols: _*)).as("bk"))
      .select(col("vec_id"), col("bk.band"), col("bk.key"))
  }

  private def lshCands(bands: DataFrame): DataFrame =
    bands.as("x").join(bands.as("y"),
        col("x.band") === col("y.band") && col("x.key") === col("y.key") &&
          col("x.vec_id") < col("y.vec_id"))
      .select(col("x.vec_id").as("id_a"), col("y.vec_id").as("id_b"))
      .distinct()

  /** Bucket-size cap for [[lshCandsCapped]]. Within-bucket all-pairs
    * work is Σ min(c, cap)·c/2 ≤ n·cap/2 per band — linear in corpus
    * size with the cap constant, where uncapped it is Σ c²/2 (measured
    * 128M candidate pairs at 20k vectors: sign-bit keys of clustered
    * embeddings are heavily skewed, so "banded" degenerated toward
    * all-pairs/16 — the sf1 rehearsal's one real cliff, 62× at 10×
    * data). At the gate SFs every bucket is under this cap, so results
    * are bit-identical to the uncapped form there. */
  private val LshBucketCap = 1024

  /** Candidate edges with bucket-capped cost — see
    * [[graft.functions.BandedCands]] (measured here at 20k vectors:
    * star+cap reproduces the exact threshold-graph components at 1/65th
    * the candidate count). */
  private[operators] def lshCandsCapped(bands: DataFrame): DataFrame =
    graft.functions.BandedCands.capped(
      bands, "vec_id", "band", "key", LshBucketCap)

  /** LSH bucket structure + recall against the exact threshold pairs.
    *
    * r15 formulation: the candidate SET is never materialized. Two
    * vectors share a band bucket iff their 16-bit signatures agree on
    * ≥1 of the 4 nibbles, so `n_candidate_pairs` follows by
    * inclusion–exclusion over band subsets from the SIGNATURE
    * HISTOGRAM — a ≤2^16-row bounded collect at ANY corpus size —
    * and `n_captured` is a map-side nibble check on the true pairs
    * (broadcast of the per-id signatures). The previous shape
    * materialized the distinct candidate pairs (Σ c² over skewed
    * sign-key buckets — measured 128M pairs at 20k clustered vectors,
    * 164 s of the sf1 bench); this one pays the quadratic ground-truth
    * pass ONLY (which is the point of the query — recall needs exact
    * pairs), plus one linear histogram job. LshSigCountSpec
    * property-pins the histogram algebra equal to the distinct-join
    * count; the DuckDB oracle keeps the declarative distinct-cands
    * restatement, so every gate SF compares the two formulations.
    * At 100 TB recall accounting would run over a sampled pair subset;
    * exact mode is the oracle-comparable one. */
  private def simLsh(s: SparkSession, dir: String): DataFrame = {
    val e = vecs(s, dir)
    // cached: the histogram collect and both join builds below are
    // distinct plans over this frame — uncached they would each rescan
    // the corpus and recompute all 16 nibble expressions
    val sigs = e.select(col("vec_id") +:
      (0 until LshBands).map(b => lshNibble(b).as(s"n$b")): _*).cache()
    val hist = sigs.groupBy((0 until LshBands).map(b => col(s"n$b")): _*)
      .agg(count(lit(1)).as("c")).collect()
    val nVectors = hist.map(_.getLong(LshBands)).sum
    var nCand = 0L
    var nBuckets = 0L
    for (mask <- 1 until (1 << LshBands)) {
      val idx = (0 until LshBands).filter(b => (mask & (1 << b)) != 0)
      val m = scala.collection.mutable.HashMap.empty[Seq[Int], Long]
      hist.foreach { r =>
        val k = idx.map(r.getInt)
        m.update(k, m.getOrElse(k, 0L) + r.getLong(LshBands))
      }
      val pairs = m.valuesIterator.map(c => c * (c - 1) / 2).sum
      nCand += (if (idx.size % 2 == 1) pairs else -pairs)
      if (idx.size == 1) nBuckets += m.size
    }
    val truePairs = simPairsUnordered(s, dir).select("id_a", "id_b").cache()
    val nTrue = truePairs.count()
    val agree = (0 until LshBands)
      .map(b => col(s"a$b") === col(s"b$b")).reduce(_ || _)
    // no broadcast hints: sigs is O(corpus) (one row per vector), so a
    // forced broadcast would put two full copies of the signature table
    // on every executor and cap the operator at the broadcast size
    // limit. truePairs is the small side here; AQE promotes it to a
    // runtime broadcast when it fits and falls back to a shuffle join
    // when it doesn't — the histogram collect above stays the only
    // driver-side structure bounded by construction (≤2^16 rows).
    val nCaptured = truePairs
      .join(sigs.select(col("vec_id").as("id_a") +:
        (0 until LshBands).map(b => col(s"n$b").as(s"a$b")): _*), Seq("id_a"))
      .join(sigs.select(col("vec_id").as("id_b") +:
        (0 until LshBands).map(b => col(s"n$b").as(s"b$b")): _*), Seq("id_b"))
      .filter(agree).count()
    truePairs.unpersist(); sigs.unpersist()
    import s.implicits._
    Seq((nVectors, nBuckets, nCand, nTrue, nCaptured))
      .toDF("n_vectors", "n_buckets", "n_candidate_pairs", "n_true_pairs",
        "n_captured")
  }

  private val simLshSql = {
    val keyExpr = (0 until LshRowsPerBand)
      .map(j => s"(CASE WHEN v[band * $LshRowsPerBand + $j + 1] > 0 " +
        s"THEN ${1 << j} ELSE 0 END)")
      .mkString(" + ")
    s"""WITH n AS ($vecsSql),
       |bands AS (
       |  SELECT vec_id, band, $keyExpr AS key
       |  FROM n, unnest(range(0, $LshBands)) t(band)),
       |cands AS (
       |  SELECT DISTINCT x.vec_id AS id_a, y.vec_id AS id_b
       |  FROM bands x JOIN bands y
       |    ON x.band = y.band AND x.key = y.key AND x.vec_id < y.vec_id),
       |true_pairs AS (
       |  SELECT a.vec_id AS id_a, b.vec_id AS id_b
       |  FROM n a JOIN n b ON a.vec_id < b.vec_id
       |  WHERE $simSqlExpr >= $SimThreshold)
       |SELECT (SELECT count(*) FROM n) AS n_vectors,
       |  (SELECT count(*) FROM (SELECT DISTINCT band, key FROM bands) u)
       |    AS n_buckets,
       |  (SELECT count(*) FROM cands) AS n_candidate_pairs,
       |  (SELECT count(*) FROM true_pairs) AS n_true_pairs,
       |  (SELECT count(*) FROM true_pairs t
       |   WHERE EXISTS (SELECT 1 FROM cands c
       |                 WHERE c.id_a = t.id_a AND c.id_b = t.id_b))
       |    AS n_captured""".stripMargin
  }

  // -------------------------------------------------------------- sim_ivf
  private val NCentroids = 8

  /** First-k centroid vectors collected driver-side (k×dim doubles —
    * tiny), for embedding as literals in map-only argmax expressions. */
  private def firstKCentroids(e: DataFrame): Seq[(Int, Array[Double])] =
    e.filter(col("vec_id") < NCentroids).orderBy("vec_id")
      .select("v").collect()
      .map(_.getSeq[Double](0).toArray).zipWithIndex
      .map { case (v, j) => (j, v) }.toSeq

  /** Corpus → (cell, csim): argmax over the centroid literals as ONE
    * map-side expression — no corpus shuffle (the window-ranking
    * formulation repartitions the whole corpus by vec_id, which is the
    * wrong plan at any scale). Sims are ROUNDED before comparison with
    * ties to the lower cell, matching the oracle's ORDER BY exactly;
    * lexicographic struct max over (s, -j) implements that rule. */
  private def assignCell(e: DataFrame,
      cents: Seq[(Int, Array[Double])]): DataFrame = {
    val scored = cents.map { case (j, c) =>
      val cl = array(c.map(lit): _*)
      val cn = math.sqrt(c.map(x => x * x).sum)
      struct(
        round(dot(col("v"), cl) / (col("nrm") * lit(cn)), 6).as("s"),
        lit(-j).as("nj"))
    }
    e.withColumn("pick", array_max(array(scored: _*)))
      .withColumn("cell", (-col("pick.nj")).cast("int"))
      .withColumn("csim", col("pick.s"))
      .drop("pick")
  }

  /** IVF coarse quantization: centroids = the first [[NCentroids]] vectors
    * (deterministic stand-in for k-means), every vector routed to its
    * max-cosine centroid by the map-only argmax. At scale the cell id
    * becomes the partition key — queries probe only their nearest cells. */
  private def simIvf(s: SparkSession, dir: String): DataFrame = {
    val e = vecs(s, dir)
    assignCell(e, firstKCentroids(e))
      .groupBy("cell")
      .agg(
        count(lit(1)).as("n_members"),
        round(avg("csim"), 6).as("avg_sim"),
        countDistinct("label").as("n_labels"))
      .select(col("cell").cast("long").as("cell"), col("n_members"),
        col("avg_sim"), col("n_labels"))
      .orderBy("cell")
  }

  private val simIvfSql =
    s"""WITH n AS ($vecsSql),
       |sims AS (
       |  SELECT a.vec_id, a.label, b.vec_id AS c_id, $simSqlExpr AS sim
       |  FROM n a JOIN n b ON b.vec_id < $NCentroids),
       |assign AS (
       |  SELECT * FROM (SELECT *, row_number() OVER
       |      (PARTITION BY vec_id ORDER BY sim DESC, c_id ASC) AS rn
       |    FROM sims) r WHERE rn = 1)
       |SELECT c_id AS cell, count(*) AS n_members,
       |  round(avg(sim), 6) AS avg_sim,
       |  count(DISTINCT label) AS n_labels
       |FROM assign GROUP BY c_id ORDER BY cell""".stripMargin

  // -------------------------------------------------------- sim_ivf_kmeans
  private val KmIters = 3

  /** IVF with REAL Lloyd centroids (3 iterations, deterministic first-k
    * init): the honest upgrade over sim_ivf's first-k stand-in. The fixed
    * iteration count makes the fit fully deterministic, so the oracle
    * unrolls the 3 Lloyd steps as chained CTE stages (assign → per-cell
    * per-position mean → next centroids, empty cells keeping the previous
    * centroid) and reproduces the final assignment exactly. */
  private def simIvfKmeans(s: SparkSession, dir: String): DataFrame = {
    val e = vecs(s, dir)
    val cents = graft.functions.KMeansIvf.fit(
      e.select(col("vec_id"), col("v")), "vec_id", "v",
      k = NCentroids, iters = KmIters)
    graft.functions.KMeansIvf.assign(e, "v", cents)
      .groupBy("cell")
      .agg(count(lit(1)).as("n_members"), countDistinct("label").as("n_labels"))
      .orderBy("cell")
  }

  /** The 3 Lloyd iterations unrolled as DuckDB CTEs, ending at `af` (the
    * final assignment) — shared by sim_ivf_kmeans and dedup_semantic.
    * Mirrors [[graft.functions.KMeansIvf.fit]] stage for stage: c0 =
    * first-k init (ordered by vec_id), a{i} = max-cosine assignment
    * against c{i-1} (ties → lower cell), u{i}/c{i} = per-cell
    * per-position member means with empty cells carrying the previous
    * centroid forward, and `af` assigns against c3. */
  private val kmeansAfCtes: String = {
    // rounded like KMeansIvf.assign: raw sims computed from avg()-built
    // centroids are FP-order-sensitive across engines
    def simExpr(cAlias: String): String =
      s"round(list_sum(list_transform(range(1, len(n.v) + 1), " +
        s"i -> n.v[i] * $cAlias.cv[i])) / (n.nrm * " +
        s"sqrt(list_sum(list_transform(range(1, len($cAlias.cv) + 1), " +
        s"i -> $cAlias.cv[i] * $cAlias.cv[i])))), 6)"
    def assignCte(a: String, cPrev: String): String =
      s"""$a AS (
         |  SELECT vec_id, cell FROM (
         |    SELECT n.vec_id, c.cell, row_number() OVER (
         |        PARTITION BY n.vec_id
         |        ORDER BY ${simExpr("c")} DESC, c.cell ASC) AS rn
         |    FROM n CROSS JOIN $cPrev c) r
         |  WHERE rn = 1)""".stripMargin
    def updateCtes(u: String, a: String, cPrev: String, cNew: String): String =
      s"""$u AS (
         |  SELECT cell, pos, avg(x) AS m FROM (
         |    SELECT a.cell, generate_subscripts(n.v, 1) AS pos,
         |      unnest(n.v) AS x
         |    FROM $a a JOIN n ON n.vec_id = a.vec_id) e
         |  GROUP BY cell, pos),
         |$cNew AS (
         |  SELECT cell, list(m ORDER BY pos) AS cv FROM $u GROUP BY cell
         |  UNION ALL
         |  SELECT c.cell, c.cv FROM $cPrev c
         |  WHERE c.cell NOT IN (SELECT cell FROM $u))""".stripMargin
    val iters = (1 to KmIters).map { i =>
      assignCte(s"a$i", s"c${i - 1}") + ",\n" +
        updateCtes(s"u$i", s"a$i", s"c${i - 1}", s"c$i")
    }.mkString(",\n")
    s"""WITH n AS ($vecsSql),
       |c0 AS (
       |  SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INT) AS cell,
       |    v AS cv
       |  FROM (SELECT vec_id, v FROM n ORDER BY vec_id LIMIT $NCentroids) t0),
       |$iters,
       |${assignCte("af", s"c$KmIters")}""".stripMargin
  }

  private val simIvfKmeansSql: String =
    s"""$kmeansAfCtes
       |SELECT a.cell, count(*) AS n_members,
       |  count(DISTINCT n.label) AS n_labels
       |FROM af a JOIN n ON n.vec_id = a.vec_id
       |GROUP BY a.cell ORDER BY a.cell""".stripMargin

  // ------------------------------------------------------- dedup_semantic
  /** SemDeDup (Abbas et al. 2023, arXiv:2303.09540): k-means-cluster the
    * embedding corpus, then compare pairs ONLY within a cluster and drop
    * every vector whose cosine to a lower-id cell-mate reaches
    * [[SemTau]] (the deterministic stand-in for the paper's
    * keep-closest-to-centroid rule). Reuses the sim_ivf_kmeans fit
    * (3 deterministic Lloyd iterations), so the oracle reuses its
    * unrolled CTEs.
    *
    * Scale shape — the whole point of SemDeDup: clustering bounds the
    * quadratic. The pair join shuffles both sides on `cell` and compares
    * within cells only (k centroids → n²/k expected comparisons); the
    * candidate verify is the same codegen'd DotProduct loop as
    * dedup_embed. Output is the per-cell keep/drop census. */
  private val SemTau = 0.8

  private def dedupSemantic(s: SparkSession, dir: String): DataFrame = {
    val e = vecs(s, dir)
    val cents = graft.functions.KMeansIvf.fit(
      e.select(col("vec_id"), col("v")), "vec_id", "v",
      k = NCentroids, iters = KmIters)
    val assigned = graft.functions.KMeansIvf.assign(e, "v", cents)
      .select(col("cell"), col("vec_id"), col("v"), col("nrm"))
      .cache()
    val a = assigned.select(col("cell"), col("vec_id").as("id_a"),
      col("v").as("va"), col("nrm").as("na"))
    val b = assigned.select(col("cell"), col("vec_id").as("id_b"),
      col("v").as("vb"), col("nrm").as("nb"))
    val dropped = a.join(b, Seq("cell"))
      .filter(col("id_a") < col("id_b"))
      .filter(round(dot(col("va"), col("vb")) / (col("na") * col("nb")), 6)
        >= SemTau)
      .select(col("cell"), col("id_b").as("vec_id"))
      .distinct()
      .withColumn("is_dropped", lit(1L))
    assigned
      .join(dropped, Seq("cell", "vec_id"), "left")
      .groupBy("cell")
      .agg(
        count(lit(1)).as("n_members"),
        sum(coalesce(col("is_dropped"), lit(0L))).as("n_dropped"))
      .orderBy("cell")
  }

  private val dedupSemanticSql =
    s"""$kmeansAfCtes,
       |m AS (
       |  SELECT x.cell, a.vec_id, a.v, a.nrm
       |  FROM af x JOIN n a ON a.vec_id = x.vec_id),
       |dropped AS (
       |  SELECT DISTINCT b.vec_id
       |  FROM m a JOIN m b ON a.cell = b.cell AND a.vec_id < b.vec_id
       |  WHERE $simSqlExpr >= $SemTau)
       |SELECT m.cell, count(*) AS n_members,
       |  CAST(sum(CASE WHEN d.vec_id IS NOT NULL THEN 1 ELSE 0 END)
       |    AS BIGINT) AS n_dropped
       |FROM m LEFT JOIN dropped d ON d.vec_id = m.vec_id
       |GROUP BY m.cell ORDER BY m.cell""".stripMargin

  /** The SCALE-path recall accounting: ground truth restricted to a
    * bounded query subset (first [[RecallSample]] vectors vs the whole
    * corpus — one corpus scan per batch, never all-pairs), candidates
    * from the same LSH bands. Benched, not oracle-verified — sim_lsh's
    * exact mode verifies the shared machinery. */
  private val RecallSample = 64

  def simLshSampled(s: SparkSession, dir: String): DataFrame = {
    val e = vecs(s, dir)
    val bands = lshBands(e).cache()
    val cands = lshCands(bands)
      .filter(col("id_a") < RecallSample || col("id_b") < RecallSample)
      .cache()
    // exact pairs touching the sampled queries: broadcast the sample,
    // one corpus scan (linear, not quadratic)
    val q = e.filter(col("vec_id") < RecallSample)
      .select(col("vec_id").as("id_q"), col("v").as("qv"), col("nrm").as("qn"))
    val truePairs = e.crossJoin(broadcast(q))
      .filter(col("vec_id") =!= col("id_q"))
      .select(
        least(col("vec_id"), col("id_q")).as("id_a"),
        greatest(col("vec_id"), col("id_q")).as("id_b"),
        round(dot(col("v"), col("qv")) / (col("nrm") * col("qn")), 6).as("sim"))
      .filter(col("sim") >= SimThreshold)
      .select("id_a", "id_b").distinct().cache()
    val captured = truePairs.join(cands, Seq("id_a", "id_b"), "left_semi")
    val nTrue = truePairs.count()
    val nCaptured = captured.count()
    bands.unpersist(); cands.unpersist(); truePairs.unpersist()
    import s.implicits._
    Seq((RecallSample.toLong, nTrue, nCaptured,
      if (nTrue == 0) 1.0 else nCaptured.toDouble / nTrue))
      .toDF("n_sampled_queries", "n_true_pairs", "n_captured", "recall")
  }

  // ------------------------------------------------------- sim_ivf_search
  private val NProbe = 2

  /** The ANN SEARCH path over the IVF index: each query ranks the
    * centroids, probes its [[NProbe]] nearest cells, and computes exact
    * top-k only within the probed candidates — the standard
    * recall/throughput trade. Centroids broadcast (k×dim literals),
    * corpus assignment is the one full scan, candidate pruning is an
    * equi-join on cell id; at scale the cell id is the partition key, so
    * probing reads only nprobe/k of the corpus. Deterministic first-k
    * centroids keep the oracle exact. */
  private def simIvfSearch(s: SparkSession, dir: String): DataFrame = {
    val e = vecs(s, dir)
    val cents = firstKCentroids(e)
    // corpus → owning cell: map-only argmax, no corpus shuffle
    val assigned = assignCell(e, cents)
      .select(col("vec_id"), col("v"), col("nrm"), col("cell"))
    // queries → nprobe nearest cells (window over the tiny query set)
    val centRows = e.filter(col("vec_id") < NCentroids)
      .select(col("vec_id").as("c_id"), col("v").as("cv"), col("nrm").as("cn"))
    val q = e.filter(col("vec_id") < NQueries)
      .select(col("vec_id").as("q_id"), col("v").as("qv"), col("nrm").as("qn"))
    val probeW = Window.partitionBy("q_id")
      .orderBy(col("qsim").desc, col("c_id").asc)
    val probes = q.crossJoin(broadcast(centRows))
      .select(col("q_id"), col("qv"), col("qn"), col("c_id"),
        round(dot(col("qv"), col("cv")) / (col("qn") * col("cn")), 6)
          .as("qsim"))
      .withColumn("rn", row_number().over(probeW))
      .filter(col("rn") <= NProbe)
      .select(col("q_id"), col("qv"), col("qn"),
        col("c_id").cast("int").as("cell"))
    // exact top-k within probed cells only
    val rankW = Window.partitionBy("q_id")
      .orderBy(col("sim").desc, col("n_id").asc)
    assigned.join(probes, "cell")
      .filter(col("vec_id") =!= col("q_id"))
      .select(col("q_id"), col("vec_id").as("n_id"),
        round(dot(col("v"), col("qv")) / (col("nrm") * col("qn")), 6)
          .as("sim"))
      .groupBy("q_id", "n_id").agg(max("sim").as("sim")) // dedup multi-probe hits
      .withColumn("rank", row_number().over(rankW))
      .filter(col("rank") <= TopK)
      .select(col("q_id"), col("rank").cast("int").as("rank"),
        col("n_id"), col("sim"))
      .orderBy("q_id", "rank")
  }

  private val simIvfSearchSql =
    s"""WITH n AS ($vecsSql),
       |cents AS (SELECT vec_id AS c_id, v AS cv, nrm AS cn FROM n
       |          WHERE vec_id < $NCentroids),
       |assigned AS (
       |  SELECT vec_id, v, nrm, c_id AS cell FROM (
       |    SELECT n.vec_id, n.v, n.nrm, c.c_id, row_number() OVER (
       |        PARTITION BY n.vec_id
       |        ORDER BY round(list_sum(list_transform(range(1, len(n.v) + 1),
       |          i -> n.v[i] * c.cv[i])) / (n.nrm * c.cn), 6) DESC,
       |          c.c_id ASC) AS rn
       |    FROM n CROSS JOIN cents c) t WHERE rn = 1),
       |probes AS (
       |  SELECT q_id, qv, qn, c_id AS cell FROM (
       |    SELECT n.vec_id AS q_id, n.v AS qv, n.nrm AS qn, c.c_id,
       |      row_number() OVER (PARTITION BY n.vec_id
       |        ORDER BY round(list_sum(list_transform(range(1, len(n.v) + 1),
       |          i -> n.v[i] * c.cv[i])) / (n.nrm * c.cn), 6) DESC,
       |          c.c_id ASC) AS rn
       |    FROM n CROSS JOIN cents c WHERE n.vec_id < $NQueries) t
       |  WHERE rn <= $NProbe),
       |cand AS (
       |  SELECT p.q_id, a.vec_id AS n_id,
       |    max(round(list_sum(list_transform(range(1, len(a.v) + 1),
       |      i -> a.v[i] * p.qv[i])) / (a.nrm * p.qn), 6)) AS sim
       |  FROM assigned a JOIN probes p ON a.cell = p.cell
       |  WHERE a.vec_id != p.q_id
       |  GROUP BY p.q_id, a.vec_id)
       |SELECT q_id, CAST(rn AS INT) AS rank, n_id, sim
       |FROM (SELECT *, row_number() OVER (PARTITION BY q_id
       |        ORDER BY sim DESC, n_id ASC) AS rn FROM cand) r
       |WHERE rn <= $TopK
       |ORDER BY q_id, rank""".stripMargin

  // ---------------------------------------------------------- index_persist
  private val IdxBuckets = NCentroids // one bucket per IVF cell

  /** Vector-index PERSISTENCE round-trip (r18 — the ANN sibling of what
    * `bucket_join` proves for fact tables): the IVF index — the centroid
    * codebook plus the cell-assigned postings — is built and written
    * ONCE (postings as a parquet table BUCKETED on the cell id, codebook
    * as a tiny parquet), then re-attached METADATA-ONLY in a FRESH
    * SparkSession (own function registry and temp catalog — the
    * `CREATE TABLE IF NOT EXISTS ... LOCATION` DDL is exactly what a new
    * JVM runs, and in a fresh JVM with a warm stage dir that path is the
    * one actually exercised), and the nprobe search runs entirely from
    * the persisted artifacts. The oracle recomputes the identical search
    * from the RAW vectors, so a drift anywhere in the persist/reload
    * path — array-of-double codec, bucket layout, schema round-trip,
    * cell routing, codebook norms — breaks the hash.
    *
    * Scale shape: bucketing the postings on cell turns IVF's logical
    * cell-locality into PHYSICAL layout. The probe filter
    * `cell IN (probed…)` BUCKET-PRUNES the scan to ~nprobe/k of the
    * corpus (IndexPersistSpec pins SelectedBucketsCount < total on the
    * plan), and the candidate join broadcasts the tiny probe set — the
    * postings never shuffle. At 100 TB the build pass is the single
    * full scan + write, paid once; every search afterwards reads only
    * its probed buckets. The probed-cell collect is bounded by
    * queries × nprobe. */
  private def indexPersist(s: SparkSession, dir: String): DataFrame = {
    val root = graft.Stage.fixture("index_persist", dir,
        s"ivf$NCentroids/$NProbe") { tmp =>
      val e = vecs(s, dir)
      val cents = firstKCentroids(e)
      graft.sources.Bucketing.withScratchTable(s)(
        graft.sources.Bucketing.writeBucketed(
          assignCell(e, cents)
            .select(col("vec_id"), col("v"), col("nrm"), col("cell")),
          _, tmp.resolve("postings").toString, "cell", IdxBuckets))
      writeCodebook(s, cents, tmp)
    }
    ivfPersistedSearch(s, dir, s"graft_ivf_post_${root.getFileName}", root)
  }

  /** The persisted codebook's schema: centroid id, vector and norm. */
  private val CodebookSchema = "c_id INT, cv ARRAY<DOUBLE>, cn DOUBLE"

  /** Write the codebook of an index under `root`: k × dim doubles plus
    * the SAME driver-computed norms [[assignCell]] embeds as literals
    * (left-to-right fold, bit-identical to the oracle's list_sum). */
  private def writeCodebook(s: SparkSession, cents: Seq[(Int, Array[Double])],
      root: java.nio.file.Path): Unit = {
    import s.implicits._
    cents.map { case (j, v) =>
      (j, v.toSeq, math.sqrt(v.map(x => x * x).sum)) }
      .toDF("c_id", "cv", "cn")
      .coalesce(1).write.parquet(root.resolve("codebook").toString)
  }

  /** The reload side shared by index_persist and index_update: a FRESH
    * session re-attaches the bucketed postings metadata-only and runs
    * the nprobe search purely from the persisted artifacts. */
  private def ivfPersistedSearch(s: SparkSession, dir: String,
      postTbl: String, root: java.nio.file.Path): DataFrame = {
    val s2 = s.newSession()
    // keep the bucketed scan ON so the probe IN filter bucket-prunes:
    // the auto-bucketed-scan rule would disable it (the candidate join
    // broadcasts the probes, so nothing exploits the partitioning) and
    // forfeit the pruning with it — session-scoped, s2 is dedicated
    s2.conf.set("spark.sql.sources.bucketing.autoBucketedScan.enabled",
      "false")
    s2.sql((s"""CREATE TABLE IF NOT EXISTS $postTbl
               |(vec_id BIGINT, v ARRAY<DOUBLE>, nrm DOUBLE, cell INT)
               |USING PARQUET CLUSTERED BY (cell)
               |SORTED BY (cell) INTO $IdxBuckets BUCKETS
               |LOCATION '${root.resolve("postings")}'""").stripMargin
      .replace('\n', ' '))
    val cents = s2.read.schema(CodebookSchema)
      .parquet(root.resolve("codebook").toString)
    val q = vecs(s2, dir).filter(col("vec_id") < NQueries)
      .select(col("vec_id").as("q_id"), col("v").as("qv"),
        col("nrm").as("qn"))
    val probeW = Window.partitionBy("q_id")
      .orderBy(col("qsim").desc, col("c_id").asc)
    val probes = q.crossJoin(broadcast(cents))
      .select(col("q_id"), col("qv"), col("qn"), col("c_id"),
        round(dot(col("qv"), col("cv")) / (col("qn") * col("cn")), 6)
          .as("qsim"))
      .withColumn("rn", row_number().over(probeW))
      .filter(col("rn") <= NProbe)
      .select(col("q_id"), col("qv"), col("qn"),
        col("c_id").cast("int").as("cell"))
    // bounded collect (≤ queries × nprobe): the probed-cell set drives
    // the bucket-pruning IN filter on the persisted postings scan
    val probedCells = probes.select("cell").distinct()
      .collect().map(_.getInt(0)).sorted
    val cands = s2.table(postTbl)
      .filter(col("cell").isin(probedCells.map(Int.box): _*))
    val rankW = Window.partitionBy("q_id")
      .orderBy(col("sim").desc, col("n_id").asc)
    cands.join(broadcast(probes), "cell")
      .filter(col("vec_id") =!= col("q_id"))
      .select(col("q_id"), col("vec_id").as("n_id"),
        round(dot(col("v"), col("qv")) / (col("nrm") * col("qn")), 6)
          .as("sim"))
      .groupBy("q_id", "n_id").agg(max("sim").as("sim"))
      .withColumn("rank", row_number().over(rankW))
      .filter(col("rank") <= TopK)
      .select(col("q_id"), col("rank").cast("int").as("rank"),
        col("n_id"), col("sim"))
      .orderBy("q_id", "rank")
  }

  /** Oracle: the identical nprobe search recomputed from the RAW
    * vectors ([[simIvfSearchSql]] verbatim) — equality pins the whole
    * persist/reload path. */
  private val indexPersistSql = simIvfSearchSql

  // ----------------------------------------------------------- index_update
  /** INCREMENTAL index maintenance (r19 — the ANN sibling of
    * `dedup_incremental`'s band-index probe): a real 100 TB pipeline
    * never rebuilds its vector index per ingest batch. The base index
    * (first ~3/4 of the corpus by vec_id) is built and persisted
    * exactly like [[indexPersist]]; the remaining quarter arrives as a
    * NEW BATCH that is routed to cells using the PERSISTED codebook —
    * read back from parquet, not the in-memory one, so the append path
    * exercises the reload codec — and appended to the bucketed
    * postings via `insertInto` (the catalog carries the bucket spec,
    * so appended files land hashed into the SAME bucket layout; a
    * mis-bucketed append would make the probe's bucket-pruned scan
    * MISS batch vectors and break the oracle hash). The search then
    * runs from the updated persisted index in a fresh session.
    *
    * Value-identity argument for the oracle: the codebook inits from
    * vec_id < [[NCentroids]], all of which live in the base slice, and
    * [[assignCell]] routing is pure per-row given the codebook — so
    * (base build + batch append) assigns every vector exactly as one
    * full-corpus build would, and the oracle is the raw-vector nprobe
    * search over the WHOLE corpus ([[simIvfSearchSql]] verbatim).
    *
    * Scale shape: the append is a scan of the BATCH only (map-only
    * cell routing + bucketed write); the base postings are never read,
    * never shuffled, never rewritten. Search cost is unchanged
    * (~nprobe/k of base+batch by physical bucket pruning). */
  private def indexUpdate(s: SparkSession, dir: String): DataFrame = {
    val root = graft.Stage.fixture("index_update", dir,
        s"ivf$NCentroids/$NProbe") { tmp =>
      val e = vecs(s, dir)
      val split = math.max(NCentroids.toLong, e.count() * 3 / 4)
      val base = e.filter(col("vec_id") < split)
      val batch = e.filter(col("vec_id") >= split)
      // ---- base build: identical to index_persist ----
      val cents = firstKCentroids(base)
      writeCodebook(s, cents, tmp)
      graft.sources.Bucketing.withScratchTable(s) { t =>
        graft.sources.Bucketing.writeBucketed(
          assignCell(base, cents)
            .select(col("vec_id"), col("v"), col("nrm"), col("cell")),
          t, tmp.resolve("postings").toString, "cell", IdxBuckets)
        // ---- the append: route the batch from the PERSISTED codebook
        // (k × dim — a bounded reload, the same artifact a new ingest
        // job would attach) and insert into the bucketed postings.
        // insertInto resolves by POSITION against the catalog schema
        // (vec_id, v, nrm, cell) and applies its bucket spec.
        val persistedCents = s.read.schema(CodebookSchema)
          .parquet(tmp.resolve("codebook").toString)
          .select("c_id", "cv").collect()
          .map(r => (r.getInt(0), r.getSeq[Double](1).toArray))
          .sortBy(_._1).toSeq
        assignCell(batch, persistedCents)
          .select(col("vec_id"), col("v"), col("nrm"), col("cell"))
          .write.mode("append").insertInto(t)
      }
    }
    ivfPersistedSearch(s, dir, s"graft_ivf_upd_${root.getFileName}", root)
  }

  /** Oracle: the raw-vector nprobe search over the full (base ∪ batch)
    * corpus — any routing, codec or bucket-layout drift in the append
    * path surfaces as missing/extra candidates and breaks the hash. */
  private val indexUpdateSql = simIvfSearchSql

  // ----------------------------------------------------------- dedup_embed
  private val EmbedDupThreshold = 0.4

  /** Embedding-cosine near-dup DEDUP — the full pipeline shape a
    * training-data run uses: sign-bit LSH candidates with bucket-capped
    * fan-out ([[lshCandsCapped]]: all-pairs in small buckets, star edges
    * to the representative in oversized ones — linear in corpus size) →
    * exact cosine verification on the pruned set → connected components
    * → keep-first clusters (cluster id = min vec_id = the keeper;
    * everything else in the cluster is removable). Per-cluster sizes are
    * the output; the oracle restates them with a recursive transitive-
    * closure CTE over the same capped candidates (the closure is
    * comp²-sized, so the oracle is only tractable at gate SFs — the
    * linear `dedup_embed_edges` oracle covers every stage but the CC at
    * any scale). */
  private def dedupEmbed(s: SparkSession, dir: String): DataFrame = {
    val e = vecs(s, dir).cache()
    // materialize the cache with ONE action before the candidate plan
    // fans out (r19): the capped-candidate structure references e-derived
    // frames ~8 ways, and AQE submits those stage builds concurrently —
    // against a not-yet-materialized cache each build re-executed the
    // cached plan's scan+project as its own job (8 observed at sf0.1;
    // at corpus scale 7 redundant scans).
    e.count()
    val cands = lshCandsCapped(lshBands(e))
    val a = e.select(col("vec_id").as("id_a"), col("v").as("va"), col("nrm").as("na"))
    val b = e.select(col("vec_id").as("id_b"), col("v").as("vb"), col("nrm").as("nb"))
    // cache + materialize the verified edge set BEFORE handing it to the
    // CC loop: connectedComponents derives bidir AND the node frontier
    // from it (four plan references), and the verify join shuffles wide
    // vector rows — uncached it re-executed ~4× (109 s at sf0.1; ~3 s
    // cached)
    val edges = cands.join(a, "id_a").join(b, "id_b")
      .select(col("id_a").as("src"), col("id_b").as("dst"),
        round(dot(col("va"), col("vb")) / (col("na") * col("nb")), 6).as("sim"))
      .filter(col("sim") >= EmbedDupThreshold)
      .select("src", "dst")
      .cache()
    val out = graft.graph.GraphProfiler.componentSizes(edges, "keeper")(
      e.unpersist())
    edges.unpersist()
    out
  }

  /** Shared SQL for the capped candidate structure (mirrors
    * [[lshCandsCapped]] exactly — both sides derive from the same
    * constants). */
  private val cappedCandsSql = {
    val keyExpr = (0 until LshRowsPerBand)
      .map(j => s"(CASE WHEN v[band * $LshRowsPerBand + $j + 1] > 0 " +
        s"THEN ${1 << j} ELSE 0 END)")
      .mkString(" + ")
    s"""bands AS (
       |    SELECT vec_id, band, $keyExpr AS key
       |    FROM n, unnest(range(0, $LshBands)) t(band)),
       |  ${graft.functions.BandedCands.cappedSql(
           "bands", "vec_id", "band", "key", LshBucketCap)},
       |  pairs AS (
       |    SELECT id_a, id_b, $simSqlExpr AS sim FROM cands
       |    JOIN n a ON a.vec_id = cands.id_a
       |    JOIN n b ON b.vec_id = cands.id_b
       |    WHERE $simSqlExpr >= $EmbedDupThreshold)""".stripMargin
  }

  private val dedupEmbedSql =
    s"""SELECT keeper, sz FROM (
       |  WITH RECURSIVE
       |  n AS ($vecsSql),
       |  $cappedCandsSql,
       |  edges AS (
       |    SELECT id_a AS a, id_b AS b FROM pairs
       |    UNION SELECT id_b, id_a FROM pairs),
       |  reach AS (
       |    SELECT a, b FROM edges
       |    UNION
       |    SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a
       |    WHERE e.b != r.a),
       |  comp AS (
       |    SELECT a AS node, least(a, min(b)) AS keeper
       |    FROM reach GROUP BY a)
       |  SELECT keeper, count(*) AS sz
       |  FROM comp GROUP BY 1 HAVING count(*) > 1) t
       |ORDER BY keeper""".stripMargin

  /** The verified near-dup edge set — every stage of dedup_embed except
    * the connected components, with a LINEAR-size oracle (no recursive
    * closure), so it stays DuckDB-checkable at any SF where the cluster
    * oracle's comp²-sized closure is not. */
  private def dedupEmbedEdges(s: SparkSession, dir: String): DataFrame = {
    val e = vecs(s, dir)
    val cands = lshCandsCapped(lshBands(e))
    val a = e.select(col("vec_id").as("id_a"), col("v").as("va"),
      col("nrm").as("na"))
    val b = e.select(col("vec_id").as("id_b"), col("v").as("vb"),
      col("nrm").as("nb"))
    cands.join(a, "id_a").join(b, "id_b")
      .select(col("id_a").as("src"), col("id_b").as("dst"),
        round(dot(col("va"), col("vb")) / (col("na") * col("nb")), 6)
          .as("sim"))
      .filter(col("sim") >= EmbedDupThreshold)
      .orderBy("src", "dst")
  }

  private val dedupEmbedEdgesSql =
    s"""WITH n AS ($vecsSql),
       |  $cappedCandsSql
       |SELECT id_a AS src, id_b AS dst, sim FROM pairs
       |ORDER BY src, dst""".stripMargin

  // --------------------------------------------------------------- sim_pq
  /** Product quantization (Jégou et al. 2011) — THE embedding-compression
    * structure for corpus-scale ANN: split each 64-dim vector into
    * [[PqM]] subvectors, k-means each subspace to [[PqK]] centroids, and
    * store each vector as [[PqM]] 4-bit codes (64 doubles → 4 bytes,
    * 128× smaller). The census reports per-subspace codebook utilization
    * and the quantization error the compression costs.
    *
    * Spark-first shapes: ALL subspaces train together — the subspace
    * index is just another grouping key, so each Lloyd iteration is ONE
    * broadcast join + one (vec, m) partial-agg shuffle + one
    * (m, code, pos)-bounded update aggregate (8×16×8 rows collected),
    * never one job per subspace. Assignment distances round to 6 dp
    * before the argmin with a lower-code tie-break — the same
    * cross-engine determinism contract as [[KMeansIvf.assign]]. */
  private val PqM = 8
  private val PqSubDim = 8
  private val PqK = 16
  private val PqIters = 2

  /** (vec_id, m, sv) subvector view of the corpus. */
  private def pqSubvecs(e: DataFrame): DataFrame =
    e.select(col("vec_id"), posexplode(expr(
      s"transform(sequence(0, ${PqM - 1}), " +
        s"m -> slice(v, m * $PqSubDim + 1, $PqSubDim))")).as(Seq("m", "sv")))

  /** Assignment of every (vec, subspace) to its nearest codebook entry
    * — MAP-ONLY (r18): the codebook rides as ONE nested literal
    * (m → j → subdim) and the argmin is an `array_min` over per-j
    * (d, j) structs inside a single projection, the same shape
    * [[assignCell]] uses for IVF. The pre-r18 form broadcast-joined a
    * codebook DataFrame and combined with min(struct) on a
    * (vec_id, m) groupBy — i.e. it SHUFFLED corpus × M subvector rows
    * once per Lloyd pass plus once for the final assignment, and at
    * 100 TB that exchange of array-carrying rows IS the training cost.
    * Distances round to 6 dp before the argmin with the lower-code
    * tie-break (lexicographic struct min), value-identical to the old
    * form and to the oracle's row_number ordering. */
  private def pqAssign(sv: DataFrame,
      cents: Map[(Int, Int), Array[Double]]): DataFrame = {
    val cb: Seq[Seq[Seq[Double]]] = (0 until PqM).map(m =>
      (0 until PqK).map(j => cents((m, j)).toSeq))
    val cbLit = typedLit(cb)
    val pick = array_min(transform(sequence(lit(0), lit(PqK - 1)), j =>
      struct(
        round(graft.functions.L2Sq(col("sv"),
          element_at(element_at(cbLit, col("m") + 1), j + 1)), 6).as("d"),
        j.as("j"))))
    sv.select(col("vec_id"), col("m"),
      pick.getField("j").cast("int").as("code"),
      pick.getField("d").as("d"), col("sv"))
  }

  /** All [[PqM]] codes of a vector in ONE map-only projection over the
    * corpus row itself — no subvector explode: codes(m) is the same
    * rounded-(d, j) lexicographic argmin as [[pqAssign]]'s pick applied
    * to `slice(v, m·sd+1, sd)`, so the code assignment is expression-
    * identical, just evaluated on n rows instead of n×M exploded rows.
    * Feeds the ADC consumers ([[AdcLut]] gathers per-query distances
    * from the code array in the same projection pipeline). */
  private def pqCodesArr(e: DataFrame,
      cents: Map[(Int, Int), Array[Double]]): DataFrame = {
    val cb: Seq[Seq[Seq[Double]]] = (0 until PqM).map(m =>
      (0 until PqK).map(j => cents((m, j)).toSeq))
    val cbLit = typedLit(cb)
    val codes = transform(sequence(lit(0), lit(PqM - 1)), m => {
      val sub = slice(col("v"), m * PqSubDim + 1, lit(PqSubDim))
      array_min(transform(sequence(lit(0), lit(PqK - 1)), j =>
        struct(
          round(graft.functions.L2Sq(sub,
            element_at(element_at(cbLit, m + 1), j + 1)), 6).as("d"),
          j.as("j")))).getField("j").cast("int")
    })
    e.select(col("vec_id"), codes.as("codes"))
  }

  /** The ADC scan as ONE map-only projection (r19): per corpus row,
    * distances to every query via [[graft.functions.AdcLut]] — a
    * codegen'd M-lookup gather over per-query driver-built tables —
    * exploded to (q_id, vec_id, d) rows. Replaces the pre-r19 shape
    * (decode join against a broadcast codebook + join against broadcast
    * query subvectors + a (q_id, vec_id) aggregation exchange over
    * n×M×Q joined rows); value-identical because the LUT entries are
    * the same left-to-right L2² doubles and the per-pair sum folds in
    * the same ascending-m order the old partial aggregation produced
    * (see AdcLut scaladoc). At 100 TB the compressed-domain scan is now
    * genuinely compressed-domain: codes + tables, no joins, no shuffle
    * until the top-k window. */
  private def pqAdcDistances(e: DataFrame,
      cents: Map[(Int, Int), Array[Double]]): DataFrame = {
    def l2sq(a: Seq[Double], b: Array[Double]): Double = {
      var s = 0.0; var i = 0
      while (i < b.length) { val d = a(i) - b(i); s += d * d; i += 1 }
      s
    }
    val queries = e.filter(col("vec_id") < NQueries)
      .select(col("vec_id"), col("v")).orderBy("vec_id").collect()
    val perQ = array(queries.map { r =>
      val qid = r.getLong(0); val qv = r.getSeq[Double](1)
      val lut = Array.tabulate(PqM * PqK) { i =>
        val m = i / PqK; val j = i % PqK
        l2sq(qv.slice(m * PqSubDim, (m + 1) * PqSubDim), cents((m, j)))
      }
      struct(lit(qid).as("q_id"),
        round(graft.functions.AdcLut(col("codes"), lut), 6).as("d"))
    }: _*)
    pqCodesArr(e, cents)
      .select(col("vec_id"), explode(perQ).as("qd"))
      .select(col("qd.q_id").as("q_id"), col("vec_id"), col("qd.d").as("d"))
      .filter(col("q_id") =!= col("vec_id"))
  }

  /** Lloyd over all subspaces at once; init = subvectors of the first
    * [[PqK]] vec_ids (j = rank order, the p0 contract the oracle
    * mirrors); empty codes carry their previous centroid forward. */
  private def pqTrain(e: DataFrame,
      sv: DataFrame): Map[(Int, Int), Array[Double]] = {
    // ONE bounded collect for the p0 init (r19; was two jobs — an id
    // probe plus a filtered subvector collect): the first-PqK rows by
    // vec_id carry the full vectors, and the subvector slices are pure
    // array slicing — identical doubles driver-side or executor-side.
    // j = rank order by vec_id, the p0 contract the oracle mirrors.
    val init = e.select(col("vec_id"), col("v"))
      .orderBy("vec_id").limit(PqK).collect()
    var cents: Map[(Int, Int), Array[Double]] = init.zipWithIndex.flatMap {
      case (r, j) =>
        val v = r.getSeq[Double](1)
        (0 until PqM).map(m =>
          (m, j) -> v.slice(m * PqSubDim, (m + 1) * PqSubDim).toArray)
    }.toMap
    // pqAssign's literal codebook indexes cents((m, j)) for EVERY
    // j < PqK — a corpus with fewer than PqK vectors would otherwise
    // surface as an unhelpful NoSuchElementException deep in the
    // assignment projection (r18 advice). Fail loudly at init instead.
    require(cents.size == PqM * PqK,
      s"PQ first-$PqK init needs >= $PqK vectors x $PqM subspaces; " +
        s"got ${init.length} init vectors " +
        s"(${cents.size} of ${PqM * PqK} codebook entries)")
    for (_ <- 0 until PqIters) {
      val upd = pqAssign(sv, cents)
        .select(col("m"), col("code"), posexplode(col("sv")).as(Seq("pos", "x")))
        .groupBy("m", "code", "pos").agg(avg("x").as("mu"))
        .collect()
        .groupBy(r => (r.getInt(0), r.getInt(1)))
        .map { case (k, rows) =>
          val arr = new Array[Double](PqSubDim)
          rows.foreach(r => arr(r.getInt(2)) = r.getDouble(3))
          k -> arr
        }
      cents = cents.map { case (k, old) => k -> upd.getOrElse(k, old) }
    }
    cents
  }

  private def simPq(s: SparkSession, dir: String): DataFrame = {
    val e = vecs(s, dir)
    val sv = pqSubvecs(e).cache()
    val cents = pqTrain(e, sv)
    val fin = pqAssign(sv, cents).cache()
    val w = org.apache.spark.sql.expressions.Window.partitionBy("m")
      .orderBy(col("n").desc, col("code").asc)
    val top = fin.groupBy("m", "code").agg(count(lit(1)).as("n"))
      .withColumn("rn", row_number().over(w))
    val out = top.groupBy("m")
      .agg(
        count(lit(1)).as("n_codes_used"),
        max(when(col("rn") === 1, col("code"))).as("top_code"),
        max(when(col("rn") === 1, col("n"))).as("top_code_n"))
      .join(
        fin.groupBy("m").agg(round(avg("d"), 6).as("avg_sq_err")), Seq("m"))
      .orderBy("m")
      .select(col("m").cast("long").as("m"), col("n_codes_used"),
        col("top_code").cast("long").as("top_code"), col("top_code_n"),
        col("avg_sq_err"))
      .localCheckpoint()
    fin.unpersist(); sv.unpersist()
    out
  }

  /** Shared CTE prefix: subvector view, p0 init, the unrolled Lloyd
    * iterations, and the final assignment `af` against `p{PqIters}` —
    * used by both sim_pq's census and sim_pq_search's ADC scan. */
  private val simPqCtes: String = {
    val sd = PqSubDim
    def distExpr(svA: String, cvA: String): String =
      s"round(list_sum(list_transform(range(1, $sd + 1), " +
        s"i -> ($svA[i] - $cvA[i]) * ($svA[i] - $cvA[i]))), 6)"
    def assignCte(a: String, cPrev: String): String =
      s"""$a AS (
         |  SELECT vec_id, m, code, d FROM (
         |    SELECT s.vec_id, s.m, c.j AS code,
         |      ${distExpr("s.sv", "c.cv")} AS d,
         |      row_number() OVER (PARTITION BY s.vec_id, s.m
         |        ORDER BY ${distExpr("s.sv", "c.cv")} ASC, c.j ASC) AS rn
         |    FROM sv s JOIN $cPrev c ON c.m = s.m) r
         |  WHERE rn = 1)""".stripMargin
    def updateCtes(u: String, a: String, cPrev: String, cNew: String): String =
      s"""$u AS (
         |  SELECT m, code, pos, avg(x) AS mu FROM (
         |    SELECT a.m, a.code, generate_subscripts(s.sv, 1) AS pos,
         |      unnest(s.sv) AS x
         |    FROM $a a JOIN sv s ON s.vec_id = a.vec_id AND s.m = a.m) e
         |  GROUP BY 1, 2, 3),
         |$cNew AS (
         |  SELECT m, code AS j, list(mu ORDER BY pos) AS cv
         |  FROM $u GROUP BY 1, 2
         |  UNION ALL
         |  SELECT c.m, c.j, c.cv FROM $cPrev c
         |  WHERE NOT EXISTS (SELECT 1 FROM $u u
         |                    WHERE u.m = c.m AND u.code = c.j))""".stripMargin
    val iters = (1 to PqIters).map { i =>
      assignCte(s"a$i", s"p${i - 1}") + ",\n" +
        updateCtes(s"u$i", s"a$i", s"p${i - 1}", s"p$i")
    }.mkString(",\n")
    s"""WITH n AS ($vecsSql),
       |sv AS (
       |  SELECT vec_id, m,
       |    list_slice(v, m * $sd + 1, m * $sd + $sd) AS sv
       |  FROM n, unnest(range(0, $PqM)) t(m)),
       |p0 AS (
       |  SELECT m,
       |    CAST(row_number() OVER (PARTITION BY m ORDER BY vec_id) - 1
       |      AS INT) AS j,
       |    sv AS cv
       |  FROM sv WHERE vec_id IN
       |    (SELECT vec_id FROM n ORDER BY vec_id LIMIT $PqK)),
       |$iters,
       |${assignCte("af", s"p$PqIters")}""".stripMargin
  }

  private val simPqSql: String =
    s"""$simPqCtes,
       |top AS (
       |  SELECT m, code, count(*) AS cnt,
       |    row_number() OVER (PARTITION BY m
       |      ORDER BY count(*) DESC, code ASC) AS rn
       |  FROM af GROUP BY m, code)
       |SELECT CAST(t.m AS BIGINT) AS m,
       |  count(*) AS n_codes_used,
       |  CAST(max(CASE WHEN rn = 1 THEN code END) AS BIGINT) AS top_code,
       |  max(CASE WHEN rn = 1 THEN cnt END) AS top_code_n,
       |  (SELECT round(avg(d), 6) FROM af WHERE af.m = t.m) AS avg_sq_err
       |FROM top t
       |GROUP BY t.m ORDER BY m""".stripMargin

  // --------------------------------------------------------- sim_pq_search
  /** ADC (asymmetric distance computation) top-k over the PQ codes, with
    * recall against the exact L2 ranking — the accuracy/compression
    * tradeoff a deployment reads before adopting PQ. The query keeps its
    * FULL precision vector; each corpus vector is represented only by
    * its [[PqM]] codes, so a distance is Σ_m ‖q_m − centroid(code_m)‖²
    * — the scan touches 4-bit codes + a broadcast codebook, never the
    * original vectors. Shape: codes join the broadcast codebook, the
    * query batch broadcasts, and the per-(query, vec) distance sum is a
    * partial-agg'd (q_id, vec_id) exchange; ranking is the usual rounded
    * (d, id) window. Exact ground truth is the same gated n×Q scan
    * sim_topk uses. */
  private def simPqSearch(s: SparkSession, dir: String): DataFrame = {
    val e = vecs(s, dir)
    val sv = pqSubvecs(e).cache()
    val cents = pqTrain(e, sv)
    sv.unpersist() // train was its only consumer (r19: ADC reads codes)
    val dm = (a: org.apache.spark.sql.Column, b: org.apache.spark.sql.Column) =>
      graft.functions.L2Sq(a, b)
    // compressed-domain scan: map-only LUT gather (see pqAdcDistances)
    val adc = pqAdcDistances(e, cents)
    val wAdc = org.apache.spark.sql.expressions.Window.partitionBy("q_id")
      .orderBy(col("d").asc, col("vec_id").asc)
    val adcTop = adc.withColumn("rn", row_number().over(wAdc))
      .filter(col("rn") <= TopK).select("q_id", "vec_id")
    val q = broadcast(e.filter(col("vec_id") < NQueries)
      .select(col("vec_id").as("q_id"), col("v").as("qv")))
    val exact = e.select(col("vec_id"), col("v")).crossJoin(q)
      .filter(col("q_id") =!= col("vec_id"))
      .select(col("q_id"), col("vec_id"),
        round(dm(col("qv"), col("v")), 6).as("d"))
    val exactTop = exact.withColumn("rn", row_number().over(wAdc))
      .filter(col("rn") <= TopK).select("q_id", "vec_id")
    adcTop.as("a")
      .join(exactTop.as("x"), Seq("q_id", "vec_id"), "inner")
      .groupBy("q_id").agg(count(lit(1)).as("n_overlap"))
      .join(exactTop.groupBy("q_id").agg(count(lit(1)).as("k")), Seq("q_id"))
      .select(col("q_id"), col("n_overlap"),
        round(col("n_overlap") / col("k"), 4).as("recall"))
      .orderBy("q_id")
      .localCheckpoint()
  }

  private val simPqSearchSql: String = {
    val sd = PqSubDim
    s"""$simPqCtes,
       |dec AS (
       |  SELECT a.vec_id, a.m, c.cv
       |  FROM af a JOIN p$PqIters c ON c.m = a.m AND c.j = a.code),
       |qsv AS (
       |  SELECT vec_id AS q_id, m, sv AS qsv FROM sv
       |  WHERE vec_id < $NQueries),
       |adc AS (
       |  SELECT q_id, vec_id,
       |    round(sum(list_sum(list_transform(range(1, $sd + 1),
       |      i -> (qsv[i] - cv[i]) * (qsv[i] - cv[i])))), 6) AS d
       |  FROM dec JOIN qsv USING (m)
       |  WHERE q_id != vec_id
       |  GROUP BY q_id, vec_id),
       |adc_top AS (
       |  SELECT q_id, vec_id FROM (
       |    SELECT *, row_number() OVER (PARTITION BY q_id
       |      ORDER BY d ASC, vec_id ASC) AS rn FROM adc) r
       |  WHERE rn <= $TopK),
       |exact AS (
       |  SELECT b.vec_id AS q_id, a.vec_id,
       |    round(list_sum(list_transform(range(1, len(a.v) + 1),
       |      i -> (b.v[i] - a.v[i]) * (b.v[i] - a.v[i]))), 6) AS d
       |  FROM n a JOIN n b ON b.vec_id < $NQueries
       |    AND a.vec_id != b.vec_id),
       |exact_top AS (
       |  SELECT q_id, vec_id FROM (
       |    SELECT *, row_number() OVER (PARTITION BY q_id
       |      ORDER BY d ASC, vec_id ASC) AS rn FROM exact) r
       |  WHERE rn <= $TopK)
       |SELECT a.q_id, count(*) AS n_overlap,
       |  round(count(*) * 1.0 / $TopK, 4) AS recall
       |FROM adc_top a JOIN exact_top x
       |  ON x.q_id = a.q_id AND x.vec_id = a.vec_id
       |GROUP BY a.q_id ORDER BY a.q_id""".stripMargin
  }

  // --------------------------------------------------------- sim_pq_rerank
  /** Two-stage retrieval — the PRODUCTION ANN serving shape: the PQ-ADC
    * scan produces a [[RerankShortlist]]-deep candidate list per query
    * (cheap: 4-bit codes + broadcast codebook), then EXACT distances are
    * computed only on the shortlist (|Q|·shortlist pairs, never |Q|·n)
    * and re-ranked to top-[[TopK]]. Reported per query: ADC-only recall
    * vs exact ground truth, and post-rerank recall — the table that
    * justifies the shortlist depth. Shape: the shortlist equi-joins back
    * to the full-precision vectors (a corpus-partitioned hash join keyed
    * on vec_id; at 100 TB the vector store is bucketed on vec_id so this
    * is exchange-free), queries broadcast, ground truth is the same
    * gated n×Q scan sim_topk uses. */
  private val RerankShortlist = 12

  private def simPqRerank(s: SparkSession, dir: String): DataFrame = {
    val e = vecs(s, dir)
    val sv = pqSubvecs(e).cache()
    val cents = pqTrain(e, sv)
    sv.unpersist() // train was its only consumer (r19: ADC reads codes)
    val dm = (a: org.apache.spark.sql.Column, b: org.apache.spark.sql.Column) =>
      graft.functions.L2Sq(a, b)
    // compressed-domain scan: map-only LUT gather (see pqAdcDistances)
    val adc = pqAdcDistances(e, cents)
    val w = org.apache.spark.sql.expressions.Window.partitionBy("q_id")
      .orderBy(col("d").asc, col("vec_id").asc)
    val short = adc.withColumn("rn", row_number().over(w))
      .filter(col("rn") <= RerankShortlist)
      .select("q_id", "vec_id", "rn").cache()
    val q = broadcast(e.filter(col("vec_id") < NQueries)
      .select(col("vec_id").as("q_id"), col("v").as("qv")))
    // exact distances ONLY on the shortlist: equi-join back to vectors
    val rerank = short.join(e.select(col("vec_id"), col("v")), Seq("vec_id"))
      .join(q, Seq("q_id"))
      .select(col("q_id"), col("vec_id"),
        round(dm(col("qv"), col("v")), 6).as("d"))
    val rerankTop = rerank.withColumn("rn", row_number().over(w))
      .filter(col("rn") <= TopK).select("q_id", "vec_id")
    val exact = e.select(col("vec_id"), col("v")).crossJoin(q)
      .filter(col("q_id") =!= col("vec_id"))
      .select(col("q_id"), col("vec_id"),
        round(dm(col("qv"), col("v")), 6).as("d"))
    val exactTop = exact.withColumn("rn", row_number().over(w))
      .filter(col("rn") <= TopK).select("q_id", "vec_id").cache()
    def recallOf(top: DataFrame, name: String): DataFrame =
      exactTop.join(top, Seq("q_id", "vec_id"), "inner")
        .groupBy("q_id").agg(count(lit(1)).as(name))
    val out = e.filter(col("vec_id") < NQueries)
      .select(col("vec_id").as("q_id"))
      .join(recallOf(short.filter(col("rn") <= TopK), "n_adc"),
        Seq("q_id"), "left")
      .join(recallOf(rerankTop, "n_rerank"), Seq("q_id"), "left")
      .select(col("q_id"),
        round(coalesce(col("n_adc"), lit(0L)) / lit(TopK.toDouble), 4)
          .as("recall_adc"),
        round(coalesce(col("n_rerank"), lit(0L)) / lit(TopK.toDouble), 4)
          .as("recall_rerank"))
      .orderBy("q_id")
      .localCheckpoint()
    short.unpersist(); exactTop.unpersist()
    out
  }

  /** Audit twins for PlanAudit: the PQ queries' returned frames are
    * localCheckpoint'd (lineage cut), so `.explain` on them shows a
    * checkpoint scan, not the plan. These rebuild the two
    * scale-relevant pipelines from the same helpers, stopped before any
    * persistence: the ADC compressed-domain scan + top-k, and the
    * shortlist exact re-rank join. pqTrain still runs (bounded
    * codebook; cheap at audit SF). */
  /** Audit twin of the shared PQ ASSIGNMENT stage alone (subvector
    * posexplode + literal-codebook argmin projection over the corpus
    * scan): the whole point of the r18 map-only rewrite is that this
    * stage plans ZERO shuffle exchanges — assignment at 100 TB is a
    * scan, not a shuffle of corpus × M subvector rows. PqPlanSpec pins
    * the property by structural traversal (an r19 verdict ask: the
    * claim previously lived only in SCALING.md prose, so a regression
    * would surface as a bench delta, not a CI failure). pqTrain's own
    * bounded (m, code, pos) update aggregate is out of frame — cents
    * is driver state and pqAssign plans fresh from the scan. */
  private[graft] def pqAssignPlan(s: SparkSession, dir: String): DataFrame = {
    val e = vecs(s, dir)
    val sv = pqSubvecs(e)
    pqAssign(sv, pqTrain(e, sv))
  }

  /** Audit twin of the r19 LUT ADC SCAN alone (code-array projection +
    * per-query [[graft.functions.AdcLut]] gather + explode, stopped
    * before the top-k window): the compressed-domain scan must plan
    * ZERO shuffle exchanges — the pre-r19 shape carried two broadcast
    * joins and a (q_id, vec_id) aggregation exchange here. PqPlanSpec
    * pins it. */
  private[graft] def pqAdcScanPlan(s: SparkSession, dir: String): DataFrame = {
    val e = vecs(s, dir)
    pqAdcDistances(e, pqTrain(e, pqSubvecs(e)))
  }

  private[graft] def pqAdcPlan(s: SparkSession, dir: String): DataFrame = {
    val e = vecs(s, dir)
    val sv = pqSubvecs(e)
    val cents = pqTrain(e, sv)
    val adc = pqAdcDistances(e, cents)
    val w = org.apache.spark.sql.expressions.Window.partitionBy("q_id")
      .orderBy(col("d").asc, col("vec_id").asc)
    adc.withColumn("rn", row_number().over(w))
      .filter(col("rn") <= TopK).select("q_id", "vec_id")
  }

  private[graft] def pqRerankPlan(s: SparkSession, dir: String): DataFrame = {
    val e = vecs(s, dir)
    val w = org.apache.spark.sql.expressions.Window.partitionBy("q_id")
      .orderBy(col("d").asc, col("vec_id").asc)
    val dm = (a: org.apache.spark.sql.Column, b: org.apache.spark.sql.Column) =>
      graft.functions.L2Sq(a, b)
    val short = pqAdcPlan(s, dir).limit(RerankShortlist * NQueries)
    val q = broadcast(e.filter(col("vec_id") < NQueries)
      .select(col("vec_id").as("q_id"), col("v").as("qv")))
    short.join(e.select(col("vec_id"), col("v")), Seq("vec_id"))
      .join(q, Seq("q_id"))
      .select(col("q_id"), col("vec_id"),
        round(dm(col("qv"), col("v")), 6).as("d"))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= TopK).select("q_id", "vec_id")
  }

  private val simPqRerankSql: String = {
    val sd = PqSubDim
    s"""$simPqCtes,
       |dec AS (
       |  SELECT a.vec_id, a.m, c.cv
       |  FROM af a JOIN p$PqIters c ON c.m = a.m AND c.j = a.code),
       |qsv AS (
       |  SELECT vec_id AS q_id, m, sv AS qsv FROM sv
       |  WHERE vec_id < $NQueries),
       |adc AS (
       |  SELECT q_id, vec_id,
       |    round(sum(list_sum(list_transform(range(1, $sd + 1),
       |      i -> (qsv[i] - cv[i]) * (qsv[i] - cv[i])))), 6) AS d
       |  FROM dec JOIN qsv USING (m)
       |  WHERE q_id != vec_id
       |  GROUP BY q_id, vec_id),
       |short AS (
       |  SELECT q_id, vec_id, rn FROM (
       |    SELECT *, row_number() OVER (PARTITION BY q_id
       |      ORDER BY d ASC, vec_id ASC) AS rn FROM adc) r
       |  WHERE rn <= $RerankShortlist),
       |rerank AS (
       |  SELECT s.q_id, s.vec_id,
       |    round(list_sum(list_transform(range(1, len(a.v) + 1),
       |      i -> (b.v[i] - a.v[i]) * (b.v[i] - a.v[i]))), 6) AS d
       |  FROM short s
       |  JOIN n a ON a.vec_id = s.vec_id
       |  JOIN n b ON b.vec_id = s.q_id),
       |rerank_top AS (
       |  SELECT q_id, vec_id FROM (
       |    SELECT *, row_number() OVER (PARTITION BY q_id
       |      ORDER BY d ASC, vec_id ASC) AS rn FROM rerank) r
       |  WHERE rn <= $TopK),
       |exact AS (
       |  SELECT b.vec_id AS q_id, a.vec_id,
       |    round(list_sum(list_transform(range(1, len(a.v) + 1),
       |      i -> (b.v[i] - a.v[i]) * (b.v[i] - a.v[i]))), 6) AS d
       |  FROM n a JOIN n b ON b.vec_id < $NQueries
       |    AND a.vec_id != b.vec_id),
       |exact_top AS (
       |  SELECT q_id, vec_id FROM (
       |    SELECT *, row_number() OVER (PARTITION BY q_id
       |      ORDER BY d ASC, vec_id ASC) AS rn FROM exact) r
       |  WHERE rn <= $TopK)
       |SELECT q.q_id,
       |  round(coalesce((SELECT count(*) FROM exact_top x JOIN short s
       |    ON s.q_id = x.q_id AND s.vec_id = x.vec_id AND s.rn <= $TopK
       |    WHERE x.q_id = q.q_id), 0) / CAST($TopK AS DOUBLE), 4)
       |    AS recall_adc,
       |  round(coalesce((SELECT count(*) FROM exact_top x JOIN rerank_top t
       |    ON t.q_id = x.q_id AND t.vec_id = x.vec_id
       |    WHERE x.q_id = q.q_id), 0) / CAST($TopK AS DOUBLE), 4)
       |    AS recall_rerank
       |FROM (SELECT vec_id AS q_id FROM n WHERE vec_id < $NQueries) q
       |ORDER BY q_id""".stripMargin
  }

  // ----------------------------------------------------------- embed_drift
  /** Embedding-space drift monitor — the dense sibling of `token_drift`:
    * per-slice (label = the batch/model-version analog) centroids
    * compared to the corpus centroid by cosine, the snapshot gate that
    * catches a re-embedded or schema-shifted batch BEFORE it pollutes an
    * ANN index (a slice whose centroid swings away from the global mean
    * is embedded differently, whatever its provenance claims).
    *
    * Float determinism: per-(slice, dim) SUMS are the only
    * order-sensitive accumulation; centroid components are rounded to
    * 6 dp on BOTH engines before any downstream arithmetic, so the
    * cosine/norm algebra runs on identical inputs and the final 6 dp
    * rounding compares stably. The global centroid derives from the
    * per-slice sums (Σ_l s_l / Σ_l n_l) — no second corpus pass.
    *
    * Plan: the corpus×dims explode crosses ONE (slice, dim) exchange,
    * combiner-reduced map-side to ≤ partitions·slices·dims rows;
    * everything downstream is slices×dims arithmetic. At 100 TB the
    * shuffle payload is the reduced partial-sum grid, never vectors. */
  private def embedDrift(s: SparkSession, dir: String): DataFrame = {
    val e = Tables.load(s, dir, "embeddings")
      .select(col("label"),
        posexplode(transform(col("embedding"), x => x.cast("double")))
          .as(Seq("dim", "x")))
    val lc = e.groupBy("label", "dim")
      .agg(sum("x").as("s"), count(lit(1)).as("n"))
    val lm = lc.select(col("label"), col("dim"),
      round(col("s") / col("n"), 6).as("m"), col("n"))
    val gm = lc.groupBy("dim")
      .agg(round(sum("s") / sum("n"), 6).as("g"))
    lm.join(gm, "dim")
      .groupBy("label")
      .agg(
        max("n").as("n_vecs"),
        sum(col("m") * col("g")).as("num"),
        sum(col("m") * col("m")).as("l2l"),
        sum(col("g") * col("g")).as("l2g"))
      .select(col("label"), col("n_vecs"),
        round(sqrt(col("l2l")), 6).as("centroid_norm"),
        round(col("num") / sqrt(col("l2l") * col("l2g")), 6)
          .as("cos_to_global"))
      .orderBy("label")
  }

  private val embedDriftSql =
    """WITH v AS (SELECT label,
      |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
      |  FROM embeddings),
      |e AS (SELECT label, i AS dim, v[i] AS x
      |  FROM v CROSS JOIN range(1, 65) t(i)),
      |lc AS (SELECT label, dim, sum(x) AS s, count(*) AS n
      |  FROM e GROUP BY 1, 2),
      |lm AS (SELECT label, dim, round(s / n, 6) AS m, n FROM lc),
      |gm AS (SELECT dim, round(sum(s) / sum(n), 6) AS g
      |  FROM lc GROUP BY 1),
      |j AS (SELECT label, max(n) AS n_vecs,
      |    sum(m * g) AS num, sum(m * m) AS l2l, sum(g * g) AS l2g
      |  FROM lm JOIN gm USING (dim) GROUP BY 1)
      |SELECT label, CAST(n_vecs AS BIGINT) AS n_vecs,
      |  round(sqrt(l2l), 6) AS centroid_norm,
      |  round(num / sqrt(l2l * l2g), 6) AS cos_to_global
      |FROM j ORDER BY label""".stripMargin

  override val qs: Seq[Q] = Seq(
    Q("embed_drift", embedDrift, Some(embedDriftSql)),
    Q("sim_topk", simTopk, Some(simTopkSql)),
    Q("sim_pq", simPq, Some(simPqSql)),
    Q("sim_pq_search", simPqSearch, Some(simPqSearchSql)),
    Q("sim_pq_rerank", simPqRerank, Some(simPqRerankSql)),
    Q("sim_pairs", simPairs, Some(simPairsSql)),
    Q("sim_lsh", simLsh, Some(simLshSql)),
    Q("sim_ivf", simIvf, Some(simIvfSql)),
    Q("sim_ivf_kmeans", simIvfKmeans, Some(simIvfKmeansSql)),
    Q("dedup_semantic", dedupSemantic, Some(dedupSemanticSql)),
    Q("sim_ivf_search", simIvfSearch, Some(simIvfSearchSql)),
    Q("index_persist", indexPersist, Some(indexPersistSql)),
    Q("index_update", indexUpdate, Some(indexUpdateSql)),
    Q("dedup_embed", dedupEmbed, Some(dedupEmbedSql)),
    Q("dedup_embed_edges", dedupEmbedEdges, Some(dedupEmbedEdgesSql)))
}
