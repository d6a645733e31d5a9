package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables

/** Deduplication operators for training-data pipelines: exact, MinHash+LSH,
  * n-gram Jaccard, SimHash.
  *
  * The oracle-comparable variants hash with md5 (bit-identical across
  * engines); the scale path [[simhashBuckets]] uses xxhash64 (codegen'd,
  * ~10× cheaper) — same algorithm, different hash family.
  *
  * Scale shape: shingling explodes rows but is map-only; MinHash signatures
  * collapse map-side into ONE row of 16 mins per doc (groupBy doc_id with
  * partial aggregation), so the only real shuffle is |docs| wide rows.
  * LSH banding turns the quadratic pair search into an equi-join on
  * (band, signature) — the canonical 100 TB-safe near-dup plan. The exact
  * n-gram Jaccard keeps the inverted-index join for verification on small
  * candidate sets; at scale MinHash prunes first.
  */
object DedupQueries extends QueryModule {

  /** Test corpus: documents plus deterministic exact clones (+100000) and
    * near-duplicate clones (prefix-trimmed, +200000) of doc_id < 20, so
    * dedup operators have known positives to find — identical injection on
    * the DuckDB side. */
  private def corpus(s: SparkSession, dir: String): DataFrame = {
    // ONE scan: each document yields itself, and a doc_id < 20 also its
    // two clones (a union of filtered copies would scan the table once
    // per branch and compile a generated class per branch)
    val (id, text) = (col("doc_id"), col("text"))
    def doc(i: Column, t: Column) = struct(i.as("doc_id"), t.as("text"))
    Tables.load(s, dir, "documents")
      .select(explode(array(doc(id, text),
        when(id < 20, doc(id + 100000, text)),
        when(id < 20, doc(id + 200000, substring(text, 15, 1000000))))).as("d"))
      .filter(col("d").isNotNull)
      .select("d.doc_id", "d.text")
  }

  private val corpusSql =
    """SELECT doc_id, text FROM documents
      |UNION ALL
      |SELECT doc_id + 100000, text FROM documents WHERE doc_id < 20
      |UNION ALL
      |SELECT doc_id + 200000, substr(text, 15, 1000000) FROM documents
      |WHERE doc_id < 20""".stripMargin

  // ---------------------------------------------------------- exact dedup
  /** Exact dedup by content hash, keep-first (min doc_id) semantics:
    * one groupBy on the 128-bit fingerprint. */
  private def dedupExact(s: SparkSession, dir: String): DataFrame =
    corpus(s, dir)
      .select(col("doc_id"), md5(col("text")).as("fp"))
      .groupBy("fp")
      .agg(count(lit(1)).as("c"), min("doc_id").as("keeper"))
      .agg(
        sum("c").as("n_before"),
        count(lit(1)).as("n_after"),
        (sum("c") - count(lit(1))).as("n_removed"),
        sum(when(col("keeper") < 100000, 1L).otherwise(0L))
          .as("n_keepers_original"))

  private val dedupExactSql =
    s"""SELECT CAST(sum(c) AS BIGINT) AS n_before, count(*) AS n_after,
       |  CAST(sum(c) - count(*) AS BIGINT) AS n_removed,
       |  CAST(sum(CASE WHEN keeper < 100000 THEN 1 ELSE 0 END) AS BIGINT)
       |    AS n_keepers_original
       |FROM (SELECT md5(text) AS fp, count(*) AS c, min(doc_id) AS keeper
       |      FROM ($corpusSql) corpus GROUP BY 1) g""".stripMargin

  // ------------------------------------------------------- MinHash + LSH
  private val NumPerm = 16
  private[operators] val NumBands = 4 // 4 rows per band

  /** MinHash signatures: 16 permutations from ONE hash per shingle via
    * the universal family `h_p = (a + p·b) mod 2³²`, where a/b are the
    * hash's two 32-bit halves (b forced odd for mixing); the permutations
    * are two integer ops each. No distinct before the min-aggregation
    * (min over duplicates ≡ min over the distinct set), so the only
    * shuffle is the |docs|-row partial-agg exchange.
    *
    * Hash family: the DEFAULT (scale path) is xxhash64 — codegen'd,
    * ~10× cheaper per shingle than md5's ~1µs DigestUtils call. The
    * oracle-checked queries pass `useMd5 = true` because only md5 is
    * bit-reproducible in DuckDB; same algorithm either way. */
  private[operators] def minhashWide(c: DataFrame, useMd5: Boolean = false): DataFrame = {
    // signatures are DOCUMENT-LOCAL: the fused MinHashSig expression
    // walks each document's bytes once and keeps the 16 running minima
    // in a local array, so the signature pass is map-only — no shingle
    // explode, no per-shingle hash projection, no 16-column min
    // exchange. The first shuffle in the MinHash pipeline now carries
    // one 16-long row per document instead of one row per shingle.
    graft.functions.MinHashSig.register(c.sparkSession)
    c.select(col("doc_id"),
        graft.functions.MinHashSig(col("text"), useMd5).as("s"))
      .select(col("doc_id") +:
        (0 until NumPerm).map(p => col("s").getItem(p).as(s"mh$p")): _*)
  }

  private[operators] def minhashWideSql(corpus: String): String = {
    val mins = (0 until NumPerm)
      .map(p => s"min((a + $p * b) % 4294967296) AS mh$p")
      .mkString(",\n    ")
    s"""SELECT doc_id,
       |    $mins
       |  FROM (SELECT doc_id,
       |          CAST(concat('0x', substr(md5(sh), 1, 8)) AS BIGINT) AS a,
       |          CAST(concat('0x', substr(md5(sh), 9, 8)) AS BIGINT) | 1 AS b
       |        FROM (SELECT doc_id,
       |                unnest([substr(text, i, 5)
       |                        FOR i IN range(1, greatest(length(text) - 4, 1) + 1)]) AS sh
       |              FROM ($corpus) corpus) s) ab
       |  GROUP BY doc_id""".stripMargin
  }

  /** LSH candidate pairs + MinHash-estimated Jaccard ≥ 0.5 over a cached
    * signature table. Banding: 4 bands of 4 rows; pairs sharing any band
    * signature are candidates (equi-join on (band, sig) — no quadratic
    * scan). */
  /** Banded signatures of a wide MinHash table: one (doc_id, band, sig)
    * row per band — the bucket key both the within-corpus pair join and
    * the cross-corpus index probe equi-join on. */
  private[operators] def bandsOf(wide: DataFrame): DataFrame = {
    val bandCols = (0 until NumBands).map { b =>
      val sig = md5(concat_ws("|",
        (0 until 4).map(r => col(s"mh${b * 4 + r}")): _*))
      struct(lit(b).as("band"), sig.as("sig"))
    }
    wide.select(col("doc_id"), explode(array(bandCols: _*)).as("bs"))
      .select(col("doc_id"), col("bs.band"), col("bs.sig"))
  }

  /** MinHash-estimated Jaccard ≥ 0.5 verification of a candidate edge
    * set (columns doc_a, doc_b) against the signature table. */
  private def minhashVerify(wide: DataFrame, cands: DataFrame): DataFrame = {
    val a = wide.toDF(("doc_id" +: (0 until NumPerm).map(p => s"a$p")): _*)
    val b = wide.toDF(("doc_id" +: (0 until NumPerm).map(p => s"b$p")): _*)
    val estExpr = (0 until NumPerm)
      .map(p => when(col(s"a$p") === col(s"b$p"), 1.0).otherwise(0.0))
      .reduce(_ + _) / NumPerm.toDouble
    cands
      .join(a, cands("doc_a") === a("doc_id")).drop("doc_id")
      .join(b, cands("doc_b") === b("doc_id")).drop("doc_id")
      .select(col("doc_a"), col("doc_b"), round(estExpr, 4).as("est_jaccard"))
      .filter(col("est_jaccard") >= 0.5)
  }

  private def minhashPairs(wide: DataFrame): DataFrame = {
    val bands = bandsOf(wide)
    val cands = bands.as("x").join(bands.as("y"),
        col("x.band") === col("y.band") && col("x.sig") === col("y.sig") &&
          col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"))
      .distinct()
    minhashVerify(wide, cands)
  }

  private def dedupMinhash(s: SparkSession, dir: String): DataFrame = {
    val wide = graft.functions.cacheOnce(minhashWide(corpus(s, dir), useMd5 = true))
    // materialize eagerly: `wide` (the expensive shingle+md5 pass) feeds
    // THREE subtrees of the pair plan (bands + both est-join sides);
    // without this the first job may compute it up to 3x before the
    // cache is populated
    wide.count()
    minhashPairs(wide).orderBy("doc_a", "doc_b")
  }

  /** The PRODUCTION MinHash path (xxhash64 family) — same plan as
    * `dedup_minhash`, ~10× cheaper per shingle. Not oracle-comparable
    * (DuckDB has no xxhash64), so it is benched, not verified; the md5
    * query above verifies the shared algorithm. */
  def dedupMinhashXx(s: SparkSession, dir: String): DataFrame = {
    val wide = graft.functions.cacheOnce(minhashWide(corpus(s, dir)))
    wide.count()
    minhashPairs(wide).orderBy("doc_a", "doc_b")
  }

  private def minhashPairsSql(corpus: String): String = {
    val bandSigs = (0 until NumBands).map { b =>
      val cat = (0 until 4).map(r => s"mh${b * 4 + r}").mkString(" || '|' || ")
      s"SELECT doc_id, $b AS band, md5($cat) AS sig FROM wide"
    }.mkString("\nUNION ALL\n")
    val est = (0 until NumPerm)
      .map(p => s"CASE WHEN a.mh$p = b.mh$p THEN 1.0 ELSE 0.0 END")
      .mkString(" + ")
    s"""WITH wide AS (
       |${minhashWideSql(corpus)}),
       |bands AS (
       |$bandSigs),
       |cands AS (
       |  SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b
       |  FROM bands x JOIN bands y
       |    ON x.band = y.band AND x.sig = y.sig AND x.doc_id < y.doc_id)
       |SELECT doc_a, doc_b,
       |  round(($est) / ${NumPerm}.0, 4) AS est_jaccard
       |FROM cands
       |JOIN wide a ON cands.doc_a = a.doc_id
       |JOIN wide b ON cands.doc_b = b.doc_id
       |WHERE round(($est) / ${NumPerm}.0, 4) >= 0.5""".stripMargin
  }

  private val dedupMinhashSql =
    minhashPairsSql(corpusSql) + "\nORDER BY doc_a, doc_b"

  // --------------------------------------------------- dedup_incremental
  /** Incremental (cross-corpus) dedup — how a standing 100 TB pipeline
    * actually dedups: the existing corpus is held as a PERSISTED band
    * index (at scale: a table bucketed on (band, sig) that new batches
    * probe without ever rescanning old text), and each arriving batch
    * computes its signatures map-only and LEFT SEMI joins the index —
    * a flagged doc shares at least one LSH band bucket with something
    * already ingested. Here the index/batch split is doc_id parity over
    * the same fixture corpus; the census is one row: index size, batch
    * size, how many batch docs the index flags, how many are admitted.
    * No all-pairs stage anywhere — the probe is an equi-join on the
    * band key, so batch cost is independent of corpus size. */
  private def dedupIncremental(s: SparkSession, dir: String): DataFrame = {
    val wide = graft.functions.cacheOnce(minhashWide(corpus(s, dir), useMd5 = true))
    wide.count()
    val bands = bandsOf(wide)
    val idx = bands.filter(col("doc_id") % 2 === 0)
    val batch = bands.filter(col("doc_id") % 2 =!= 0)
    val flagged = batch
      .join(idx.select("band", "sig").distinct(), Seq("band", "sig"),
        "left_semi")
      .agg(count_distinct(col("doc_id")).as("n_flagged"))
    val sides = wide.agg(
      coalesce(sum(when(col("doc_id") % 2 === 0, 1L).otherwise(0L)), lit(0L)).as("n_index"),
      coalesce(sum(when(col("doc_id") % 2 =!= 0, 1L).otherwise(0L)), lit(0L)).as("n_batch"))
    val out = sides.crossJoin(flagged)
      .select(col("n_index"), col("n_batch"), col("n_flagged"),
        (col("n_batch") - col("n_flagged")).as("n_admitted"))
      .localCheckpoint()
    wide.unpersist()
    out
  }

  private val dedupIncrementalSql = {
    val bandSigs = (0 until NumBands).map { b =>
      val cat = (0 until 4).map(r => s"mh${b * 4 + r}").mkString(" || '|' || ")
      s"SELECT doc_id, $b AS band, md5($cat) AS sig FROM wide"
    }.mkString("\nUNION ALL\n")
    s"""WITH wide AS (
       |${minhashWideSql(corpusSql)}),
       |bands AS (
       |$bandSigs),
       |flagged AS (
       |  SELECT count(DISTINCT x.doc_id) AS n_flagged
       |  FROM bands x WHERE x.doc_id % 2 != 0 AND EXISTS (
       |    SELECT 1 FROM bands y
       |    WHERE y.doc_id % 2 = 0 AND y.band = x.band AND y.sig = x.sig))
       |SELECT
       |  (SELECT CAST(count(*) AS BIGINT) FROM wide WHERE doc_id % 2 = 0)
       |    AS n_index,
       |  (SELECT CAST(count(*) AS BIGINT) FROM wide WHERE doc_id % 2 != 0)
       |    AS n_batch,
       |  CAST(n_flagged AS BIGINT) AS n_flagged,
       |  CAST((SELECT count(*) FROM wide WHERE doc_id % 2 != 0) - n_flagged
       |    AS BIGINT) AS n_admitted
       |FROM flagged""".stripMargin
  }

  // -------------------------------------------------------- dedup_clusters
  /** Near-duplicate CLUSTERS with keep-first semantics — the composite a
    * real pipeline runs: MinHash pairs → connected components (the graph
    * module's min-label propagation) → per-cluster size with the minimum
    * doc_id as the keeper/cluster id. Restricted to doc_id%100000 < 100
    * so the pair stage stays a small slice of the corpus; at scale the
    * full pair set feeds the same CC loop (shuffle per round keyed on
    * doc id). The oracle states the same clusters via a recursive
    * transitive-closure CTE. */
  private val ClusterSlice = 100

  private def dedupClusters(s: SparkSession, dir: String): DataFrame = {
    val c = corpus(s, dir).filter(col("doc_id") % 100000 < ClusterSlice)
    val wide = graft.functions.cacheOnce(minhashWide(c, useMd5 = true))
    wide.count()
    // cached: the CC loop references the edge plan four times (bidir
    // union branches + node frontier)
    val edges = minhashPairs(wide)
      .select(col("doc_a").as("src"), col("doc_b").as("dst"))
      .transform(graft.functions.cacheOnce)
    val out = graft.graph.GraphProfiler.componentSizes(edges, "cluster_id")(
      wide.unpersist())
    edges.unpersist()
    out
  }

  private val dedupClustersSql = {
    val sliced =
      s"SELECT * FROM ($corpusSql) cx WHERE doc_id % 100000 < $ClusterSlice"
    s"""SELECT cluster_id, sz FROM (
       |  WITH RECURSIVE
       |  pairs AS (
       |    SELECT doc_a, doc_b FROM (
       |${minhashPairsSql(sliced)}) p),
       |  edges AS (
       |    SELECT doc_a AS a, doc_b AS b FROM pairs
       |    UNION SELECT doc_b, doc_a FROM pairs),
       |  reach AS (
       |    SELECT a, b FROM edges
       |    UNION
       |    SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a
       |    WHERE e.b != r.a),
       |  comp AS (
       |    SELECT a AS node, least(a, min(b)) AS cluster
       |    FROM reach GROUP BY a)
       |  SELECT cluster AS cluster_id, count(*) AS sz
       |  FROM comp GROUP BY 1 HAVING count(*) > 1) t
       |ORDER BY cluster_id""".stripMargin
  }

  // -------------------------------------------- dedup_minhash_clusters
  /** Bucket cap for the full-corpus cluster dedup — see
    * [[graft.functions.BandedCands]]. 128 (vs the embedding path's 1024)
    * because a shared (band, sig) here means four equal minhash values —
    * far stronger evidence of near-duplication than a 4-bit sign key, so
    * the star fallback engages earlier at negligible recall cost
    * (measured: cap 1024 → 35.3M within-bucket verifications at sf5,
    * cap 128 → ~7M; gate-SF buckets max out at 88, so results there are
    * identical to the uncapped form either way). */
  private val MinhashBucketCap = 128

  /** FULL-corpus MinHash near-dup CLUSTERS — the C4/RefinedWeb pipeline
    * shape that actually runs at 100 TB. `dedup_minhash` enumerates the
    * verified PAIR list, whose size is Ω(Σ m²) over near-dup groups of
    * size m — at sf5 the template corpus yields 6.7M true pairs from
    * 250k docs, so the pair form is inherently quadratic on
    * duplicate-heavy data no matter how candidates are pruned (it is the
    * verification/audit stage). This query is the scalable product:
    * bucket-capped candidates ([[graft.functions.BandedCands]]: all
    * pairs in small (band, sig) buckets, star edges to the bucket min in
    * oversized ones — Σ min(c,cap)·c/2 ≤ n·cap/2 per band), Jaccard
    * verification on that linear-size set, pointer-jumping connected
    * components, (cluster_id = min doc_id = keeper, size) output — n
    * rows at most, never the pair list. */
  private def dedupMinhashClusters(s: SparkSession, dir: String): DataFrame =
    minhashClustersImpl(s, dir, useMd5 = true)

  /** Production twin of `dedup_minhash_clusters` (xxhash64 signature
    * family — same plan, no md5; benched, not oracle-verified, exactly
    * like `dedup_minhash_xx`). */
  def dedupMinhashClustersXx(s: SparkSession, dir: String): DataFrame =
    minhashClustersImpl(s, dir, useMd5 = false)

  private def minhashClustersImpl(s: SparkSession, dir: String,
      useMd5: Boolean): DataFrame = {
    // cached: bands and both verify sides read it. Its first reader is
    // the bucket census, a single action that materializes the cache
    // before the candidate plan fans out
    val wide = graft.functions.cacheOnce(minhashWide(corpus(s, dir), useMd5))
    val cands = graft.functions.BandedCands
      .capped(bandsOf(wide), "doc_id", "band", "sig", MinhashBucketCap)
      .select(col("id_a").as("doc_a"), col("id_b").as("doc_b"))
    val edges = minhashVerify(wide, cands)
      .select(col("doc_a").as("src"), col("doc_b").as("dst"))
      .transform(graft.functions.cacheOnce)
    val out = graft.graph.GraphProfiler.componentSizes(edges, "cluster_id")(
      wide.unpersist())
    edges.unpersist()
    out
  }

  private val dedupMinhashClustersSql = {
    val bandSigs = (0 until NumBands).map { b =>
      val cat = (0 until 4).map(r => s"mh${b * 4 + r}").mkString(" || '|' || ")
      s"    SELECT doc_id, $b AS band, md5($cat) AS sig FROM wide"
    }.mkString("\nUNION ALL\n")
    val est = (0 until NumPerm)
      .map(p => s"CASE WHEN a.mh$p = b.mh$p THEN 1.0 ELSE 0.0 END")
      .mkString(" + ")
    s"""SELECT cluster_id, sz FROM (
       |  WITH RECURSIVE
       |  wide AS (
       |${minhashWideSql(corpusSql)}),
       |  bands AS (
       |$bandSigs),
       |  ${graft.functions.BandedCands.cappedSql(
           "bands", "doc_id", "band", "sig", MinhashBucketCap)},
       |  pairs AS (
       |    SELECT id_a AS doc_a, id_b AS doc_b FROM cands
       |    JOIN wide a ON cands.id_a = a.doc_id
       |    JOIN wide b ON cands.id_b = b.doc_id
       |    WHERE round(($est) / ${NumPerm}.0, 4) >= 0.5),
       |  edges AS (
       |    SELECT doc_a AS a, doc_b AS b FROM pairs
       |    UNION SELECT doc_b, doc_a FROM pairs),
       |  reach AS (
       |    SELECT a, b FROM edges
       |    UNION
       |    SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a
       |    WHERE e.b != r.a),
       |  comp AS (
       |    SELECT a AS node, least(a, min(b)) AS cluster
       |    FROM reach GROUP BY a)
       |  SELECT cluster AS cluster_id, count(*) AS sz
       |  FROM comp GROUP BY 1 HAVING count(*) > 1) t
       |ORDER BY cluster_id""".stripMargin
  }

  // ----------------------------------------------------- n-gram Jaccard
  /** Exact 3-gram Jaccard via inverted-index join, restricted to a small
    * candidate universe (doc_id < 60 plus their near-clones). This is the
    * verification stage that follows MinHash pruning at scale — the join
    * row count is Σ_shingle df², which is why it never runs unpruned on
    * the full corpus. */
  private def dedupNgram(s: SparkSession, dir: String): DataFrame = {
    val c = corpus(s, dir)
      .filter(col("doc_id") % 100000 < 60)
    val sh = c.select(col("doc_id"),
      explode(transform(
        sequence(lit(1), greatest(length(col("text")) - 2, lit(1))),
        i => col("text").substr(i, lit(3)))).as("sh"))
      .distinct()
    val sizes = sh.groupBy("doc_id").agg(count(lit(1)).as("sz"))
    val inter = sh.as("x").join(sh.as("y"),
        col("x.sh") === col("y.sh") && col("x.doc_id") < col("y.doc_id"))
      .groupBy(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"))
      .agg(count(lit(1)).as("inter"))
    val sa = sizes.toDF("doc_a", "sz_a")
    val sb = sizes.toDF("doc_b", "sz_b")
    inter.join(sa, "doc_a").join(sb, "doc_b")
      .select(col("doc_a"), col("doc_b"),
        round(col("inter").cast("double") /
          (col("sz_a") + col("sz_b") - col("inter")), 6).as("jaccard"))
      .filter(col("jaccard") >= 0.5)
      .orderBy("doc_a", "doc_b")
  }

  private val dedupNgramSql =
    s"""WITH c AS (SELECT * FROM ($corpusSql) corpus WHERE doc_id % 100000 < 60),
       |sh AS (SELECT DISTINCT doc_id,
       |         unnest([substr(text, i, 3)
       |                 FOR i IN range(1, greatest(length(text) - 2, 1) + 1)]) AS sh
       |       FROM c),
       |sizes AS (SELECT doc_id, count(*) AS sz FROM sh GROUP BY 1),
       |inter AS (
       |  SELECT x.doc_id AS doc_a, y.doc_id AS doc_b, count(*) AS inter
       |  FROM sh x JOIN sh y ON x.sh = y.sh AND x.doc_id < y.doc_id
       |  GROUP BY 1, 2)
       |SELECT doc_a, doc_b,
       |  round(CAST(inter AS DOUBLE) / (sa.sz + sb.sz - inter), 6) AS jaccard
       |FROM inter
       |JOIN sizes sa ON inter.doc_a = sa.doc_id
       |JOIN sizes sb ON inter.doc_b = sb.doc_id
       |WHERE round(CAST(inter AS DOUBLE) / (sa.sz + sb.sz - inter), 6) >= 0.5
       |ORDER BY doc_a, doc_b""".stripMargin

  // -------------------------------------------------------------- SimHash
  /** 64-bit SimHash over token xxhash64 values: per token-hash bit j the
    * doc accumulates ±1; the sign vector packs into a long. Bucketing on
    * the top-16-bit prefix gives the candidate structure. This is the
    * SCALE path (xxhash64 is codegen'd, ~10× cheaper than md5); the
    * registered `dedup_simhash` query below derives the 64 bits from md5
    * instead so the DuckDB oracle can reproduce them bit-for-bit. */
  def simhashBuckets(s: SparkSession, dir: String): DataFrame = {
    val c = corpus(s, dir)
    val tok = c.select(col("doc_id"),
      explode(split(col("text"), " ")).as("w"))
      .select(col("doc_id"), xxhash64(col("w")).as("h"))
    val bitSums = (0 until 64).map(j =>
      sum(when(shiftright(col("h"), j).bitwiseAND(1) === 1, 1).otherwise(-1))
        .as(s"s$j"))
    val sim = tok.groupBy("doc_id").agg(bitSums.head, bitSums.tail: _*)
      .select(col("doc_id"),
        (0 until 64).map(j =>
          when(col(s"s$j") > 0, shiftleft(lit(1L), j)).otherwise(0L))
          .reduce(_.bitwiseOR(_)).as("simhash"))
    sim.groupBy(shiftright(col("simhash"), 48).as("bucket"))
      .agg(count(lit(1)).as("n_docs"))
      .agg(
        sum("n_docs").as("n_docs"),
        count(lit(1)).as("n_buckets"),
        max("n_docs").as("max_bucket"),
        sum(col("n_docs") * (col("n_docs") - 1) / 2).as("n_candidate_pairs"))
  }

  /** Oracle-comparable SimHash: same ±1 bit-sum algorithm, but the 64
    * token-hash bits come from the md5 digest's two 32-bit halves (hi =
    * hex[1..8], lo = hex[9..16]; bit j reads lo for j<32, hi for j≥32) —
    * both engines compute identical digests, so the final buckets match
    * exactly. The bucket id is rebuilt from the top 16 sign bits as a
    * non-negative int (no signed-long shift semantics to align). */
  private def simhashMd5(s: SparkSession, dir: String): DataFrame = {
    val c = corpus(s, dir)
    graft.functions.Md5AB.register(s)
    val tok = c.select(col("doc_id"), explode(split(col("text"), " ")).as("w"))
      .withColumn("ab", graft.functions.Md5AB(col("w")))
      .select(col("doc_id"),
        col("ab").getItem(0).as("hi"), col("ab").getItem(1).as("lo"))
    val bitSums = (0 until 64).map { j =>
      val src = if (j < 32) shiftright(col("lo"), j)
        else shiftright(col("hi"), j - 32)
      sum(when(src.bitwiseAND(1) === 1, 1).otherwise(-1)).as(s"s$j")
    }
    val sim = tok.groupBy("doc_id").agg(bitSums.head, bitSums.tail: _*)
      .select(col("doc_id"),
        (0 until 16).map(j =>
          when(col(s"s${48 + j}") > 0, lit(1L << j)).otherwise(0L))
          .reduce(_ + _).as("bucket"))
    sim.groupBy("bucket")
      .agg(count(lit(1)).as("n_docs"))
      .agg(
        sum("n_docs").as("n_docs"),
        count(lit(1)).as("n_buckets"),
        max("n_docs").as("max_bucket"),
        sum((col("n_docs") * (col("n_docs") - 1) / 2).cast("long"))
          .as("n_candidate_pairs"))
  }

  private val simhashMd5Sql = {
    val sums = (0 until 64).map { j =>
      val src = if (j < 32) s"(lo >> $j)" else s"(hi >> ${j - 32})"
      s"sum(CASE WHEN ($src & 1) = 1 THEN 1 ELSE -1 END) AS s$j"
    }.mkString(",\n    ")
    val bucket = (0 until 16)
      .map(j => s"(CASE WHEN s${48 + j} > 0 THEN ${1L << j} ELSE 0 END)")
      .mkString(" + ")
    s"""WITH tok AS (
       |  SELECT doc_id,
       |    CAST(concat('0x', substr(h, 1, 8)) AS BIGINT) AS hi,
       |    CAST(concat('0x', substr(h, 9, 8)) AS BIGINT) AS lo
       |  FROM (SELECT doc_id, md5(w) AS h
       |        FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS w
       |              FROM ($corpusSql) corpus) t0) t),
       |sums AS (
       |  SELECT doc_id,
       |    $sums
       |  FROM tok GROUP BY doc_id),
       |sim AS (SELECT doc_id, $bucket AS bucket FROM sums),
       |b AS (SELECT bucket, count(*) AS n_docs FROM sim GROUP BY bucket)
       |SELECT CAST(sum(n_docs) AS BIGINT) AS n_docs,
       |  count(*) AS n_buckets,
       |  max(n_docs) AS max_bucket,
       |  CAST(sum(n_docs * (n_docs - 1) / 2) AS BIGINT) AS n_candidate_pairs
       |FROM b""".stripMargin
  }

  // ------------------------------------------------------------ dedup_lines
  /** Chunk-level exact dedup — the C4 recipe's "deduplicate at the line
    * level" step (Raffel et al. 2020 §2.2 dedupe three-sentence spans;
    * the synthetic corpus has no newlines, so the chunk unit is a
    * non-overlapping [[LineChunkWords]]-word window). Every document
    * splits map-side into word chunks; one hash groupBy on the chunk
    * string counts copies; the tiny second aggregate reports the
    * duplication histogram: for each copy-count, how many distinct
    * chunks, how many instances, and the chars a keep-first pass saves.
    *
    * Scale shape: the explode is map-only; the only corpus-sized shuffle
    * is (chunk → partial count) with map-side combine, bounded by the
    * distinct-chunk universe — exactly the exact-dedup shape that ran on
    * C4's 750 GB. The histogram shuffle is ≤ max-copy-count keys. */
  private val LineChunkWords = 3

  private def dedupLines(s: SparkSession, dir: String): DataFrame = {
    graft.functions.WordGrams.register(s)
    val d = Tables.load(s, dir, "documents").select("doc_id", "text")
    val k = LineChunkWords
    // codegen'd chunk build (WordGrams stride = n), replacing the
    // interpreted transform/slice HOF chain — same floor((len-1)/k)+1
    // chunk count and clamp-at-end semantics, property-tested in
    // WordGramsSpec. Raw split (empties KEPT) — chunk identity counts
    // empty words, unlike the n-gram operators.
    val chunks = graft.functions.WordGrams(
      split(col("text"), " "), k, k, dedup = false)
    d.select(explode(chunks).as("chunk"))
      .groupBy("chunk")
      .agg(count(lit(1)).as("c"), max(length(col("chunk"))).as("len"))
      .groupBy(col("c").as("n_copies"))
      .agg(
        count(lit(1)).as("n_chunks"),
        sum(col("c")).as("n_instances"),
        sum((col("c") - 1) * col("len")).as("chars_saved"))
      .orderBy("n_copies")
  }

  private val dedupLinesSql = {
    val k = LineChunkWords
    s"""WITH w AS (
       |  SELECT string_split(text, ' ') AS ws FROM documents),
       |chunks AS (
       |  SELECT unnest(list_transform(
       |    generate_series(0, (len(ws) - 1) // $k),
       |    i -> array_to_string(list_slice(ws, i*$k + 1, i*$k + $k), ' ')))
       |    AS chunk
       |  FROM w),
       |g AS (
       |  SELECT chunk, count(*) AS c, max(length(chunk)) AS len
       |  FROM chunks GROUP BY chunk)
       |SELECT c AS n_copies, count(*) AS n_chunks,
       |  CAST(sum(c) AS BIGINT) AS n_instances,
       |  CAST(sum((c - 1) * len) AS BIGINT) AS chars_saved
       |FROM g GROUP BY c ORDER BY n_copies""".stripMargin
  }

  // -------------------------------------------------------- dedup_substring
  /** Exact duplicated-SUBSTRING spans — the suffix-array dedup family
    * (Lee et al. 2022, "Deduplicating Training Data Makes Language
    * Models Better": remove every ≥50-token span that occurs twice
    * anywhere in the corpus), re-expressed as gram-position algebra
    * instead of a suffix array: a maximal duplicated span is exactly a
    * maximal run of overlapping duplicated K-grams, so
    *
    *  1. explode each document into word K-grams WITH positions
    *     (map-only, like the shingle pass);
    *  2. a gram is duplicated iff it occurs ≥2 times in the corpus
    *     multiset (suffix-array semantics: within-doc repeats count) —
    *     one count-over-gram window, the only corpus-sized shuffle,
    *     O(total tokens) keys exactly like the suffix-array build;
    *  3. per document, merge overlapping/adjacent duplicated gram
    *     positions into maximal spans (positions p, p' chain when
    *     p' ≤ p + K): a lag + running-sum island window PARTITIONED BY
    *     doc — never global;
    *  4. report per-doc span census: span count, words covered by
    *     duplicated spans, and the removable fraction.
    *
    * K=5 words here so the injected clones/near-dups light up at test
    * scale; production would use ~50 (the paper's threshold). Runs on
    * the clone-injected [[corpus]] so known whole-doc and suffix spans
    * exist. */
  private val SpanK = 5

  private def dedupSubstring(s: SparkSession, dir: String): DataFrame =
    substringSpans(corpus(s, dir), identity)

  /** Scale twin: the gram string never reaches the shuffle — the dup
    * test keys on `xxhash64(gram)` (8 bytes vs ~6·K chars per row
    * through the exchange; a 64-bit collision falsely merging two grams
    * is ~n²/2⁶⁴). Same span algebra; benched, not oracle-gated (no
    * xxhash64 in DuckDB) — [[dedupSubstring]] verifies the algebra. */
  def dedupSubstringXx(s: SparkSession, dir: String): DataFrame =
    substringSpans(corpus(s, dir), xxhash64(_))

  private def substringSpans(c: DataFrame,
      gramKey: org.apache.spark.sql.Column => org.apache.spark.sql.Column)
      : DataFrame = {
    import org.apache.spark.sql.expressions.Window
    graft.functions.WordGrams.register(c.sparkSession)
    val ws = split(col("text"), " ")
    val d = c.select(col("doc_id"), ws.as("ws"), size(ws).as("nw"))
    // codegen'd overlapping-gram build (WordGrams stride = 1) replacing
    // the interpreted transform/slice chain; posexplode order and the
    // 1-based span positions are unchanged
    val grams = d.filter(col("nw") >= SpanK)
      .select(col("doc_id"), col("nw"),
        posexplode(graft.functions.WordGrams(
          col("ws"), SpanK, 1, dedup = false)))
      .select(col("doc_id"), col("nw"), (col("pos") + 1).as("pos"),
        gramKey(col("col")).as("gram"))
    val dup = grams
      .withColumn("cnt", count(lit(1)).over(Window.partitionBy("gram")))
      .filter(col("cnt") > 1)
    val byPos = Window.partitionBy("doc_id").orderBy("pos")
    val spans = dup
      .withColumn("prev", lag("pos", 1).over(byPos))
      .withColumn("newi",
        when(col("prev").isNull || col("pos") > col("prev") + SpanK, 1)
          .otherwise(0))
      .withColumn("isl", sum("newi").over(byPos))
      .groupBy("doc_id", "isl")
      .agg(min("pos").as("st"), (max("pos") + (SpanK - 1)).as("en"),
        max("nw").as("nw"))
    spans.groupBy("doc_id")
      .agg(
        count(lit(1)).as("n_spans"),
        sum(col("en") - col("st") + 1).as("dup_words"),
        max("nw").cast("long").as("total_words"),
        round(sum(col("en") - col("st") + 1) / max("nw"), 4).as("dup_ratio"))
      .orderBy("doc_id")
  }

  private val dedupSubstringSql = {
    val k = SpanK
    s"""WITH corpus AS ($corpusSql),
       |w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM corpus),
       |grams AS (
       |  SELECT doc_id, nw, pos,
       |    array_to_string(list_slice(ws, pos, pos + ${k - 1}), ' ') AS gram
       |  FROM (SELECT doc_id, ws, len(ws) AS nw,
       |          unnest(generate_series(1, len(ws) - ${k - 1})) AS pos
       |        FROM w WHERE len(ws) >= $k)),
       |dup AS (SELECT * FROM (
       |    SELECT *, count(*) OVER (PARTITION BY gram) AS cnt FROM grams)
       |  WHERE cnt > 1),
       |isl AS (
       |  SELECT *, sum(CASE WHEN prev IS NULL OR pos > prev + $k
       |                     THEN 1 ELSE 0 END)
       |    OVER (PARTITION BY doc_id ORDER BY pos) AS isl
       |  FROM (SELECT *, lag(pos) OVER (PARTITION BY doc_id ORDER BY pos)
       |          AS prev FROM dup)),
       |spans AS (
       |  SELECT doc_id, isl, min(pos) AS st, max(pos) + ${k - 1} AS en,
       |    max(nw) AS nw
       |  FROM isl GROUP BY 1, 2)
       |SELECT doc_id, count(*) AS n_spans,
       |  CAST(sum(en - st + 1) AS BIGINT) AS dup_words,
       |  max(nw) AS total_words,
       |  round(sum(en - st + 1) * 1.0 / max(nw), 4) AS dup_ratio
       |FROM spans GROUP BY doc_id ORDER BY doc_id""".stripMargin
  }

  override val qs: Seq[Q] = Seq(
    Q("dedup_exact", dedupExact, Some(dedupExactSql)),
    Q("dedup_substring", dedupSubstring, Some(dedupSubstringSql)),
    Q("dedup_minhash", dedupMinhash, Some(dedupMinhashSql)),
    Q("dedup_incremental", dedupIncremental, Some(dedupIncrementalSql)),
    Q("dedup_clusters", dedupClusters, Some(dedupClustersSql)),
    Q("dedup_minhash_clusters", dedupMinhashClusters,
      Some(dedupMinhashClustersSql)),
    Q("dedup_ngram", dedupNgram, Some(dedupNgramSql)),
    Q("dedup_simhash", simhashMd5, Some(simhashMd5Sql)),
    Q("dedup_lines", dedupLines, Some(dedupLinesSql)))
}
