package graft

import org.scalatest.funsuite.AnyFunSuite

/** The SparkSessionExtensions install path must expose every custom
  * expression to SQL: [[GraftSession]] installs [[GraftExtensions]], so
  * the suite's session resolves every name of its table. */
class GraftExtensionsSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark

  test("extensions inject all graft functions into a function registry") {
    val names = GraftExtensions.Functions.map(_.name)
    assert(names.distinct.size == 23, names)
    val child = spark.newSession()
    names.foreach(n => assert(spark.catalog.functionExists(n) &&
      child.catalog.functionExists(n), n))
    import spark.implicits._
    Seq(("u@example.com", Seq(1.0, 2.0), Seq(3.0, 4.0)))
      .toDF("cell", "a", "b").createOrReplaceTempView("ext_probe")
    val r = spark.sql(
      """SELECT graft_dot(a, b) AS d, graft_label(cell) AS l,
        |  graft_redact_scan(cell)[4] AS redlen, size(graft_md5ab(cell)) AS mab,
        |  size(graft_minhash_md5(cell)) AS sig_md5,
        |  size(graft_minhash_xx(cell)) AS sig_xx
        |FROM ext_probe""".stripMargin).head()
    assert(r.getAs[Double]("d") == 11.0)
    assert(r.getAs[String]("l") == "EMAIL_ADDRESS")
    assert(r.getAs[Long]("redlen") > 0)
    assert(r.getAs[Int]("mab") == 2)
    assert(r.getAs[Int]("sig_md5") > 0 && r.getAs[Int]("sig_xx") > 0)
    // bloom agg + probe through the same injected registry.
    // might_contain requires the sketch as a constant or scalar
    // subquery; the probe side is a PER-ROW column — the production
    // decontaminate_bloom shape. (A folded-constant probe like
    // xxhash64('literal') is codegen-broken UPSTREAM: Spark emits the
    // constant-folded negative long as `(Long)-48…L`, Janino parses it
    // as subtraction and the projection falls back to interpreted —
    // r17 what's-wrong #2. Per-row probes compile; CodegenCompilesSpec
    // pins that, and this suite's log must stay fallback-free.)
    val b = spark.sql(
      """SELECT bool_or(graft_bloom_contains(
        |    (SELECT graft_bloom_agg(xxhash64(cell), 100L, 800L)
        |     FROM ext_probe),
        |    xxhash64(cell))) AS hit,
        |  bool_or(graft_bloom_contains(
        |    (SELECT graft_bloom_agg(xxhash64(cell), 100L, 800L)
        |     FROM ext_probe),
        |    xxhash64(concat(cell, '-absent-key-xyz')))) AS miss
        |FROM ext_probe""".stripMargin).head()
    assert(b.getAs[Boolean]("hit"))
    assert(!b.getAs[Boolean]("miss"))
    val nfc = spark.sql(
      "SELECT graft_nfc('é') = 'é' AS folded").head()
    assert(nfc.getAs[Boolean]("folded"))
    // round-10 expressions through the same injected registry
    val r10 = spark.sql(
      """SELECT graft_icount(array(1, 2, 3), array(2, 3, 9)) AS ic,
        |  graft_gramstats(array('a', 'b', 'a', 'b')) AS gs,
        |  graft_wordgrams('x y z', 2, 1, false) AS wg,
        |  graft_chargrams('abcd', 3) AS cg,
        |  graft_label_2stage('noted: u@example.com.') AS l2,
        |  graft_entropy('aabb') AS he
        |FROM ext_probe""".stripMargin).head()
    assert(r10.getAs[Long]("ic") == 2L)
    assert(r10.getSeq[Long](r10.fieldIndex("gs")) == Seq(3L, 2L, 2L))
    assert(r10.getSeq[String](r10.fieldIndex("wg")) == Seq("x y", "y z"))
    assert(r10.getSeq[String](r10.fieldIndex("cg")) == Seq("abc", "bcd"))
    assert(r10.getAs[String]("l2") == "EMAIL_ADDRESS")
    assert(r10.getAs[Double]("he") == 1.0)
    val agg = spark.sql(
      "SELECT graft_collect_ints(v) AS s FROM (SELECT explode(array(3, 1, 3, 2)) v)")
      .head()
    assert(agg.getSeq[Int](0) == Seq(1, 2, 3))
    // round-12 expressions through the same injected registry
    val r12 = spark.sql(
      """SELECT graft_termcounts('spark x spark', 'spark,hash') AS tc,
        |  graft_bucketsum(array(0L, 2L), '10,20,30') AS bs,
        |  graft_langscores('the la 中文', 'en:the;es:la;zh:') AS ls,
        |  graft_hashbuckets('w w x', 8, false) AS hbc,
        |  graft_hashbuckets('w w x', 8, true) AS hbs,
        |  graft_dateshape('2024-01-02') AS dm""".stripMargin).head()
    assert(r12.getSeq[Int](r12.fieldIndex("tc")) == Seq(2, 0, 3))
    assert(r12.getAs[Long]("bs") == 40L)
    assert(r12.getSeq[Int](r12.fieldIndex("ls")) == Seq(1, 1, 1))
    assert(r12.getSeq[Int](r12.fieldIndex("hbc")).sum == 3)
    assert(r12.getSeq[Long](r12.fieldIndex("hbs")).size == 2)
    // yyyy-MM-dd is format index 2
    assert((r12.getAs[Int]("dm") & (1 << 2)) != 0)
  }

  test("builders raise AnalysisException on bad arity / bad literals (r13)") {
    import org.apache.spark.sql.AnalysisException
    // every name, called with one argument too few and one too many
    for (f <- GraftExtensions.Functions; n <- Seq(f.arity - 1, f.arity + 1)) {
      val call = s"${f.name}(${Seq.fill(n)("1").mkString(", ")})"
      val e = intercept[AnalysisException](spark.sql(s"SELECT $call"))
      assert(e.getCondition == "WRONG_NUM_ARGS.WITHOUT_SUGGESTION", call)
      assert(e.getMessageParameters.get("functionName") == s"`${f.name}`", call)
    }
    // empty / malformed graft_bucketsum table: AnalysisException, not a
    // raw NumberFormatException out of the parser
    val e2 = intercept[AnalysisException](
      spark.sql("SELECT graft_bucketsum(array(0L), '')"))
    assert(e2.getCondition == "INVALID_PARAMETER_VALUE.LONG")
    val e3 = intercept[AnalysisException](
      spark.sql("SELECT graft_bucketsum(array(0L), '1,x')"))
    assert(e3.getCondition == "INVALID_PARAMETER_VALUE.LONG")
  }

  test("structurally identical BucketSums are semanticEquals (Seq table)") {
    // an Array-typed case-class param compares by reference and would
    // defeat canonicalization/CSE; the table is IndexedSeq precisely so
    // two independently built instances dedup
    import org.apache.spark.sql.catalyst.expressions.{BoundReference, Literal}
    import org.apache.spark.sql.types.{ArrayType, LongType}
    val in = BoundReference(0, ArrayType(LongType), nullable = true)
    val a = functions.BucketSum(in, IndexedSeq(1L, 2L))
    val b = functions.BucketSum(in, IndexedSeq(1L, 2L))
    assert(a == b && a.semanticEquals(b))
    // LangScores encoding guards its reserved separators
    val e = intercept[IllegalArgumentException](
      functions.LangScores(org.apache.spark.sql.functions.lit("x"),
        Seq("en" -> Seq("a,b"))))
    assert(e.getMessage.contains("must not contain"))
  }
}
