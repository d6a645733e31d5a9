package graft

import org.apache.spark.sql.{DataFrame, GraftExtensionsBridge}
import org.scalatest.funsuite.AnyFunSuite

/** The whole-class-of-bug gate for round 12's CharEntropy finding:
  * scalac SUPPRESSES a companion object's static forwarder when the
  * case class has any member of the same name — and every Expression
  * inherits `eval(InternalRow)` — so a companion method named `eval`
  * leaves no `static eval(...)` on the class file, Janino fails the
  * whole-stage compile, and Spark (with the default
  * `spark.sql.codegen.fallback=true`) silently runs the ENTIRE stage
  * interpreted. Correctness stays green; the perf claim is false.
  *
  * This spec force-compiles the REAL generated source of every
  * registered graft expression through Janino via
  * [[GraftExtensionsBridge.compileAllStages]] (no fallback possible)
  * and asserts the expression actually sits INSIDE a compiled stage.
  * The probe input is `.repartition(1)`'d so ConvertToLocalRelation
  * cannot constant-fold the projection away — a LocalRelation probe
  * proves nothing.
  */
class CodegenCompilesSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark

  private lazy val probe: DataFrame = {
    import spark.implicits._
    Seq(("u@example.com 2024-01-05 the spark text",
        Seq(1.0, 2.0), Seq(3.0, 4.0), Seq(1, 2, 3), Seq(2, 3, 9),
        Seq(0L, 2L)))
      .toDF("cell", "a", "b", "ia", "ib", "bs")
      .repartition(1)
  }

  /** (probe SQL over the columns above, Expression class simple name). */
  private val cases: Seq[(String, String)] = Seq(
    "graft_dot(a, b)" -> "DotProduct",
    "graft_l2sq(a, b)" -> "L2Sq",
    "graft_md5ab(cell)" -> "Md5AB",
    "graft_minhash_md5(cell)" -> "MinHashSig",
    "graft_minhash_xx(cell)" -> "MinHashSig",
    "graft_redact_scan(cell)" -> "RedactScan",
    "graft_label(cell)" -> "FastLabel",
    "graft_label_2stage(cell)" -> "FastLabelTwoStage",
    "graft_nfc(cell)" -> "NfcNormalize",
    "graft_icount(ia, ib)" -> "IntersectCount",
    "graft_gramstats(split(cell, ' '))" -> "GramRepetition",
    "graft_wordgrams(cell, 2, 1, false)" -> "WordGrams",
    "graft_chargrams(cell, 3)" -> "CharGrams",
    "graft_entropy(cell)" -> "CharEntropy",
    "graft_termcounts(cell, 'spark,text')" -> "TermCounts",
    "graft_bucketsum(bs, '10,20,30')" -> "BucketSum",
    // ia = [1,2,3]: M=3 stripes of K=4 → gathers lut(1), lut(6), lut(11)
    "graft_adclut(ia, '0.5,1.5,2.5,3.5,4.5,5.5,6.5,7.5,8.5,9.5,10.5,11.5')"
      -> "AdcLut",
    "graft_langscores(cell, 'en:the;es:la')" -> "LangScores",
    "graft_hashbuckets(cell, 8, false)" -> "HashBuckets",
    "graft_hashbuckets(cell, 8, true)" -> "HashBuckets",
    "graft_dateshape(cell)" -> "DateShapeMask",
    // the decontamination probe (Spark's own expression, registered by
    // graft): literal sketch + PER-ROW hashed key — the production
    // decontaminate_bloom shape. A folded-constant key is broken
    // upstream (Janino rejects the folded negative long literal; r17
    // what's-wrong #2); this probe pins that the per-row map-side path
    // stays inside whole-stage codegen. graft_bloom_agg has no probe:
    // it is a TypedImperativeAggregate (ObjectHashAggregate, one
    // bounded group) with no per-row doGenCode to gate.
    s"graft_bloom_contains(unhex('$bloomSketchHex'), xxhash64(cell))"
      -> "BloomFilterMightContain")

  /** A tiny serialized bloom sketch (same util.sketch format
    * BloomFilterAggregate emits) as a hex literal for the probe row
    * above — built without a SparkSession so `cases` can stay a
    * constructor-time val. */
  private def bloomSketchHex: String = {
    val bf = org.apache.spark.util.sketch.BloomFilter.create(100, 800)
    bf.putLong(42L)
    val bos = new java.io.ByteArrayOutputStream()
    bf.writeTo(bos)
    bos.toByteArray.map("%02X".format(_)).mkString
  }

  for ((sql, cls) <- cases) test(s"$sql whole-stage-compiles ($cls)") {
    val df = probe.selectExpr(s"$sql AS r")
    val stages = GraftExtensionsBridge.compileAllStages(df) // throws on failure
    val hosts = stages.filter(_.exists(p => p.expressions.exists(
      _.exists(_.getClass.getSimpleName == cls))))
    assert(hosts.nonEmpty,
      s"$cls never entered a WholeStageCodegen stage — probe is not gating it")
  }

  test("every source file defining doGenCode has a compile probe above") {
    // If a future round adds a codegen expression without a probe row
    // here, fail loudly rather than silently not gating it.
    val probed = cases.map(_._2).toSet
    def walk(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory) f.listFiles().toSeq.flatMap(walk) else Seq(f)
    val unprobed = walk(new java.io.File("src/main/scala/graft"))
      .filter(_.getName.endsWith(".scala"))
      .filter { f =>
        val text = new String(java.nio.file.Files.readAllBytes(f.toPath),
          java.nio.charset.StandardCharsets.ISO_8859_1)
        text.contains("def doGenCode") && !probed.exists(c =>
          text.contains(s"case class $c("))
      }
    assert(unprobed.isEmpty,
      s"files with doGenCode but no compile probe: ${unprobed.map(_.getName)}")
  }
}
