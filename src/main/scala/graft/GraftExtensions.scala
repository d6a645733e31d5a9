package graft

import org.apache.spark.sql.{AnalysisException, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{BloomFilterMightContain, Expression,
  ExpressionInfo}
import org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate

/** The SQL names of graft's custom Catalyst expressions, installed in a
  * session at BUILD time —
  *
  * {{{
  * spark-submit --conf spark.sql.extensions=graft.GraftExtensions ...
  * // or: SparkSession.builder().withExtensions(new GraftExtensions())
  * }}}
  *
  * — so every `graft_*` name in [[GraftExtensions.Functions]] resolves
  * in plain SQL on the session and on its `newSession()` children.
  * [[GraftSession]] installs it in every session it builds. The Column
  * API (each expression's companion `apply`) binds by expression and
  * needs no name, so a session built without this extension still runs
  * every graft operator.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {

  override def apply(ext: SparkSessionExtensions): Unit =
    GraftExtensions.Functions.foreach { f =>
      ext.injectFunction((FunctionIdentifier(f.name),
        new ExpressionInfo(classOf[GraftExtensions].getName, null, f.name, f.usage, ""),
        f.checked))
    }
}

object GraftExtensions {

  /** One SQL function: its name, its argument count, its usage line and
    * its builder, which is handed exactly `arity` arguments. */
  final case class SqlFunction(name: String, arity: Int, usage: String,
      build: Seq[Expression] => Expression) {

    /** `build` behind the arity check every graft SQL function shares. */
    def checked(args: Seq[Expression]): Expression = {
      if (args.length != arity)
        throw new AnalysisException("WRONG_NUM_ARGS.WITHOUT_SUGGESTION",
          Map("functionName" -> s"`$name`", "expectedNum" -> arity.toString,
            "actualNum" -> args.length.toString,
            "docroot" -> "https://spark.apache.org/docs/latest"))
      build(args)
    }
  }

  /** The only place a SQL name is tied to a builder. */
  val Functions: Seq[SqlFunction] = Seq(
    SqlFunction(functions.L2Sq.FuncName, 2,
      "_FUNC_(a, b) - squared L2 distance of two double arrays",
      a => functions.L2Sq(a(0), a(1))),
    SqlFunction(functions.DotProduct.FuncName, 2,
      "_FUNC_(a, b) - dot product of two array<double> vectors",
      a => functions.DotProduct(a(0), a(1))),
    SqlFunction(functions.Md5AB.FuncName, 1,
      "_FUNC_(s) - first/second 32-bit words of md5(s) as array<bigint>",
      a => functions.Md5AB(a(0))),
    SqlFunction(functions.MinHashSig.FuncName + "_md5", 1,
      "_FUNC_(text) - md5-family MinHash signature of a document",
      a => functions.MinHashSig(a(0), md5 = true)),
    SqlFunction(functions.MinHashSig.FuncName + "_xx", 1,
      "_FUNC_(text) - xxhash64-family MinHash signature of a document",
      a => functions.MinHashSig(a(0), md5 = false)),
    SqlFunction(functions.RedactScan.FuncName, 1,
      "_FUNC_(text) - single-pass PII counts + redacted length",
      a => functions.RedactScan(a(0))),
    SqlFunction(labelers.FastLabel.FuncName, 1,
      "_FUNC_(cell) - entity label via the FastMatch decision procedure",
      a => labelers.FastLabel(a(0))),
    SqlFunction(functions.NfcNormalize.FuncName, 1,
      "_FUNC_(s) - Unicode NFC normalization",
      a => functions.NfcNormalize(a(0))),
    SqlFunction(functions.BloomMembership.AggName, 3,
      "_FUNC_(hash, nItems, nBits) - Bloom sketch of a hashed-long set",
      a => new BloomFilterAggregate(a(0), a(1), a(2))),
    SqlFunction(functions.BloomMembership.ProbeName, 2,
      "_FUNC_(sketch, hash) - map-side Bloom membership probe",
      a => BloomFilterMightContain(a(0), a(1))),
    SqlFunction(functions.IntersectCount.FuncName, 2,
      "_FUNC_(a, b) - |a ∩ b| of two sorted int/long arrays",
      a => functions.IntersectCount(a(0), a(1))),
    SqlFunction(functions.GramRepetition.FuncName, 1,
      "_FUNC_(words) - [n_grams, top_gram_count, dup_gram_count] of word 2-grams",
      a => functions.GramRepetition(a(0))),
    SqlFunction(functions.WordGrams.FuncName, 4,
      "_FUNC_(words|text, n, stride, dedup) - word n-grams / chunks in one pass",
      functions.WordGrams.builder),
    SqlFunction(functions.CharGrams.FuncName, 2,
      "_FUNC_(s, n) - all overlapping character n-grams",
      functions.CharGrams.builder),
    SqlFunction(functions.CharEntropy.FuncName, 1,
      "_FUNC_(s) - Shannon entropy (bits/char) of the codepoint distribution",
      a => functions.CharEntropy(a(0))),
    SqlFunction(functions.CollectSortedInts.FuncName, 1,
      "_FUNC_(v) - distinct sorted array<int> aggregate (primitive buffers)",
      a => functions.CollectSortedInts(a(0)).toAggregateExpression()),
    SqlFunction(labelers.FastLabelTwoStage.FuncName, 1,
      "_FUNC_(cell) - two-stage entity label (chain, normalize, scan)",
      a => labelers.FastLabelTwoStage(a(0))),
    SqlFunction(functions.TermCounts.FuncName, 2,
      "_FUNC_(text, 'terms,csv') - per-term frequencies + total token count",
      functions.TermCounts.builder),
    SqlFunction(functions.BucketSum.FuncName, 2,
      "_FUNC_(bs, 'longs,csv') - gather-add of a long table over bucket ids",
      functions.BucketSum.builder),
    SqlFunction(functions.AdcLut.FuncName, 2,
      "_FUNC_(codes, 'doubles,csv') - PQ ADC lookup-table gather-sum",
      functions.AdcLut.builder),
    SqlFunction(functions.LangScores.FuncName, 2,
      "_FUNC_(text, 'lang:w1,w2;...') - all language-profile scores in one scan",
      functions.LangScores.builder),
    SqlFunction(functions.HashBuckets.FuncName, 3,
      "_FUNC_(text, nb, asSet) - md5 token buckets: count vector or distinct set",
      functions.HashBuckets.builder),
    SqlFunction(functions.DateShapeMask.FuncName, 1,
      "_FUNC_(cell) - 16-bit datetime shape-match mask (suffix-stripped)",
      a => functions.DateShapeMask(a(0))))
}
