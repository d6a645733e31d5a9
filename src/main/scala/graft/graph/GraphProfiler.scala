package graft.graph

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Graph profiling (SURVEY §2.9; reference graph_profiler.py:334-498):
  * node/edge counts, average degree, connected components, and edge-
  * attribute profiling — over an edge-list DataFrame (`src`, `dst`,
  * attrs...), the Spark-native stand-in for the reference's in-memory
  * networkx graph.
  *
  * Connected components run as iterative min-label propagation: each
  * round joins the current labels to the (bidirectional) edge list,
  * takes the min neighbor label per node, and stops when no label
  * changed. Rounds are O(diameter); each round is one shuffle keyed on
  * node id with map-side partial mins — the standard large-graph CC plan
  * (GraphFrames' own fallback), AQE balancing skewed hubs. State per
  * round is cached and the previous round unpersisted.
  */
object GraphProfiler {

  final case class GraphStats(
      numNodes: Long, numEdges: Long, avgDegree: Double,
      nComponents: Long, maxComponent: Long)

  /** Distinct nodes of an edge list. */
  def nodes(edges: DataFrame): DataFrame =
    edges.select(col("src").as("node"))
      .unionAll(edges.select(col("dst").as("node")))
      .distinct()

  /** (node, component) with component = min reachable node id.
    *
    * Each round truncates at `next` with an EAGER `localCheckpoint`:
    * lineage and plan text reset to a checkpointed scan once per round,
    * so the following round builds on a leaf instead of doubling the
    * plan, and a lost executor replays at most one round — at a real
    * deployment's scale a reliable checkpoint dir would replace local
    * blocks; the loop shape is identical. (Lazy checkpoints don't work
    * here: Spark's union constraint rewrite and self-join dedup both
    * trip over `localCheckpoint(eager = false)` attributes.)
    * A run that exhausts `maxIter` without reaching the fixpoint logs a
    * warning naming the unconverged state instead of silently returning
    * partial labels (long near-dup chains would otherwise disagree with
    * the transitive-closure oracle with no signal). */
  def connectedComponents(edges: DataFrame, maxIter: Int = MaxIter,
      smallGraphCap: Long = SmallGraphEdgeCap): DataFrame =
    smallComponents(edges, smallGraphCap) match {
      case Some(comp) =>
        val spark = edges.sparkSession
        import spark.implicits._
        comp.toSeq.toDF("node", "comp")
      case None => componentLoop(edges, maxIter)
    }

  /** (`idName`, sz) for every component of more than one node, ordered by
    * id: the id is the component's min node, sz its node count. Below
    * `smallGraphCap` edges it is computed on the driver and comes back
    * as a local relation; above, it runs the distributed loop on `edges`
    * (cache them: the loop reads them several times) and is
    * checkpointed. `release` runs once `edges` is fully materialized,
    * so a caller can free what they were computed from before the loop
    * starts. */
  def componentSizes(edges: DataFrame, idName: String,
      smallGraphCap: Long = SmallGraphEdgeCap)(release: => Unit): DataFrame =
    smallComponents(edges, smallGraphCap) match {
      case Some(comp) =>
        release
        val spark = edges.sparkSession
        import spark.implicits._
        comp.values.groupMapReduce(identity)(_ => 1L)(_ + _)
          .filter(_._2 > 1).toSeq.sorted.toDF(idName, "sz")
      case None =>
        edges.count()
        release
        componentLoop(edges, MaxIter)
          .groupBy(col("comp").as(idName))
          .agg(count(lit(1)).as("sz"))
          .filter(col("sz") > 1)
          .orderBy(idName)
          .localCheckpoint()
    }

  /** The distributed loop, with constraint propagation off. */
  private def componentLoop(edges: DataFrame, maxIter: Int): DataFrame =
    // Catalyst's union constraint rewrite dereferences attributes the
    // self-join dedup has already rewritten away (AttributeMap "key not
    // found" — the long-standing iterative-plan bug GraphFrames also
    // works around); constraint propagation buys nothing on this loop's
    // plans, so switch it off for the duration and restore after.
    // NOTE: the flip is session-global — concurrent queries on the SAME
    // SparkSession lose constraint propagation for the loop's duration.
    // Callers that share a session across threads should run CC on
    // spark.newSession() (same SparkContext, isolated SQLConf).
    graft.SessionConfs.withConf(edges.sparkSession,
        "spark.sql.constraintPropagation.enabled", "false") {
      connectedComponentsImpl(edges, maxIter)
    }

  /** Up to this many edge rows the component structure is bounded driver
    * state — solve it with one collect and a union-find instead of an
    * O(log d)-round distributed loop. Same rationale as broadcasting a
    * small join side: the iterative plan is the scale path, but on a
    * small graph its per-round job overhead dominates (measured: ~6 s of
    * pure job scheduling for a 25k-edge graph at bench scale, ~0.3 s via
    * union-find). 500k edges ≈ 8 MB collected — comfortably bounded. */
  private val SmallGraphEdgeCap = 500000L

  /** Rounds of the distributed loop before it gives up (with a warning). */
  private val MaxIter = 50

  /** node → min reachable node, by union-find over the collected edge
    * rows, when `edges` has at most `cap` rows and long ids; else None.
    * One job reads at most cap + 1 rows: the edge list as given, with no
    * symmetrizing union or distinct (union-find ignores direction,
    * repeats and self-loops need no special case). */
  private def smallComponents(edges: DataFrame, cap: Long)
      : Option[Map[Long, Long]] = {
    val ids = edges.select(col("src"), col("dst"))
    if (!ids.schema.fields.forall(
        _.dataType == org.apache.spark.sql.types.LongType)) return None
    // at cap ≥ Int.MaxValue no limit can bound the read: take every row
    val rows = if (cap >= Int.MaxValue) ids.collect()
      else ids.limit(math.max(cap, 0L).toInt + 1).collect()
    if (rows.length > cap) return None
    val parent = scala.collection.mutable.HashMap.empty[Long, Long]
    def find(x: Long): Long = {
      var r = x
      while (parent.getOrElse(r, r) != r) r = parent.getOrElse(r, r)
      var c = x
      while (parent.getOrElse(c, c) != r) {
        val nxt = parent.getOrElse(c, c); parent(c) = r; c = nxt
      }
      r
    }
    rows.foreach { row =>
      val (a, b) = (row.getLong(0), row.getLong(1))
      parent.getOrElseUpdate(a, a); parent.getOrElseUpdate(b, b)
      val (ra, rb) = (find(a), find(b))
      if (ra < rb) parent(rb) = ra else if (rb < ra) parent(ra) = rb
    }
    Some(parent.keys.map(n => n -> find(n)).toMap)
  }

  private def connectedComponentsImpl(edges: DataFrame, maxIter: Int): DataFrame = {
    val bidir = edges.select(col("src"), col("dst"))
      .unionAll(edges.select(col("dst").as("src"), col("src").as("dst")))
      .distinct()
      .cache()
    // materializes the cache round 1 would have paid for
    bidir.count()
    var labels = nodes(edges).withColumn("comp", col("node")).cache()
    // previous round's checkpoint, released once the next round has
    // materialized on top of it
    var prev: Option[DataFrame] = None
    // Convergence by label-sum: labels only ever decrease, so an unchanged
    // Σcomp means a fixpoint — the sum action also materializes the cached
    // next, so each round is checkpoint-job + sum-job, no per-round
    // join-and-count. sum over an EMPTY node set is null → coalesce, so
    // an edgeless graph converges immediately instead of NPE-ing.
    def labelSum(df: DataFrame): Long =
      df.agg(coalesce(sum("comp"), lit(0L))).collect()(0).getLong(0)
    var prevSum = labelSum(labels)
    var converged = false
    var iter = 0
    while (!converged && iter < maxIter) {
      val msgs = bidir.join(labels, bidir("src") === labels("node"))
        .select(bidir("dst").as("node"), col("comp"))
      // propagate and pointer-jump inside ONE materialization: the round's
      // single eager checkpoint lands on `next`, so each round is exactly
      // one real job (propagate shuffle + self-join) plus a trivial sum
      // over the checkpointed blocks — checkpointing `propagated`
      // separately doubled the per-round job count for no extra safety
      // (the self-join's groupBy exchange is reused across both branches,
      // and `next`'s truncation still bounds plan depth per round)
      val propagated = labels.select(col("node"), col("comp"))
        .unionAll(msgs)
        .groupBy("node").agg(min("comp").as("comp"))
      // pointer jumping: comp(v) ← comp(comp(v)). Labels are node ids of
      // reachable nodes and only ever decrease, so the shortcut stays
      // within the component and the fixpoint is unchanged — but round
      // count drops from O(diameter) to O(log diameter), which is what
      // makes long path/chain graphs tractable at scale (one extra
      // self-join shuffle per round buys exponentially fewer rounds).
      val next = propagated.as("a")
        .join(propagated.select(col("node").as("jn"), col("comp").as("jc")),
          col("a.comp") === col("jn"), "left")
        .select(col("a.node").as("node"),
          coalesce(col("jc"), col("a.comp")).as("comp"))
        .localCheckpoint()
      val s = labelSum(next)
      labels.unpersist() // releases the round-0 cache; no-op on later rounds
      prev.foreach(graft.functions.releaseCheckpoint)
      prev = Some(next)
      labels = next
      converged = s == prevSum
      prevSum = s
      iter += 1
    }
    bidir.unpersist()
    if (!converged)
      org.slf4j.LoggerFactory.getLogger(getClass).warn(
        s"connectedComponents did NOT converge in $maxIter rounds " +
          "(graph diameter exceeds maxIter); labels are partial")
    labels
  }

  def stats(edges: DataFrame): GraphStats = {
    val comps = connectedComponents(edges)
    // one action for node count + component count + max size
    // (Σ sizes = |V|), one for |E|
    val compSizes = comps.groupBy("comp").agg(count(lit(1)).as("sz"))
      .agg(count(lit(1)).as("n_comp"),
        coalesce(max("sz"), lit(0L)).as("max_sz"),
        coalesce(sum("sz"), lit(0L)).as("n_nodes"))
      .collect()(0)
    val nV = compSizes.getLong(2)
    val nE = edges.count()
    GraphStats(nV, nE,
      if (nV == 0) 0.0 else 2.0 * nE / nV,
      compSizes.getLong(0), compSizes.getLong(1))
  }

  /** Continuous iff any value's string form carries a decimal point —
    * the reference's exact rule (graph_profiler.py:468-498). */
  def isContinuous(edges: DataFrame, attr: String): Boolean =
    edges.agg(max(col(attr).cast("string").contains(".").cast("int")))
      .collect()(0).getInt(0) == 1

  /** Method-of-moments distribution fit for a continuous edge attribute
    * (the reference MLE-fits 6 scipy families and ranks by nnlf,
    * graph_profiler.py:371-446; moments-distance is the deterministic
    * JVM-side equivalent — documented deviation).
    *
    * Shape-free families (norm/uniform/expon/logistic) sit at a fixed
    * (skew, excess-kurtosis) point: distance = squared Euclidean.
    * Gamma and lognormal have a FREE shape parameter, so their moment
    * locus is a curve: the shape is solved from the sample skew and the
    * distance is the squared kurtosis gap at matched skew —
    *  - gamma: skew s = 2/√k ⇒ kurt(s) = 1.5·s²;
    *  - lognormal: with w = e^{σ²}, s² = (w+2)²(w−1) ⇒ w is the real
    *    Cardano root w = cbrt(q+√(q²−1)) + cbrt(q−√(q²−1)) − 1 for
    *    q = (2+s²)/2, and kurt(w) = w⁴+2w³+3w²−6.
    * Both are right-skewed-only (distance = ∞ when s ≤ 0).
    *
    * Each family also emits the DuckDB twin of its distance, op for op
    * (same literals, multiplication not pow), so the oracle reproduces
    * the selection bit-for-bit from the same 6-dp-rounded moments. */
  sealed trait FitFamily {
    def name: String
    def dist(skew: Double, kurt: Double): Double
    def sqlDist(skew: String, kurt: String): String
  }

  final case class FixedFamily(name: String, s0: Double, k0: Double)
      extends FitFamily {
    def dist(skew: Double, kurt: Double): Double =
      (skew - s0) * (skew - s0) + (kurt - k0) * (kurt - k0)
    def sqlDist(s: String, k: String): String =
      s"(($s - (${s0}e0)) * ($s - (${s0}e0)) + " +
        s"($k - (${k0}e0)) * ($k - (${k0}e0)))"
  }

  private val Inf = 1e300

  case object GammaFamily extends FitFamily {
    val name = "gamma"
    def dist(skew: Double, kurt: Double): Double =
      if (skew <= 0) Inf
      else (kurt - 1.5 * skew * skew) * (kurt - 1.5 * skew * skew)
    def sqlDist(s: String, k: String): String =
      s"(CASE WHEN $s > 0e0 THEN ($k - 1.5e0 * $s * $s) * " +
        s"($k - 1.5e0 * $s * $s) ELSE 1e300 END)"
  }

  case object LognormFamily extends FitFamily {
    val name = "lognorm"
    def w(skew: Double): Double = {
      val q = (2.0 + skew * skew) / 2.0
      val r = math.sqrt(q * q - 1.0)
      math.cbrt(q + r) + math.cbrt(q - r) - 1.0
    }
    def dist(skew: Double, kurt: Double): Double =
      if (skew <= 0) Inf
      else {
        val lw = w(skew)
        val kl = lw * lw * lw * lw + 2.0 * lw * lw * lw + 3.0 * lw * lw - 6.0
        (kurt - kl) * (kurt - kl)
      }
    /** SQL over a precomputed `lw` column (see sqlW). */
    def sqlDist(s: String, k: String): String = sqlDistLw(s, k, "lw")
    def sqlDistLw(s: String, k: String, lw: String): String =
      s"(CASE WHEN $s > 0e0 THEN ($k - ($lw * $lw * $lw * $lw + " +
        s"2e0 * $lw * $lw * $lw + 3e0 * $lw * $lw - 6e0)) * " +
        s"($k - ($lw * $lw * $lw * $lw + 2e0 * $lw * $lw * $lw + " +
        s"3e0 * $lw * $lw - 6e0)) ELSE 1e300 END)"
    def sqlW(s: String): String =
      s"(cbrt(((2e0 + $s * $s) / 2e0) + sqrt(((2e0 + $s * $s) / 2e0) * " +
        s"((2e0 + $s * $s) / 2e0) - 1e0)) + " +
        s"cbrt(((2e0 + $s * $s) / 2e0) - sqrt(((2e0 + $s * $s) / 2e0) * " +
        s"((2e0 + $s * $s) / 2e0) - 1e0)) - 1e0)"
  }

  val FitFamilies: Seq[FitFamily] = Seq(
    FixedFamily("norm", 0.0, 0.0),
    FixedFamily("uniform", 0.0, -1.2),
    FixedFamily("expon", 2.0, 6.0),
    FixedFamily("logistic", 0.0, 1.2),
    GammaFamily,
    LognormFamily)

  def bestFit(skew: Double, kurt: Double): String =
    FitFamilies.minBy(_.dist(skew, kurt)).name

  /** Method-of-moments parameters for a fitted family (the reference
    * reports scipy's fitted params alongside the family,
    * graph_profiler.py:371-446; these are the closed-form MoM
    * equivalents from the sample mean/variance). Keys follow scipy's
    * loc/scale/shape naming. */
  def fitParams(family: String, mean: Double, variance: Double)
      : Map[String, Double] = {
    val std = math.sqrt(variance)
    family match {
      case "norm" => Map("loc" -> mean, "scale" -> std)
      case "uniform" =>
        // U(a,b): mean=(a+b)/2, var=(b-a)^2/12
        val half = math.sqrt(3.0 * variance)
        Map("loc" -> (mean - half), "scale" -> (2.0 * half))
      case "expon" =>
        // shifted exponential: scale=std, loc=mean-std
        Map("loc" -> (mean - std), "scale" -> std)
      case "logistic" =>
        // var = s^2 * pi^2 / 3
        Map("loc" -> mean, "scale" -> (math.sqrt(3.0 * variance) / math.Pi))
      case "gamma" if mean > 0 =>
        // k = mean^2/var, theta = var/mean
        Map("shape" -> (mean * mean / variance),
          "scale" -> (variance / mean))
      case "lognorm" if mean > 0 =>
        // sigma^2 = ln(1 + var/mean^2), mu = ln(mean) - sigma^2/2
        val s2 = math.log(1.0 + variance / (mean * mean))
        Map("shape" -> math.sqrt(s2),
          "scale" -> math.exp(math.log(mean) - s2 / 2.0))
      case _ => Map.empty
    }
  }
}
