package graft.functions

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Lloyd's k-means for IVF coarse quantization, as pure DataFrame ops —
  * the "real k-means" upgrade over the deterministic first-k centroid
  * stand-in that the oracle-checked `sim_ivf` query uses.
  *
  * Each iteration is two bounded jobs: (1) assignment — centroids ship as
  * a literal array (k×dim doubles, broadcast with the plan), every vector
  * picks its max-cosine centroid via one `array_max` over k struct
  * scores, no shuffle; (2) update — `posexplode` of member vectors and a
  * groupBy (centroid, position) mean, shuffle bounded by k×dim cells.
  * Centroid state lives on the driver (k×dim, tiny); data never leaves
  * the cluster. Deterministic: first-k init, ties to the lower centroid
  * id. At 100 TB the assignment pass is the only full scan per iteration,
  * and the k×dim update shuffle is constant-size.
  */
object KMeansIvf {

  /** vecs: (id, v: array<double>); returns k×dim centroids. */
  def fit(vecs: DataFrame, idCol: String, vCol: String,
      k: Int, iters: Int): Array[Array[Double]] = {
    var cents: Array[Array[Double]] = vecs
      .orderBy(col(idCol)).limit(k)
      .select(vCol).collect()
      .map(_.getSeq[Double](0).toArray)
    require(cents.nonEmpty,
      "k-means init requires a non-empty corpus (0 vectors provided)")

    for (_ <- 0 until iters) {
      val assigned = assign(vecs, vCol, cents)
      val dim = cents(0).length
      val updated = assigned
        .select(col("cell"), posexplode(col(vCol)).as(Seq("pos", "x")))
        .groupBy("cell", "pos").agg(avg("x").as("m"))
        .collect()
        .groupBy(_.getInt(0))
        .map { case (cell, rows) =>
          val arr = new Array[Double](dim)
          rows.foreach(r => arr(r.getInt(1)) = r.getDouble(2))
          cell -> arr
        }
      // empty cells keep their previous centroid
      cents = cents.indices.map(i => updated.getOrElse(i, cents(i))).toArray
    }
    cents
  }

  /** Add a `cell` column: index of the max-cosine centroid (ties → lower
    * index). One scan, no shuffle. Sims are ROUNDED to 6 dp before the
    * argmax: the centroid means come from distributed `avg` whose
    * summation order differs across engines/partitionings, so raw-sim
    * comparisons could flip near-tied assignments between Spark and the
    * DuckDB oracle — rounding plus the lower-index tie-break makes the
    * decision reproducible on both sides. */
  def assign(vecs: DataFrame, vCol: String,
      cents: Array[Array[Double]]): DataFrame = {
    val scored = cents.zipWithIndex.map { case (c, j) =>
      val cl = array(c.map(lit): _*)
      val cn = math.sqrt(c.map(x => x * x).sum)
      val sim = round(DotProduct(col(vCol), cl) /
        (sqrt(DotProduct(col(vCol), col(vCol))) * lit(cn)), 6)
      struct(sim.as("s"), lit(-j).as("nj"))
    }
    vecs.withColumn("cell", (-array_max(array(scored: _*)).getField("nj"))
      .cast("int"))
  }

  /** Mean cosine of members to their centroid — the compactness metric a
    * fit should improve over naive init. */
  def compactness(vecs: DataFrame, vCol: String,
      cents: Array[Array[Double]]): Double = {
    val assigned = assign(vecs, vCol, cents)
    val simToOwn = cents.zipWithIndex.map { case (c, j) =>
      val cl = array(c.map(lit): _*)
      val cn = math.sqrt(c.map(x => x * x).sum)
      when(col("cell") === j,
        DotProduct(col(vCol), cl) /
          (sqrt(DotProduct(col(vCol), col(vCol))) * lit(cn)))
    }.reduceRight(_.otherwise(_)) // right-assoc: each when gets ONE otherwise
    assigned.agg(avg(coalesce(simToOwn, lit(0.0)))).collect()(0).getDouble(0)
  }
}
