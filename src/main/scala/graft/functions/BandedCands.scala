package graft.functions

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType
import scala.jdk.CollectionConverters._

/** Bucket-capped candidate edges over any banded-signature table — the
  * shared shape of LSH candidate generation that survives duplicate-heavy
  * corpora (first extracted from the dedup_embed sf1 cliff; reused by the
  * MinHash cluster dedup).
  *
  * Buckets at or under `cap` contribute every member pair (full
  * within-bucket recall); oversized buckets contribute STAR edges to the
  * bucket representative (min id) — O(c) instead of O(c²). Total work is
  * Σ min(c, cap)·c/2 ≤ n·cap/2 per band: linear in corpus size with the
  * cap constant, where the uncapped self-join is Σ c²/2 and degenerates
  * quadratically whenever near-identical groups (or skewed sign bits)
  * pile members into one bucket. In that dense regime members are
  * mutually similar, so rep-centered edges recover the same connected
  * components. The bucket census is NDV-bounded and goes to both probes
  * as a broadcast, so no reducer ever sees an oversized bucket's
  * quadratic fan-out.
  *
  * The census runs as its own action, and its two halves re-enter the
  * plan as local relations. A broadcast collects its side on the driver
  * anyway; collected up front, the census is computed once (both sides
  * of the pair self-join read it, where a plan would give each side its
  * own copy of the aggregate), its broadcasts run no job, and an empty
  * half (no oversized bucket) drops its branch from the plan.
  */
object BandedCands {

  /** `bands` must expose (`idCol`, `bandCol`, `keyCol`); returns distinct
    * (id_a, id_b) with id_a < id_b. */
  def capped(bands: DataFrame, idCol: String, bandCol: String,
      keyCol: String, cap: Int): DataFrame = {
    val sz = bands.groupBy(bandCol, keyCol)
      .agg(count(lit(1)).as("c"), min(idCol).as("rep"))
    val (smallRows, bigRows) = sz.collect().toSeq.partition(_.getLong(2) <= cap)
    def local(rows: Seq[Row], cols: String*): DataFrame =
      bands.sparkSession.createDataFrame(rows.map(r => Row(cols.map(c =>
        r.get(sz.schema.fieldIndex(c))): _*)).asJava,
        StructType(cols.map(sz.schema(_))))
    val small = broadcast(local(smallRows, bandCol, keyCol))
    val inSmall = bands.join(small, Seq(bandCol, keyCol), "left_semi")
    val pairs = inSmall.as("x").join(inSmall.as("y"),
        col(s"x.$bandCol") === col(s"y.$bandCol") &&
          col(s"x.$keyCol") === col(s"y.$keyCol") &&
          col(s"x.$idCol") < col(s"y.$idCol"))
      .select(col(s"x.$idCol").as("id_a"), col(s"y.$idCol").as("id_b"))
    val big = broadcast(local(bigRows, bandCol, keyCol, "rep"))
    val stars = bands.join(big, Seq(bandCol, keyCol))
      .filter(col(idCol) =!= col("rep"))
      .select(col("rep").as("id_a"), col(idCol).as("id_b"))
    pairs.union(stars).distinct()
  }

  /** The DuckDB mirror of [[capped]] as two CTE bodies: callers splice
    * `bszName`/`candsName` into a WITH chain whose `bandsName` CTE
    * exposes (idCol, bandCol, keyCol). Kept textually next to the Spark
    * form so the two stay in lockstep. */
  def cappedSql(bandsName: String, idCol: String, bandCol: String,
      keyCol: String, cap: Int): String =
    s"""bsz AS (
       |    SELECT $bandCol, $keyCol, count(*) AS c, min($idCol) AS rep
       |    FROM $bandsName GROUP BY 1, 2),
       |  cands AS (
       |    SELECT x.$idCol AS id_a, y.$idCol AS id_b
       |    FROM $bandsName x
       |    JOIN bsz s ON s.$bandCol = x.$bandCol AND s.$keyCol = x.$keyCol
       |      AND s.c <= $cap
       |    JOIN $bandsName y ON x.$bandCol = y.$bandCol
       |      AND x.$keyCol = y.$keyCol AND x.$idCol < y.$idCol
       |    UNION
       |    SELECT s.rep AS id_a, b.$idCol AS id_b
       |    FROM $bandsName b JOIN bsz s ON s.$bandCol = b.$bandCol
       |      AND s.$keyCol = b.$keyCol
       |    WHERE s.c > $cap AND b.$idCol != s.rep)""".stripMargin
}
