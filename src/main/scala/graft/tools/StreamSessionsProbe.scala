package graft.tools

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Floor decomposition for `stream_sessions` — the largest remaining
  * streaming bench entry (r15: 5.0 s sf1 vs a 0.17 s batch oracle
  * restatement). The entry's cost brackets into four measurable layers,
  * each timed here under the bench session shape (local[SPARK_GRAFT_CPUS
  * |4], state-sized shuffle partitions, 16 MB splits, one data
  * micro-batch):
  *
  *   1. scan         — batch count() of the staged events file (parquet
  *                     scan + ts normalization; no session logic)
  *   2. batch plan   — the SAME session_window aggregation + census run
  *                     as a plain batch query (the "real work" a batch
  *                     engine pays), at the state-sized partition count
  *                     and at the full core count
  *   3. machinery    — a complete-mode memory-sink streaming query over
  *                     the same source with a ONE-ROW stateful agg:
  *                     micro-batch planning, offset log, state-store
  *                     commit/fsync, sink materialization — zero
  *                     session logic
  *   4. the entry    — stream_sessions exactly as benched, plus the
  *                     append-mode twin (the standing-pipeline scale
  *                     configuration the suite quotes for 100 TB)
  *
  * residual(entry − machinery − (batch plan − scan)) ≈ what the
  * MergingSessions STATE PATH adds over the stateless hash aggregate:
  * per-key session-sort on state update plus full-state iteration at
  * the complete-mode emit. The printed numbers feed SCALING.md's
  * stream_sessions row.
  *
  * Usage: SPARK_GRAFT_SF_DIR=... runMain graft.tools.StreamSessionsProbe
  */
object StreamSessionsProbe {

  private val GapSec = 1800

  def main(args: Array[String]): Unit = {
    val dir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val warmDir = sys.env.getOrElse("SPARK_GRAFT_WARM_DIR",
      "/root/testdata/sf0.001")
    val cpus = graft.GraftSession.envCpus()
    val spark = graft.GraftSession(cpus)

    def timed(f: => Unit): Double = {
      val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e9
    }
    import graft.operators.StreamingQueries.{eventsStream, sizedStatePartitions,
      withStatePartitions, streamSessionsAppend}

    def sessionsBatch(d: String): DataFrame =
      graft.Tables.load(spark, d, "events")
        .groupBy(session_window(col("ts"), s"$GapSec seconds"),
          col("user_id"))
        .agg(count(lit(1)).as("n_events"))
        .agg(count(lit(1)).as("n_sessions"),
          countDistinct("user_id").as("n_users"),
          round(avg("n_events"), 6).as("avg_events_per_session"))

    def minimalStream(d: String): Unit =
      graft.streaming.Bounded.drain(eventsStream(spark, d).agg(count(lit(1)).as("n")),
        "sessions_probe_floor", "complete").collect()

    val entry = graft.SparkEntry.queries("stream_sessions")

    // one untimed warm pass of every shape at the small SF (JIT,
    // codegen, stream staging) so the timed runs measure plans
    graft.Tables.load(spark, warmDir, "events").count()
    sessionsBatch(warmDir).collect()
    withStatePartitions(spark, sizedStatePartitions(warmDir, "events")) {
      minimalStream(warmDir); null
    }
    entry(spark, warmDir).collect()
    streamSessionsAppend(spark, warmDir).collect()

    val stateN = sizedStatePartitions(dir, "events")
    println(s"[sessions] dir=$dir cpus=$cpus statePartitions=$stateN")
    val scanSec = timed(graft.Tables.load(spark, dir, "events").count())
    println(f"[sessions] 1. batch scan+normalize count     $scanSec%7.3f s")
    val batchState = timed {
      withStatePartitions(spark, stateN) { sessionsBatch(dir).collect(); null }
    }
    println(f"[sessions] 2a. batch session plan @$stateN%-2d parts $batchState%7.3f s")
    val batchFull = timed(sessionsBatch(dir).collect())
    println(f"[sessions] 2b. batch session plan @$cpus%-2s parts $batchFull%7.3f s")
    val floorSec = timed {
      withStatePartitions(spark, stateN) { minimalStream(dir); null }
    }
    println(f"[sessions] 3. streaming machinery (1-row agg) $floorSec%7.3f s")
    val entrySec = timed(entry(spark, dir).collect())
    println(f"[sessions] 4. stream_sessions as benched      $entrySec%7.3f s")
    val appendSec = timed(streamSessionsAppend(spark, dir).collect())
    println(f"[sessions] 5. append-mode twin                $appendSec%7.3f s")
    // A/B: map-side session pre-merge before the state-store shuffle —
    // partial sessions are merged per input partition first, shrinking
    // both the exchange and the per-key state-update sort
    val entryLocal = graft.SessionConfs.withConf(spark,
        "spark.sql.streaming.sessionWindow.merge.sessions.in.local.partition",
        "true") {
      timed(entry(spark, dir).collect())
    }
    println(f"[sessions] 6. entry + local session pre-merge $entryLocal%7.3f s")
    val statePath = entrySec - floorSec - (batchState - scanSec)
    println(f"[sessions] decomposition: machinery=${floorSec}%.3f " +
      f"plan(batch@$stateN)=${batchState - scanSec}%.3f " +
      f"merging-sessions state path≈$statePath%.3f")
    spark.stop()
  }
}
