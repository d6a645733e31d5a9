package graft.operators

import org.apache.spark.sql.{DataFrame, GraftSessions, Observation, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

/** Oracle coverage for the Structured Streaming path (SURVEY §2.10): the
  * events table is replayed through a FILE STREAM (Trigger.AvailableNow,
  * the bounded-replay mode) into a watermarked event-time windowed
  * aggregation, collected via a memory sink. Because streaming and batch
  * share the same incremental aggregation semantics, the emitted windows
  * must equal the DuckDB batch restatement exactly — this gates the
  * streaming plumbing (file source, event-time windows, watermark,
  * memory sink), not just the merge algebra the unit tests cover.
  *
  * At scale this is the standing-pipeline shape: readStream from an
  * arriving directory, watermark bounds state, windows emit downstream;
  * AvailableNow is how the same query backfills history in bounded runs.
  */
object StreamingQueries extends QueryModule {

  private val WindowSecs = 21600L // 6 hours
  private val SinkName = "graft_stream_windows"

  /** Stage `events.parquet` behind a symlink dir and open it as a
    * normalized file stream — shared front door of every events-driven
    * streaming query here. The file stream source ingests DIRECTORIES
    * (its arrival contract); the target is ABSOLUTIZED (a relative sfDir
    * would otherwise resolve against the stage dir — a silently-broken
    * link), the stage name includes a digest of the absolute path
    * (sanitization alone maps distinct dirs to one name), and the link
    * is recreated per run (a stale or broken link would survive a
    * follow-links existence check). events.ts is nanos-long in older
    * generations — same legacy knob + ts normalization as Tables.load,
    * but through readStream. */
  private[graft] def eventsStream(s: SparkSession, dir: String): DataFrame = {
    s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val path = s"$dir/events.parquet"
    val target = java.nio.file.Paths.get(path).toAbsolutePath.normalize()
    val digest = java.security.MessageDigest.getInstance("MD5")
      .digest(target.toString.getBytes("UTF-8"))
      .take(6).map("%02x".format(_)).mkString
    val stage = graft.Stage.dir("stream_events").resolve(digest)
    java.nio.file.Files.createDirectories(stage)
    val link = stage.resolve("events.parquet")
    java.nio.file.Files.deleteIfExists(link)
    java.nio.file.Files.createSymbolicLink(link, target)
    val schema = s.read.parquet(path).schema
    // maxFilesPerTrigger=1 over the single staged file PINS the replay
    // at exactly one data micro-batch: without the option the source's
    // own batching heuristics decide, and a run that happens to split
    // differently shifts per-batch scheduling cost and makes bench
    // times incomparable round over round (stream_* totals swung 2-4×
    // on identical code). stream_profile/stream_neardup pin the same
    // way over their fixed 4-file stages.
    graft.Tables.normalizeEventsTs(
      s.readStream.schema(schema).option("maxFilesPerTrigger", 1)
        .parquet(stage.toString))
  }

  private def windowsFrame(s: SparkSession, dir: String): DataFrame =
    eventsStream(s, dir)
      .withWatermark("ts", "1 hour")
      .groupBy(window(col("ts"), s"$WindowSecs seconds"), col("event_type"))
      .agg(
        count(lit(1)).as("n"),
        round(sum("value"), 2).as("sum_value"),
        min("event_id").as("min_event"),
        max("event_id").as("max_event"))

  private def streamWindows(s: SparkSession, dir: String): DataFrame = {
    val stream = windowsFrame(s, dir)
    scala.util.Try(s.catalog.dropTempView(SinkName))
    val q = stream.writeStream
      .format("memory").queryName(SinkName)
      .outputMode("complete")
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    graft.streaming.StreamMetrics.dump(q, "stream_windows")
    s.table(SinkName)
      .select(
        date_format(col("window.start"), "yyyy-MM-dd HH:mm:ss")
          .as("window_start"),
        col("event_type"), col("n"), col("sum_value"),
        col("min_event"), col("max_event"))
      .orderBy("window_start", "event_type")
  }

  private val streamWindowsSql =
    s"""SELECT strftime(to_timestamp((epoch_us(ts) // ${WindowSecs}000000)
       |         * $WindowSecs), '%Y-%m-%d %H:%M:%S') AS window_start,
       |  event_type, count(*) AS n,
       |  round(sum(value), 2) AS sum_value,
       |  min(event_id) AS min_event,
       |  max(event_id) AS max_event
       |FROM events
       |GROUP BY 1, 2
       |ORDER BY window_start, event_type""".stripMargin

  // ------------------------------------------------------------ stream_dedup
  private val DedupSinkName = "graft_stream_dedup"
  private val DedupKeyMod = 500

  /** Streaming EXACT DEDUP — the standing-pipeline twin of `dedup_exact`:
    * `dropDuplicates` holds the seen-key set as streaming state and
    * passes each arriving event at most once into the downstream
    * windowed census. The dedup key includes the event-time window, so
    * which arrival of a duplicate survives never changes the output —
    * that arrival-order independence is what makes a batch oracle exact
    * for a streaming dedup (a keep-FIRST census would depend on replay
    * order). At scale the key set is watermark-evicted per window;
    * bounded replay keeps it in memory here.
    */
  private def dedupFrame(s: SparkSession, dir: String): DataFrame =
    eventsStream(s, dir)
      .withColumn("win_start",
        (unix_timestamp(col("ts")) - unix_timestamp(col("ts")) % WindowSecs)
          .cast("long"))
      .withColumn("key", col("event_id") % DedupKeyMod)
      .dropDuplicates("win_start", "key")
      .groupBy("win_start")
      .agg(count(lit(1)).as("n_unique_keys"))

  private def streamDedup(s: SparkSession, dir: String): DataFrame = {
    val stream = dedupFrame(s, dir)
    scala.util.Try(s.catalog.dropTempView(DedupSinkName))
    val q = stream.writeStream
      .format("memory").queryName(DedupSinkName)
      .outputMode("complete")
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    graft.streaming.StreamMetrics.dump(q, "stream_dedup")
    s.table(DedupSinkName)
      .select(
        date_format(timestamp_seconds(col("win_start")),
          "yyyy-MM-dd HH:mm:ss").as("window_start"),
        col("n_unique_keys"))
      .orderBy("window_start")
  }

  private val streamDedupSql =
    s"""SELECT strftime(to_timestamp((epoch_us(ts) // ${WindowSecs}000000)
       |         * $WindowSecs), '%Y-%m-%d %H:%M:%S') AS window_start,
       |  count(DISTINCT event_id % $DedupKeyMod) AS n_unique_keys
       |FROM events
       |GROUP BY 1
       |ORDER BY window_start""".stripMargin

  // ------------------------------------------------------- stream_neardup
  /** STREAMING incremental MinHash dedup — the standing-pipeline twin of
    * `dedup_incremental`, actually run on the streaming runtime: the
    * documents table is staged as [[NearDupBatches]] files (batch k =
    * doc_id % [[NearDupBatches]], mtimes strictly increasing so the file
    * stream replays k in order), and each micro-batch
    *
    *  1. computes its MinHash band keys map-only (md5 family, oracle);
    *  2. LEFT SEMI probes the PERSISTED band index parquet — flagged
    *     docs share a band bucket with anything previously admitted;
    *  3. appends only the ADMITTED docs' bands to the index.
    *
    * The index is a parquet table, not driver state — the batch cost is
    * O(|batch|) regardless of corpus size and nothing ever rescans old
    * text (at scale the index would be bucketed on (band, sig)). The
    * census (per batch: size, flagged, admitted) is restated by the
    * oracle as an unrolled batch-order computation, so any deviation in
    * replay order or probe semantics breaks the hash.
    *
    * Session contract: each micro-batch runs on the session that called
    * this query, not on the stream's own session. A stream runs on a
    * clone session made anew at every `start()`, with its own executor
    * class loader, which keys Spark's codegen cache; the sink re-binds
    * the batch's plan onto the caller's session
    * ([[org.apache.spark.sql.GraftSessions.foreachBatchOn]]), so a
    * repeat run on one session compiles no class again. */
  private val NearDupBatches = 4

  private def streamNearDup(s: SparkSession, dir: String): DataFrame = {
    val docs = graft.Tables.load(s, dir, "documents").select("doc_id", "text")
    // key the staged input by CONTENT, not just path: size+mtime of the
    // source parquet ride the digest, so regenerating the data in place
    // invalidates the stage instead of silently replaying stale batches
    val srcFile = java.nio.file.Paths.get(dir, "documents.parquet")
    val srcSig =
      if (java.nio.file.Files.exists(srcFile))
        s"${java.nio.file.Files.size(srcFile)}:" +
          s"${java.nio.file.Files.getLastModifiedTime(srcFile).toMillis}"
      else "nofile"
    val digest = java.security.MessageDigest.getInstance("MD5")
      .digest((java.nio.file.Paths.get(dir).toAbsolutePath.normalize()
        .toString + "|" + srcSig).getBytes("UTF-8"))
      .take(6).map("%02x".format(_)).mkString
    val root = graft.Stage.dir("stream_neardup").resolve(digest)
    val stage = root.resolve("in")
    val indexDir = root.resolve("index").toString
    val stagedOk = stage.resolve("_staged_ok")
    // fresh run: the index accumulates during replay, so a stale one
    // from a previous invocation would double-flag everything. The
    // STAGED INPUT is digest-keyed to the source file's (path, size,
    // mtime), so it is reusable across invocations AND self-invalidates
    // when the data is regenerated in place (the marker is written only
    // after all batch files + mtimes land) — re-staging cost 4 filtered
    // writes of the documents table per run, ~1.5 s of the sf0.1 wall.
    org.apache.commons.io.FileUtils
      .deleteDirectory(root.resolve("index").toFile)
    if (!java.nio.file.Files.exists(stagedOk)) {
      org.apache.commons.io.FileUtils.deleteDirectory(stage.toFile)
      java.nio.file.Files.createDirectories(stage)
      (0 until NearDupBatches).foreach { k =>
        val f = stage.resolve(f"batch-$k%04d.parquet")
        docs.filter(col("doc_id") % NearDupBatches === k)
          .coalesce(1).write.mode("overwrite").parquet(f.toString + ".dir")
        val part = new java.io.File(f.toString + ".dir").listFiles()
          .find(x => x.getName.startsWith("part-")
            && x.getName.endsWith(".parquet"))
          .getOrElse(sys.error(s"no part file for batch $k"))
        java.nio.file.Files.move(part.toPath, f,
          java.nio.file.StandardCopyOption.REPLACE_EXISTING)
        org.apache.commons.io.FileUtils
          .deleteDirectory(new java.io.File(f.toString + ".dir"))
        // strictly increasing mtimes pin the FileStreamSource replay order
        java.nio.file.Files.setLastModifiedTime(f,
          java.nio.file.attribute.FileTime.fromMillis(1700000000000L + k * 60000L))
      }
      java.nio.file.Files.createFile(stagedOk)
    }
    val results =
      scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Long, Long)]
    // every batch, the first included, builds the same plan: the index
    // starts as an empty directory, read with the bands' known schema
    // (no footer-inference job; AQE still drops batch 0's empty probe
    // when it runs)
    val bandsSchema = DedupQueries.bandsOf(
      DedupQueries.minhashWide(docs, useMd5 = true)).schema
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(indexDir))
    val sink = GraftSessions.foreachBatchOn(s) { (batch, _) =>
      // ONE pass over the batch: an eager local checkpoint of its bands,
      // which both the probe and the append read (a cache would be built
      // twice: AQE materializes each cached reference as its own
      // concurrent stage). The batch census rides it as an observation:
      // k is data-derived, so a replay-order deviation surfaces as an
      // oracle mismatch, and each doc has exactly NumBands band rows.
      val batchObs = new Observation("stream_neardup_batch")
      val bands = DedupQueries.bandsOf(
          DedupQueries.minhashWide(batch, useMd5 = true))
        .observe(batchObs,
          (min(col("doc_id")) % NearDupBatches).as("k"),
          count(lit(1)).as("rows"))
        .localCheckpoint()
      // NO distinct on the index side: LEFT SEMI ignores build-side
      // duplicates by construction (at 100 TB the index would be
      // bucketed on (band, sig) and the probe exchange-free)
      val flagged = bands.join(
          s.read.schema(bandsSchema).parquet(indexDir).select("band", "sig"),
          Seq("band", "sig"), "left_semi")
        .select("doc_id")
      // then ONE action: the append of the admitted docs' bands, which
      // counts them on the way
      val admittedObs = new Observation("stream_neardup_admitted")
      bands.join(flagged, Seq("doc_id"), "left_anti")
        .observe(admittedObs, count(lit(1)).as("rows"))
        .write.mode("append").parquet(indexDir)
      graft.functions.releaseCheckpoint(bands)
      val kn = batchObs.get
      val rows = kn("rows").asInstanceOf[Long]
      // skip ONLY the truly-empty batch (AvailableNow may add an empty
      // tail): a nonempty batch whose ids are all NULL is an
      // ingest/schema regression — fail loudly instead of masking it
      if (rows > 0) {
        require(kn("k") != null,
          s"stream_neardup: nonempty micro-batch (${rows} band rows) " +
            "has all-NULL doc_id — upstream ingest regression")
        val nDocs = rows / DedupQueries.NumBands
        val admitted =
          admittedObs.get("rows").asInstanceOf[Long] / DedupQueries.NumBands
        results += ((kn("k").asInstanceOf[Long], nDocs, nDocs - admitted,
          admitted))
      }
    }
    val q = s.readStream.schema(docs.schema)
      .option("maxFilesPerTrigger", 1).parquet(stage.toString)
      .writeStream.foreachBatch(sink)
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    graft.streaming.StreamMetrics.dump(q, "stream_neardup")
    import s.implicits._
    results.sortBy(_._1).toSeq
      .toDF("batch", "n_docs", "n_flagged", "n_admitted")
  }

  /** Unrolled batch-order restatement: admitted bands accumulate batch
    * by batch, each batch's flags probe the accumulation so far. */
  private val streamNearDupSql = {
    val wide = DedupQueries.minhashWideSql("SELECT doc_id, text FROM documents")
    val bandSigs = (0 until 4).map { b =>
      val cat = (0 until 4).map(r => s"mh${b * 4 + r}").mkString(" || '|' || ")
      s"SELECT doc_id, $b AS band, md5($cat) AS sig FROM wide"
    }.mkString("\nUNION ALL\n")
    val n = NearDupBatches
    // flagged_k = batch-k docs sharing a band with admitted bands of
    // batches < k; admitted bands of batch k = bands of its unflagged docs
    val steps = (0 until n).map { k =>
      val prev = (0 until k).map(j => s"adm$j").reduceOption(_ + " UNION ALL SELECT * FROM " + _)
      val flaggedDef = prev match {
        case None => s"flag$k AS (SELECT DISTINCT doc_id FROM bands WHERE false)"
        case Some(p) =>
          s"""flag$k AS (
             |  SELECT DISTINCT x.doc_id FROM bands x
             |  WHERE x.doc_id % $n = $k AND EXISTS (
             |    SELECT 1 FROM (SELECT * FROM $p) i
             |    WHERE i.band = x.band AND i.sig = x.sig))""".stripMargin
      }
      s"""$flaggedDef,
         |adm$k AS (
         |  SELECT band, sig FROM bands
         |  WHERE doc_id % $n = $k
         |    AND doc_id NOT IN (SELECT doc_id FROM flag$k))""".stripMargin
    }.mkString(",\n")
    val rows = (0 until n).map { k =>
      s"""SELECT $k AS batch,
         |  (SELECT count(*) FROM documents WHERE doc_id % $n = $k) AS n_docs,
         |  (SELECT count(*) FROM flag$k) AS n_flagged,
         |  (SELECT count(*) FROM documents WHERE doc_id % $n = $k)
         |    - (SELECT count(*) FROM flag$k) AS n_admitted""".stripMargin
    }.mkString("\nUNION ALL\n")
    s"""WITH wide AS (
       |$wide),
       |bands AS (
       |$bandSigs),
       |$steps
       |SELECT CAST(batch AS BIGINT) AS batch,
       |  CAST(n_docs AS BIGINT) AS n_docs,
       |  CAST(n_flagged AS BIGINT) AS n_flagged,
       |  CAST(n_admitted AS BIGINT) AS n_admitted
       |FROM ($rows) u ORDER BY batch""".stripMargin
  }

  // ------------------------------------------------------ stream_sessions
  private val SessionGapSec = 1800
  private val SessSinkName = "graft_stream_sessions"

  /** STREAMING sessionization via `session_window` — the native
    * merging-session operator (not the batch lag/running-sum plan
    * win_session uses): each event opens a [ts, ts+gap] window, the
    * stateful MergingSessions operator coalesces overlapping windows per
    * user as batches arrive. Bounded replay runs in complete mode so
    * every session emits; the standing-pipeline mode is the same query
    * with append output, where the watermark finalizes sessions and
    * evicts their state — that eviction is what bounds state at 100 TB
    * (the per-user key space distributes across the state store).
    * The memory sink holds per-session rows; the census aggregation
    * mirrors win_session's so the two sessionizers are comparable
    * (session_window spans are first..last+gap, so dur subtracts the
    * trailing gap back out). */
  private def sessionsFrame(s: SparkSession, dir: String): DataFrame =
    eventsStream(s, dir)
      .groupBy(
        session_window(col("ts"), s"$SessionGapSec seconds"), col("user_id"))
      .agg(count(lit(1)).as("n_events"))

  private def streamSessions(s: SparkSession, dir: String): DataFrame = {
    val stream = sessionsFrame(s, dir)
    scala.util.Try(s.catalog.dropTempView(SessSinkName))
    val q = stream.writeStream
      .format("memory").queryName(SessSinkName)
      .outputMode("complete")
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    graft.streaming.StreamMetrics.dump(q, "stream_sessions")
    s.table(SessSinkName)
      .select(col("user_id"), col("n_events"),
        // session_window.end = last_ts + gap; take the gap back out so
        // dur matches the batch (max ts − min ts) definition
        ((unix_micros(col("session_window.end"))
          - unix_micros(col("session_window.start")))
          .cast("double") / 1e6 - SessionGapSec).as("dur_sec"))
      .agg(
        count(lit(1)).as("n_sessions"),
        countDistinct("user_id").as("n_users"),
        round(avg("n_events"), 6).as("avg_events_per_session"),
        max("n_events").as("max_session_events"),
        round(avg("dur_sec"), 3).as("avg_session_dur_sec"))
  }

  /** Batch restatement: gaps-and-islands with the same `> gap` break
    * (session_window merges windows that touch, i.e. keeps gap ≤ the
    * duration, identical to lag-gap > duration starting a new island). */
  private val streamSessionsSql =
    s"""WITH gaps AS (
       |  SELECT user_id, ts,
       |    date_diff('microsecond',
       |      lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id),
       |      ts) / 1e6 AS gap_sec,
       |    event_id
       |  FROM events),
       |numbered AS (
       |  SELECT user_id, ts,
       |    sum(CASE WHEN gap_sec IS NULL OR gap_sec > $SessionGapSec
       |             THEN 1 ELSE 0 END)
       |      OVER (PARTITION BY user_id ORDER BY ts, event_id
       |            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
       |      AS sess_id
       |  FROM gaps),
       |sessions AS (
       |  SELECT user_id, sess_id, count(*) AS n_events,
       |    date_diff('microsecond', min(ts), max(ts)) / 1e6 AS dur_sec
       |  FROM numbered GROUP BY 1, 2)
       |SELECT count(*) AS n_sessions,
       |  count(DISTINCT user_id) AS n_users,
       |  round(avg(n_events), 6) AS avg_events_per_session,
       |  CAST(max(n_events) AS BIGINT) AS max_session_events,
       |  round(avg(dur_sec), 3) AS avg_session_dur_sec
       |FROM sessions""".stripMargin

  /** Append-mode twin of [[streamSessions]] — the STANDING-pipeline
    * configuration, benched but not oracle-gated: with a watermark, the
    * MergingSessions state for a session is EVICTED once the watermark
    * passes its close, and only finalized sessions emit (sessions still
    * open against the terminal watermark never appear — which is exactly
    * why the bounded-replay gate uses complete mode). The emitted
    * censuses document the eviction: last_state_rows in the metrics dump
    * tracks retained sessions, not history. */
  def streamSessionsAppend(s: SparkSession, dir: String): DataFrame =
    withStatePartitions(s, sizedStatePartitions(dir, "events")) {
      streamSessionsAppendImpl(s, dir)
    }

  private def streamSessionsAppendImpl(s: SparkSession, dir: String): DataFrame = {
    val stream = eventsStream(s, dir)
      .withWatermark("ts", "1 hour")
      .groupBy(
        session_window(col("ts"), s"$SessionGapSec seconds"), col("user_id"))
      .agg(count(lit(1)).as("n_events"))
    val sink = SessSinkName + "_append"
    scala.util.Try(s.catalog.dropTempView(sink))
    val q = stream.writeStream
      .format("memory").queryName(sink)
      .outputMode("append")
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    graft.streaming.StreamMetrics.dump(q, "stream_sessions_append")
    s.table(sink)
      .agg(
        count(lit(1)).as("n_finalized_sessions"),
        countDistinct("user_id").as("n_users"),
        round(avg("n_events"), 6).as("avg_events_per_session"))
  }

  // -------------------------------------------------------- stream_enrich
  private val EnrichSinkName = "graft_stream_enrich"

  /** Stream-static ENRICHMENT join — the standing-pipeline lookup shape:
    * every micro-batch of the event stream joins the static customer
    * dimension (broadcast: the dim is loaded once and shipped to
    * executors, never shuffled per batch) before the watermarked
    * windowed rollup by market segment. This is how a 100 TB pipeline
    * attaches slowly-changing dimensions to a firehose: stream-static
    * inner joins are stateless (no join state to watermark), so the
    * only stateful operator remains the downstream window agg. */
  private def enrichFrame(s: SparkSession, dir: String): DataFrame = {
    val dim = broadcast(graft.Tables.load(s, dir, "customer")
      .select(col("c_custkey"), col("c_mktsegment")))
    eventsStream(s, dir)
      .withWatermark("ts", "1 hour")
      .join(dim, col("user_id") === col("c_custkey"))
      .groupBy(window(col("ts"), s"$WindowSecs seconds"),
        col("c_mktsegment"))
      .agg(count(lit(1)).as("n"), round(sum("value"), 2).as("sum_value"))
  }

  private def streamEnrich(s: SparkSession, dir: String): DataFrame = {
    val stream = enrichFrame(s, dir)
    scala.util.Try(s.catalog.dropTempView(EnrichSinkName))
    val q = stream.writeStream
      .format("memory").queryName(EnrichSinkName)
      .outputMode("complete")
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    graft.streaming.StreamMetrics.dump(q, "stream_enrich")
    s.table(EnrichSinkName)
      .select(
        date_format(col("window.start"), "yyyy-MM-dd HH:mm:ss")
          .as("window_start"),
        col("c_mktsegment"), col("n"), col("sum_value"))
      .orderBy("window_start", "c_mktsegment")
  }

  private val streamEnrichSql =
    s"""SELECT strftime(to_timestamp((epoch_us(ts) // ${WindowSecs}000000)
       |         * $WindowSecs), '%Y-%m-%d %H:%M:%S') AS window_start,
       |  c_mktsegment, count(*) AS n,
       |  round(sum(value), 2) AS sum_value
       |FROM events JOIN customer ON user_id = c_custkey
       |GROUP BY 1, 2
       |ORDER BY window_start, c_mktsegment""".stripMargin

  // ---------------------------------------------------------- stream_join
  private val JoinSinkName = "graft_stream_join"
  private val JoinUserMod = 20
  private val JoinHorizonSec = 3600L

  /** STREAM-STREAM interval join — the last stateful streaming operator
    * family: view events join purchase events of the same user arriving
    * within the next hour. Both sides carry watermarks and the join
    * predicate carries the time-range bound — together they let the
    * state store EVICT buffered rows once the other side's watermark
    * passes their horizon, which is what makes an unbounded two-stream
    * join runnable forever at 100 TB. Bounded replay emits exactly the
    * batch join (nothing is ever late in AvailableNow replay), so the
    * DuckDB restatement is the full inner join with the same bounds.
    * A deterministic user sample (user_id % [[JoinUserMod]] = 0) keeps
    * the pair universe census-sized at any SF. */
  private def joinFrame(s: SparkSession, dir: String): DataFrame = {
    val views = eventsStream(s, dir)
      .filter(col("event_type") === "view"
        && col("user_id") % JoinUserMod === 0)
      .select(col("user_id").as("v_user"), col("ts").as("v_ts"))
      .withWatermark("v_ts", "1 hour")
    val purchases = eventsStream(s, dir)
      .filter(col("event_type") === "purchase"
        && col("user_id") % JoinUserMod === 0)
      .select(col("user_id").as("p_user"), col("ts").as("p_ts"))
      .withWatermark("p_ts", "1 hour")
    views.join(purchases,
      expr(s"""v_user = p_user AND p_ts >= v_ts
              |AND p_ts <= v_ts + interval $JoinHorizonSec seconds"""
        .stripMargin.replace('\n', ' ')))
  }

  private def streamJoin(s: SparkSession, dir: String): DataFrame =
    streamJoinImpl(s, dir, suffix = "")

  private def streamJoinImpl(s: SparkSession, dir: String,
      suffix: String): DataFrame = {
    val joined = joinFrame(s, dir)
    val sink = JoinSinkName + suffix
    scala.util.Try(s.catalog.dropTempView(sink))
    val q = joined.writeStream
      .format("memory").queryName(sink)
      .outputMode("append")
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    graft.streaming.StreamMetrics.dump(q, "stream_join" + suffix)
    s.table(sink)
      .agg(
        count(lit(1)).as("n_pairs"),
        countDistinct("v_user").as("n_users"),
        round(avg((unix_micros(col("p_ts")) - unix_micros(col("v_ts")))
          .cast("double") / 1e6), 3).as("avg_gap_sec"),
        max((unix_micros(col("p_ts")) - unix_micros(col("v_ts")))
          .cast("double") / 1e6).as("max_gap_sec"))
  }

  /** RocksDB-state-store twin of [[streamJoin]] — the DEPLOYMENT
    * configuration a standing 100 TB stream-stream join runs (state
    * off-heap in RocksDB instead of the in-memory HashMap provider, so
    * buffered-row state scales past executor heap; the documented knob
    * from SCALING.md's cluster notes, r19 verdict #6). Benched as a
    * variant, never oracle-gated: the provider is a storage knob — the
    * emitted aggregate is identical to stream_join's (spec-pinned),
    * the bench row measures the per-batch commit-path constant the
    * deployment mode pays. Session conf saved/restored around the run
    * (provider class is fixed at query start). */
  def streamJoinRocksdb(s: SparkSession, dir: String): DataFrame =
    withStatePartitions(s, sizedStatePartitions(dir, "events")) {
      graft.SessionConfs.withConf(s, "spark.sql.streaming.stateStore.providerClass",
          "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider") {
        streamJoinImpl(s, dir, suffix = "_rocksdb")
      }
    }

  private val streamJoinSql =
    s"""SELECT count(*) AS n_pairs,
       |  count(DISTINCT v.user_id) AS n_users,
       |  round(avg(date_diff('microsecond', v.ts, p.ts) / 1e6), 3)
       |    AS avg_gap_sec,
       |  max(date_diff('microsecond', v.ts, p.ts) / 1e6) AS max_gap_sec
       |FROM events v JOIN events p
       |  ON v.user_id = p.user_id
       |  AND v.event_type = 'view' AND p.event_type = 'purchase'
       |  AND v.user_id % $JoinUserMod = 0
       |  AND p.ts >= v.ts
       |  AND p.ts <= v.ts + INTERVAL $JoinHorizonSec SECONDS""".stripMargin

  /** Pre-sink STREAMING frames for PlanAudit: the registered queries
    * are eager (they run the whole bounded replay), so plan review goes
    * through these builders — the exact frames the production sinks
    * start, minus the start. (stream_neardup is absent by design: its
    * per-batch work lives in a foreachBatch body, audited via
    * dedup_minhash whose band plan it reuses.) */
  private[graft] def auditFrames(
      s: SparkSession, dir: String): Seq[(String, DataFrame)] = Seq(
    "stream_windows" -> windowsFrame(s, dir),
    "stream_dedup" -> dedupFrame(s, dir),
    "stream_sessions" -> sessionsFrame(s, dir),
    "stream_enrich" -> enrichFrame(s, dir),
    "stream_join" -> joinFrame(s, dir))

  /** Measured state-store crossover on this box (r12, paired windows):
    * 4 stores optimal at sf0.1 (~2 MB streamed input), 8 at sf1 (~17 MB;
    * stream_sessions 9.06 → 6.76 s), 16 regresses at both. The sizing
    * signal is the streamed table's on-disk bytes (free to read, known
    * before the query starts — per-window state rows scale linearly with
    * input at fixed window width); 4 MB splits the two measured points
    * with margin on each side. A real cluster sizes stores to executor
    * count instead — SCALING.md deployment notes. */
  private val StateCrossoverBytes = 4L << 20

  /** State-store count for a stream over `dir/table.parquet`, derived
    * from input scale: below the crossover the per-store per-batch
    * commit fsyncs dominate (fewer stores win); above it per-store state
    * volume dominates (more stores win). `streamedFraction` scales the
    * on-disk bytes when the query stages only a slice of the table
    * (stream_profile's `% mod < keep` filter) — the crossover must key
    * on the bytes actually streamed, not the table's. */
  private[graft] def sizedStatePartitions(dir: String, table: String,
      streamedFraction: Double = 1.0): Int = {
    val p = java.nio.file.Paths.get(s"$dir/$table.parquet")
    val bytes =
      try {
        if (java.nio.file.Files.isDirectory(p)) {
          val st = java.nio.file.Files.walk(p)
          try st.filter(java.nio.file.Files.isRegularFile(_))
            .mapToLong(java.nio.file.Files.size(_)).sum()
          finally st.close()
        } else java.nio.file.Files.size(p)
      } catch { case _: Exception => 0L }
    if (bytes * streamedFraction >= StateCrossoverBytes) 8 else 4
  }

  /** Run a streaming-query body under a STATE-SIZED shuffle-partition
    * count (input-derived via [[sizedStatePartitions]];
    * SPARK_GRAFT_STREAM_PARTITIONS / graft.stream.partitions override),
    * then restore the session's setting. shuffle.partitions is the
    * state-store count for a streaming query, fixed at start: at the
    * bench's bounded replay, 32 stores × N stateful operators ×
    * per-batch commit fsyncs were the measured ~3.4 s machinery floor
    * of every stream_* entry — pure harness cost, zero plan
    * information. The query OUTPUT is partition-count-independent
    * (asserted in OperatorSemanticsSpec), and a real deployment sizes
    * stores to its cluster as SCALING.md's deployment notes describe. */
  private[graft] def withStatePartitions(s: SparkSession, sized: Int = 4)(
      f: => DataFrame): DataFrame = {
    // system property first so the partition-independence spec can vary
    // the count in-process; env for bench/deployment runs
    graft.SessionConfs.withConf(s, "spark.sql.shuffle.partitions",
      sys.props.getOrElse("graft.stream.partitions",
        sys.env.getOrElse("SPARK_GRAFT_STREAM_PARTITIONS", sized.toString)))(f)
  }

  /** [[withStatePartitions]] sized from the streamed table's bytes. */
  private def withSizedState(s: SparkSession, dir: String, table: String)(
      f: => DataFrame): DataFrame =
    withStatePartitions(s, sizedStatePartitions(dir, table))(f)

  override val qs: Seq[Q] = Seq(
    Q("stream_windows",
      (s, d) => withSizedState(s, d, "events")(streamWindows(s, d)),
      Some(streamWindowsSql)),
    Q("stream_dedup",
      (s, d) => withSizedState(s, d, "documents")(streamDedup(s, d)),
      Some(streamDedupSql)),
    Q("stream_neardup",
      (s, d) => withSizedState(s, d, "documents")(streamNearDup(s, d)),
      Some(streamNearDupSql)),
    Q("stream_sessions",
      (s, d) => withSizedState(s, d, "events")(streamSessions(s, d)),
      Some(streamSessionsSql)),
    Q("stream_enrich",
      (s, d) => withSizedState(s, d, "events")(streamEnrich(s, d)),
      Some(streamEnrichSql)),
    Q("stream_join",
      (s, d) => withSizedState(s, d, "events")(streamJoin(s, d)),
      Some(streamJoinSql)))
}
