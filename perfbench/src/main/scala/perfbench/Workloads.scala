package perfbench

import java.nio.file.{Files, Path}

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

import graft.profiler.{Codec, Diff, Gate, Profile, Profiler, Report}
import graft.sources.GraftData
import graft.streaming.StreamingProfiler

/** One timed op's outcome: the durations (s) of its steps, and a check
  * that runs after the op's clock stops and returns what it found wrong. */
final case class OpResult(steps: Seq[Double], check: () => Seq[String])

/** What every workload shares: the session, a private work directory,
  * the seed, and the tracer its layer calls report to. */
final class Ctx(val spark: SparkSession, val work: Path, val data: Path,
    val seed: Long, val tracer: Tracer) {
  def dir(sub: String): Path = Files.createDirectories(work.resolve(sub))
  def fresh(sub: String): Path = { Main.deleteTree(work.resolve(sub)); dir(sub) }
}

trait Workload {
  /** Make the inputs. Repeatable: setup runs it several times. */
  def prepare(): Unit
  /** Untimed ops that pay once for JIT, codegen and staged fixtures;
    * returns what their checks found wrong. */
  def warmUp(): Seq[String] = (1 to warmOps).flatMap(_ => op().check())
  def warmOps: Int = 1
  /** Ops measured at least, however long they take, so that every run's
    * medians rest on the same number of samples. */
  def minOps: Int
  def op(): OpResult
  /** Per-layer values this workload reads off its own results (pass
    * times, codec size), summed over traced ops. */
  val layerSums: scala.collection.mutable.Map[String, Double] =
    scala.collection.mutable.Map.empty
  protected def addLayer(name: String, v: Double): Unit =
    layerSums(name) = layerSums.getOrElse(name, 0.0) + v
}

object Workloads {
  val Names: Seq[String] = Seq("profile", "operator_mix")

  def apply(name: String, ctx: Ctx): Workload = name match {
    case "profile" => new ProfileFlow(ctx)
    case "operator_mix" => new OperatorMix(ctx)
    case other => throw new IllegalArgumentException(
      s"unknown workload '$other' (expected one of ${Names.mkString(", ")})")
  }

  val PassNames: Seq[String] = Seq("aggregate", "categories", "histograms",
    "order", "vocab", "labeler", "datetime_formats")

  def secondsOf[T](f: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = f
    (r, (System.nanoTime() - t0) / 1e9)
  }

  /** The exact stats a profile must reproduce, from a plain aggregate. */
  final case class Expected(rows: Long,
      nonNull: Map[String, Long],
      minMaxSum: Map[String, (Double, Double, Double)],
      categories: Map[String, Long])

  val NumericCols: Seq[String] = Seq("integer", "float", "ordered")

  def expected(df: DataFrame): Expected = {
    val names = df.columns.toSeq
    val aggs = Seq(count(lit(1)).as("__rows")) ++
      names.map(c => count(col(c)).as(s"n_$c")) ++
      NumericCols.flatMap(c => Seq(
        min(col(c)).cast("double").as(s"min_$c"),
        max(col(c)).cast("double").as(s"max_$c"),
        sum(col(c).cast("double")).as(s"sum_$c")))
    val r = df.agg(aggs.head, aggs.tail: _*).collect()(0)
    val cats = df.groupBy("categorical").count().collect()
      .map(x => x.getString(0) -> x.getLong(1)).toMap
    Expected(r.getAs[Long]("__rows"),
      names.map(c => c -> r.getAs[Long](s"n_$c")).toMap,
      NumericCols.map(c => c -> ((r.getAs[Double](s"min_$c"),
        r.getAs[Double](s"max_$c"), r.getAs[Double](s"sum_$c")))).toMap,
      cats)
  }

  /** Sums of doubles depend on addition order, which a merge changes, so
    * they match within the 1e-9 relative tolerance tools/check.py uses;
    * everything else must be equal. */
  private def close(a: Double, b: Double): Boolean =
    math.abs(a - b) <= 1e-9 + 1e-9 * math.abs(b)

  def compare(p: Profile, e: Expected): Seq[String] = {
    val errs = ArrayBuffer.empty[String]
    if (p.rowCount != e.rows) errs += s"rowCount ${p.rowCount} != ${e.rows}"
    e.nonNull.foreach { case (c, n) =>
      p.column(c) match {
        case None => errs += s"column $c missing from profile"
        case Some(cp) =>
          if (cp.n != n) errs += s"$c.n ${cp.n} != $n"
          if (cp.nulls != e.rows - n) errs += s"$c.nulls ${cp.nulls} != ${e.rows - n}"
      }
    }
    e.minMaxSum.foreach { case (c, (lo, hi, s)) =>
      p.column(c).flatMap(_.numeric) match {
        case None => errs += s"$c has no numeric stats"
        case Some(ns) =>
          if (ns.min != lo) errs += s"$c.min ${ns.min} != $lo"
          if (ns.max != hi) errs += s"$c.max ${ns.max} != $hi"
          if (!close(ns.sum, s)) errs += s"$c.sum ${ns.sum} != $s"
      }
    }
    val got = p.column("categorical").flatMap(_.categorical).map(_.counts)
    if (!got.contains(e.categories))
      errs += s"categorical counts $got != ${e.categories}"
    errs.toSeq
  }

  def codecRoundTrip(p: Profile): Seq[String] = {
    val back = Codec.decode(Codec.encode(p))
    val (a, b) = (Report.flat(p), Report.flat(back))
    val diff = (a.keySet ++ b.keySet).filter(k => a.get(k) != b.get(k))
    if (diff.isEmpty) Nil
    else Seq(s"Report.flat changed by the codec round trip at " +
      diff.toSeq.sorted.take(5).mkString(", "))
  }
}

import Workloads._

/** One op is the profiler used both ways round:
  *  1. batch: GraftData.load (sniff + read) → Profiler.profile with
  *     default options → Report.compact, on one seeded parquet file;
  *  2. stream: a file stream, one file per trigger under
  *     Trigger.AvailableNow, into StreamingProfiler.sink;
  *  3. once it drains: Gate.check and Diff.diff of the batch profile (the
  *     baseline) against the stream's profile, the reference harness's
  *     `profile + profile` merge of the two, and a Codec round trip.
  * Its step is the batch profile call. Each stream file costs one more
  * profile call (about 4 s); one file keeps a run's op count affordable,
  * and the merge is checked against a plain aggregate over both inputs. */
final class ProfileFlow(ctx: Ctx) extends Workload {
  val BatchRows = 8000
  val StreamFiles = 1
  val RowsPerFile = 2000
  def minOps: Int = 2

  private def batchFile: Path = ctx.work.resolve("batch").resolve("part-00000.parquet")
  private def streamDir: Path = ctx.work.resolve("stream")
  private var expBatch: Expected = _
  private var expStream: Expected = _
  private var expUnion: Expected = _
  private var streamNo = 0

  def prepare(): Unit = {
    Gen.write(ctx.spark, ctx.fresh("batch"), ctx.seed, 1, BatchRows)
    val files = Gen.write(ctx.spark, ctx.fresh("stream"), ctx.seed + 1,
      StreamFiles, RowsPerFile)
    // FileStreamSource replays in modification-time order
    val t0 = System.currentTimeMillis() - 60000L
    files.zipWithIndex.foreach { case (f, i) =>
      Files.setLastModifiedTime(f,
        java.nio.file.attribute.FileTime.fromMillis(t0 + 1000L * i))
    }
  }

  override def warmUp(): Seq[String] = {
    expBatch = expected(ctx.spark.read.parquet(batchFile.toString))
    expStream = expected(ctx.spark.read.parquet(streamDir.toString))
    expUnion = expected(ctx.spark.read.parquet(batchFile.toString, streamDir.toString))
    super.warmUp()
  }

  def op(): OpResult = {
    val t = ctx.tracer
    val loaded = t.span("sources.load")(GraftData.load(ctx.spark, batchFile.toString))
    val (base, profileS) =
      secondsOf(t.span("profiler.profile")(Profiler.profile(loaded.df)))
    t.span("profiler.report")(Report.compact(base))

    val sp = new StreamingProfiler()
    val done = ArrayBuffer.empty[Long]
    val t0 = System.nanoTime()
    streamNo += 1
    ctx.spark.readStream.schema(Gen.schema)
      .option("maxFilesPerTrigger", 1).parquet(streamDir.toString)
      .writeStream.foreachBatch { (b: DataFrame, id: Long) =>
        t.span("profiler.sink")(sp.sink(b, id))
        done += System.nanoTime()
        ()
      }
      .trigger(Trigger.AvailableNow())
      .option("checkpointLocation", ctx.fresh(s"checkpoint/$streamNo").toString)
      .start().awaitTermination()
    val merged = sp.current.getOrElse(sys.error("stream produced no profile"))

    val gate = t.span("profiler.gate")(Gate.check(base, merged))
    t.span("profiler.diff")(Diff.diff(base, merged))
    val both = t.span("profiler.merge")(base.merge(merged))
    t.span("profiler.codec")(Codec.decode(Codec.encode(merged)))

    if (t.enabled) {
      addLayer("profiler.codec_bytes", Codec.encode(merged).length.toDouble)
      PassNames.foreach(n => addLayer(s"profiler.pass_ms.$n",
        (base.timesMs.getOrElse(n, 0L) + merged.timesMs.getOrElse(n, 0L)).toDouble))
      addLayer("streaming.batch_s",
        (t0 +: done.toSeq).zip(done).map { case (a, b) => (b - a) / 1e9 }.sum / StreamFiles)
    }
    OpResult(Seq(profileS), () => {
      val errs = ArrayBuffer.empty[String]
      if (loaded.format != "parquet") errs += s"sniffed ${loaded.format}, not parquet"
      errs ++= compare(base, expBatch).map("batch: " + _)
      errs ++= codecRoundTrip(base).map("batch: " + _)
      if (done.length != StreamFiles)
        errs += s"${done.length} micro-batches, expected $StreamFiles"
      errs ++= compare(merged, expStream).map("stream: " + _)
      errs ++= compare(both, expUnion).map("merge: " + _)
      errs ++= gateCoverage(base, merged, gate)
      errs ++= codecRoundTrip(merged).map("stream: " + _)
      errs.toSeq
    })
  }

  /** Gate.check must emit exactly one row per (column, metric) pair the
    * two profiles share, plus the table row. */
  private def gateCoverage(a: Profile, b: Profile, rows: Seq[Gate.GateRow]): Seq[String] = {
    val want = Set((Gate.TableRow, "row_count_ratio_delta")) ++
      a.columns.flatMap { c1 =>
        b.column(c1.name).toSeq.flatMap { c2 =>
          Seq("null_ratio_delta") ++
            (if (c1.numeric.isDefined && c2.numeric.isDefined)
              Seq("mean_t_stat", "std_ratio_delta") else Nil) ++
            (if (c1.categorical.isDefined && c2.categorical.isDefined)
              Seq("chi2_per_dof", "unseen_categories") else Nil)
        }.map(m => (c1.name, m))
      }
    val got = rows.map(r => (r.column, r.metric))
    val errs = ArrayBuffer.empty[String]
    if (got.distinct.length != got.length) errs += "Gate.check repeated a (column, metric) row"
    val missing = want -- got
    val extra = got.toSet -- want
    if (missing.nonEmpty) errs += s"Gate.check missed ${missing.toSeq.sorted.take(5)}"
    if (extra.nonEmpty) errs += s"Gate.check emitted unexpected ${extra.toSeq.sorted.take(5)}"
    errs.toSeq
  }
}

/** One op: one pass over the operator queries, each result collected in
  * full. Inputs are the committed tables under data/; each result's
  * digest must match digests.tsv. The order is fixed: a seeded order
  * changed which plans were hot and what the last query left on the heap,
  * and spread op_s and peak_heap_mb across seeds by 10–40 %. */
final class OperatorMix(ctx: Ctx) extends Workload {
  private val all = graft.SparkEntry.queries
  private val want: Map[String, String] = OperatorMix.loadDigests(ctx.data)
  private val tables = ctx.data.resolve("sf0.01").toString
  /** After one warm-up pass the JIT is still busy: across ten runs the
    * next pass's program CPU spread by 13 %, the one after it by 4 %. */
  override def warmOps: Int = 2
  def minOps: Int = 2

  def prepare(): Unit = ()

  def op(): OpResult = {
    val results = ArrayBuffer.empty[(String, Array[Row], org.apache.spark.sql.types.StructType)]
    val steps = OperatorMix.Queries.map { q =>
      val ((rows, schema), s) = secondsOf(ctx.tracer.span(s"operators.$q") {
        val df = all(q)(ctx.spark, tables)
        (df.collect(), df.schema)
      })
      ctx.spark.catalog.clearCache()
      results += ((q, rows, schema))
      s
    }
    OpResult(steps, () => results.toSeq.flatMap { case (q, rows, schema) =>
      val d = Digest.of(schema.fieldNames.toSeq, rows.toSeq)
      if (want.get(q).contains(d)) Nil
      else Seq(s"$q digest $d != ${want.getOrElse(q, "(none stored)")}")
    })
  }

  /** Store each query's digest, and dump each result with the oracle SQL
    * so `python3 tools/check.py <tables> <out>` can confirm the digested
    * rows against DuckDB before the digests are committed. */
  def record(out: Path): Unit = {
    val lines = OperatorMix.Queries.sorted.map { q =>
      val df = all(q)(ctx.spark, tables)
      val rows = df.collect()
      ctx.spark.createDataFrame(java.util.Arrays.asList(rows: _*), df.schema)
        .coalesce(1).write.mode("overwrite").parquet(out.resolve(q).toString)
      s"$q\t${Digest.of(df.schema.fieldNames.toSeq, rows.toSeq)}\n"
    }
    Files.writeString(OperatorMix.digestFile(ctx.data), lines.mkString)
    val sql = graft.SparkEntry.oracleSql.filter(kv => OperatorMix.Queries.contains(kv._1))
    Files.writeString(out.resolve("oracle_sql.json"), sql.toSeq.sorted
      .map { case (k, v) => s"${Pure.jsonString(k)}: ${Pure.jsonString(v)}" }
      .mkString("{", ",\n", "}"))
  }
}

object OperatorMix {
  /** Queries from SparkEntry.queries, one per operator module: the
    * heaviest of each by committed bench time, limited to what one
    * pass can afford (see README.md). */
  val Queries: Seq[String] = Seq("stream_neardup", "dedup_minhash_clusters",
    "join_pricing", "json_scan")

  def digestFile(data: Path): Path = data.resolve("digests.tsv")

  /** Stored digests; none when the file is absent (every check then
    * fails, which is what a missing oracle record should do). */
  def loadDigests(data: Path): Map[String, String] =
    if (!Files.exists(digestFile(data))) Map.empty
    else Files.readAllLines(digestFile(data)).asScala.filter(_.nonEmpty)
      .map { l =>
        val Array(q, d) = l.split("\t")
        q -> d
      }.toMap
}
