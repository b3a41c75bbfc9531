package perfbench

import java.io.File

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryProgress, Trigger}

import graft.engine.{RefPipelines, Tables}
import graft.streaming._

/** The stream workload's parts: JSON-lines wire files read by a file source and
  * parsed by `EventSource`, fanned out by `StreamRunner.startAll` into the
  * six queries, written through the benchmark's wrappers around the
  * program's sinks.
  */
object Streams {
  val tables: Seq[String] = Seq(
    "events_full", "abnormal_value", "abnormal_discrepancy",
    "avg_revenue_per_hour", "trip_count_per_hour", "trip_count_by_borough")
  val detectors: Set[String] = Set("abnormal_value", "abnormal_discrepancy")
  val windowed: Seq[String] = Seq("avg_revenue_per_hour", "trip_count_per_hour", "trip_count_by_borough")

  /** One fan-out run: where it kept its state and output, and its queries. */
  final case class Run(ckpt: String, out: String, queries: Seq[StreamingQuery], startNs: Long, endNs: Long) {
    def seconds: Double = (endNs - startNs) / 1e9
  }

  def source(spark: SparkSession, dir: String, maxFiles: Option[Int]): DataFrame = {
    val reader = spark.readStream.format("text")
    val raw = maxFiles.fold(reader)(n => reader.option("maxFilesPerTrigger", n.toLong)).load(dir)
    EventSource.typed(EventSource.parseWire(raw))
  }

  def runner(spark: SparkSession, sink: BatchSink, ckpt: String, trigger: Option[Trigger], dimDir: String) =
    new StreamRunner(spark, new TimedSink(sink), new TimedAlerter(new LoggingAlerter), ckpt,
      trigger = trigger, dimDir = dimDir)

  /** Start the six queries on `inDir` under a `StreamRunner.run` span that
    * the caller ends; sink writes and alerts become its children.
    */
  def start(spark: SparkSession, inDir: String, runDir: String, sink: String => BatchSink,
      trigger: Option[Trigger], maxFiles: Option[Int], dimDir: String, scope: String, tracer: Tracer): (Long, Run) = {
    val ckpt = s"$runDir/ckpt"
    val out = s"$runDir/out"
    val r = runner(spark, sink(out), ckpt, trigger, dimDir)
    val sc = spark.sparkContext
    val span = tracer.begin("StreamRunner.run", runDir)
    Recorder.parentSpan = span
    val t0 = Clock.nowNs
    sc.setLocalProperty("perfbench.scope", scope)
    val qs = try tracer("StreamRunner.startAll", runDir, span)(_ => r.startAll(source(spark, inDir, maxFiles)))
      finally sc.setLocalProperty("perfbench.scope", null)
    (span, Run(ckpt, out, qs, t0, t0))
  }

  /** Drain every file in `inDir` under `Trigger.AvailableNow`. */
  def drain(spark: SparkSession, inDir: String, runDir: String, maxFiles: Int, dimDir: String, scope: String,
      tracer: Tracer): Run = {
    val (span, run) = start(spark, inDir, runDir, new ParquetSink(_), Some(Trigger.AvailableNow()),
      Some(maxFiles), dimDir, scope, tracer)
    run.queries.foreach(q => try q.awaitTermination() catch { case _: Exception => () })
    tracer.end(span)
    run.copy(endNs = Clock.nowNs)
  }

  private val mapper = new ObjectMapper()

  /** Input file name → batch id that consumed it, from the file source's
    * log, compacted files included (the log compacts every 10 batches).
    */
  def fileBatches(ckptQuery: String): Map[String, Long] = {
    val dir = new File(ckptQuery, "sources/0")
    Option(dir.listFiles).getOrElse(Array.empty[File])
      .filter(_.getName.matches("\\d+(\\.compact)?"))
      .flatMap { f =>
        val src = scala.io.Source.fromFile(f, "UTF-8")
        try src.getLines().drop(1).filter(_.trim.nonEmpty).map { l =>
          val n = mapper.readTree(l)
          val path = n.get("path").asText
          path.substring(path.lastIndexOf('/') + 1) -> n.get("batchId").asLong
        }.toList
        finally src.close()
      }.toMap
  }

  /** Batch id → the event-time watermark (ms) that batch ran with. */
  def watermarks(ckptQuery: String): Map[Long, Long] = {
    val dir = new File(ckptQuery, "offsets")
    Option(dir.listFiles).getOrElse(Array.empty[File])
      .filter(_.getName.matches("\\d+"))
      .map { f =>
        val src = scala.io.Source.fromFile(f, "UTF-8")
        try f.getName.toLong -> mapper.readTree(src.getLines().drop(1).next()).get("batchWatermarkMs").asLong
        finally src.close()
      }.toMap
  }

  /** Index of a generated file, from its name (`ev-<index>-<due ms>.json`). */
  def fileIndex(file: String): Long = file.split('-')(1).toLong

  /** End of each successful sink write, by (table, epoch). */
  def writeEnds(): Map[(String, Long), Long] =
    Recorder.writes.asScala.filter(_.ok).toSeq.groupMapReduce(w => (w.table, w.epoch))(_.endNs)(math.max)

  final case class Sample(file: String, table: String, dueMs: Double, endMs: Double) {
    def ms: Double = endMs - dueMs
  }

  /** One sample per pair of input file and query: from the file's due time
    * to the end of the sink write of the epoch that consumed it. A file the
    * query never wrote yields no sample; the caller counts it as failed.
    */
  def samples(run: Run, due: String => Double): (Seq[Sample], Int) = {
    val ends = writeEnds()
    var missing = 0
    val out = tables.flatMap { t =>
      fileBatches(s"${run.ckpt}/$t").toSeq.flatMap { case (f, b) =>
        ends.get((t, b)) match {
          case Some(ns) => Some(Sample(f, t, due(f), Clock.wallMs(ns)))
          case None => missing += 1; None
        }
      }
    }
    (out, missing)
  }

  /** Output checks against batch twins: the program's own operators run in
    * batch mode over the generated input, collected to the Spark driver (inputs
    * and outputs are small) and compared by content hash.
    * Returns (check name, passed, detail).
    */
  def check(spark: SparkSession, inDir: String, run: Run, ends: Map[(String, Long), Long], eventsPerFile: Int,
      nEvents: Long, dimDir: String, progress: Map[String, Seq[StreamingQueryProgress]],
      partitioned: Boolean): Seq[(String, Boolean, String)] = {
    def output(t: String): DataFrame = {
      val df = spark.read.parquet(s"${run.out}/$t")
      if (partitioned) df.drop("epoch") else df
    }
    def hash(df: DataFrame): (Long, String) = {
      val rows = df.collect()
      (rows.length.toLong, BatchMix.contentHash(df.schema.fieldNames, rows))
    }
    import spark.implicits._
    val all = EventSource.typed(EventSource.parseWire(spark.read.text(inDir))).cache()
    val times = all.select(col("event_id"), unix_seconds(col("ts"))).as[(Long, Option[Long])].collect()
    val twin = runner(spark, new CollectingSink, s"${run.ckpt}/_unused", None, dimDir)

    val ids = output("events_full").agg(count(lit(1)), countDistinct(col("event_id")), min("event_id"),
      max("event_id")).head()
    val fullOk = ids.getLong(0) == nEvents && ids.getLong(1) == nEvents &&
      ids.getLong(2) == 0L && ids.getLong(3) == nEvents - 1
    val detectorChecks = Seq(
      "abnormal_value" -> twin.abnormalValue(all),
      "abnormal_discrepancy" -> twin.abnormalDiscrepancy(all)).map { case (t, expected) =>
      val (got, want) = (hash(output(t)), hash(expected))
      (s"$t equals its batch twin", got == want, s"rows ${got._1}, expected ${want._1}")
    }
    val windowChecks = windowed.flatMap { t =>
      val ckpt = s"${run.ckpt}/$t"
      val wm = watermarks(ckpt)
      val fb = fileBatches(ckpt)
      val finalWm = ends.keySet.collect { case (`t`, b) => b }.toSeq.flatMap(wm.get).foldLeft(0L)(math.max)
      // Spark drops a row whose window ended at or before the watermark of
      // the batch BEFORE the one that read it (batch 0: none)
      val fileWm = fb.map { case (f, b) => fileIndex(f) -> (if (b == 0) 0L else wm(b - 1)) }
      val dropped = times.collect {
        case (id, Some(sec)) if (math.floorDiv(sec, 3600L) + 1) * 3600000L <=
            fileWm.getOrElse(id / eventsPerFile, Long.MinValue) => id
      }
      val keptDf = all.join(broadcast(dropped.toSeq.toDF("event_id")), Seq("event_id"), "left_anti")
      val expected = (t match {
        case "avg_revenue_per_hour" => RefPipelines.hourlyAvgRevenue(keptDf)
        case "trip_count_per_hour" => RefPipelines.hourlyTripCount(keptDf)
        case _ => RefPipelines.hourlyCountByLookup(keptDf, Tables.nation(spark, dimDir))
      }).filter(unix_seconds(to_timestamp(concat_ws(" ", col("date"), col("hour")))) + 3600 <= finalWm / 1000)
      val sparkDropped = progress.getOrElse(t, Nil).flatMap(_.stateOperators.map(_.numRowsDroppedByWatermark)).sum
      val consumed = fb.size == fileCount(inDir)
      val (got, want) = (hash(output(t)), hash(expected))
      Seq(
        (s"$t finalized windows equal the batch twin over kept rows", consumed && got == want,
          s"rows ${got._1}, expected ${want._1}, final watermark $finalWm"),
        // Spark counts a dropped row after partial aggregation, so one
        // count can stand for several rows of one window
        (s"$t late rows counted as dropped",
          (dropped.isEmpty == (sparkDropped == 0)) && sparkDropped <= dropped.size,
          s"model ${dropped.size}, spark $sparkDropped"))
    }
    all.unpersist()
    (("events_full holds each event_id once", fullOk, ids.toString) +: detectorChecks) ++ windowChecks
  }

  def fileCount(dir: String): Int =
    Option(new File(dir).list).getOrElse(Array.empty[String]).count(_.endsWith(".json"))
}

object Stats {
  /** Nearest-rank percentile (0 for no samples). */
  def pct(xs: Seq[Double], p: Double): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      s(math.min(s.size - 1, math.max(0, math.ceil(p / 100.0 * s.size).toInt - 1)))
    }

  /** The highest of p99, p90 and p50 with at least ten samples beyond it. */
  def tailPct(n: Int): Double =
    Seq(99.0, 90.0, 50.0).find(p => n * (100 - p) / 100.0 >= 10).getOrElse(50.0)
}
