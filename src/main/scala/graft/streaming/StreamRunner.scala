package graft.streaming

import scala.concurrent.duration._
import scala.util.control.NonFatal

import org.apache.spark.sql.{DataFrame, Observation, SparkSession}
import org.apache.spark.sql.execution.streaming.checkpointing.FileSystemBasedCheckpointFileManager
import org.apache.spark.sql.graft.ListenerFence
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryException, Trigger}

import graft.engine.{RefPipelines, Stages}

/** The reference `main()` rebuilt (SURVEY.md §3.1,
  * `spark_streaming.py:340-360`): ONE typed source stream fans out into
  * SIX concurrent streaming queries, each with its own checkpoint dir and
  * a shared `foreachBatch` sink; detectors additionally alert.
  *
  * Semantics preserved (SURVEY.md §2.9):
  *  - append output mode on ALL queries — windowed aggregations emit each
  *    window exactly once, only after the 60-minute watermark passes its
  *    end (finalized windows);
  *  - detectors and the full-table copy carry NO watermark — every row,
  *    however late, is processed;
  *  - at-least-once into sinks (append per epoch, no dedup);
  *  - per-query checkpoints ⇒ each query re-reads the source with its own
  *    offsets;
  *  - the three windowed queries run ONE shuffle/state partition
  *    ([[windowedStatePartitions]]), fixed in each checkpoint at first
  *    start. Map-side partial aggregation runs before the exchange, so
  *    the one reducer sees at most (map tasks × open windows × 25
  *    boroughs) rows per batch, whatever the input rate; more partitions
  *    would only add state-store commits to every trigger;
  *  - checkpoints (offset and commit logs, source logs, state files) are
  *    written through Spark's `FileSystemBasedCheckpointFileManager`
  *    ([[checkpointFileManager]]).
  *
  * Detector analogs on the events stream: the duration detector becomes a
  * value-range violation (F1), the fee detector a discrepancy between
  * `value` and the payload's claimed amount `props.k` (F2) — same derived
  * column + violation-filter + count + alert shape as
  * `spark_streaming.py:155-239`.
  */
final class StreamRunner(
    spark: SparkSession,
    sink: BatchSink,
    alerter: Alerter,
    checkpointRoot: String,
    // dimension snapshot for the stream-static lookup join
    dimDir: String,
    trigger: Option[Trigger] = None) {

  /** The reference's event-time watermark (SURVEY.md §2.9); the batch
    * twins of the windowed queries assume this value.
    */
  private val watermark = "60 minutes"

  /** Shuffle (and so state-store) partitions of the windowed queries.
    * Each trigger loads, updates and commits one state store per
    * partition, so the per-trigger cost grows with this number, not with
    * the data. Map-side partial aggregation runs before the exchange: the
    * single reducer sees at most (map tasks × open windows × 25 boroughs)
    * rows per batch, whatever the input rate. A query's first batch
    * records the value in its offset log and a restart restores it from
    * there, so a checkpoint written at another count keeps that count.
    */
  private val windowedStatePartitions = 1

  /** The checkpoint file manager of every query `startAll` starts.
    * Spark's default, `FileContextBasedCheckpointFileManager`, renames each
    * checkpoint file through `AbstractFileSystem.renameInternal`, which
    * resolves symlinks on both paths of the file and of its `.crc`: without
    * the native Hadoop library, each resolution forks a `readlink`, about
    * eight processes per rename. The FileSystem-based manager renames with
    * `FileSystem.rename`, `File.renameTo` on a local disk, which forks
    * nothing. It is no weaker than the default:
    *  - on a local disk, FileContext's no-overwrite rename is itself
    *    check-then-rename (`renameInternal`'s "non-atomic" default), as this
    *    manager's is, and the rename(2) under both is atomic;
    *  - on HDFS, `FileSystem.rename` refuses an existing destination, so a
    *    second writer of the same log entry fails as it does by default.
    */
  private val checkpointFileManager = classOf[FileSystemBasedCheckpointFileManager].getName

  /** [[abnormalValue]] flags a value outside [valueLo, valueHi]. */
  private val valueLo = 1.0
  private val valueHi = 120.0

  /** [[abnormalDiscrepancy]] flags a claimed amount further than this from `value`. */
  private val discrepancyThreshold = 100.0

  /** foreachBatch writer shared by all queries (K2). The reference
    * computes each detector batch twice (count + write, no cache —
    * SURVEY.md §3.2). Here the detector's row count rides inside the
    * write: the batch is handed to the sink under an `Observation`, so the
    * scan, parse and filter run once, in the sink's one action
    * ([[BatchSink]] contract). Each detector epoch is therefore exactly one
    * Spark job on every shipped sink (`DetectorSinkSpec` counts them per
    * batch), with nothing cached. The count settles on the listener bus
    * after the action; [[ListenerFence]] bounds that wait, so a sink that
    * ran no action fails the epoch instead of hanging it.
    */
  private def sinkTo(table: String, alertOnRows: Boolean = false)(df: DataFrame): StreamingQuery = {
    val base = df.writeStream
      .outputMode("append")
      .option("checkpointLocation", s"$checkpointRoot/$table")
    trigger
      .fold(base)(base.trigger)
      .foreachBatch { (batch: DataFrame, epochId: Long) =>
        if (alertOnRows) {
          val written = Observation()
          sink.write(batch.observe(written, count(lit(1)).as("rows")), epochId, table)
          // a generous bound: the bus settles the count well within a second
          val n = ListenerFence
            .observed(batch.sparkSession.sparkContext, written, 2.minutes)
            .getOrElse(throw new IllegalStateException(
              s"sink ${sink.getClass.getName} ran no Spark action over $table epoch $epochId: " +
                "BatchSink.write must run exactly one action over its DataFrame"))
            .getLong(0)
          // alert AFTER the write lands: a failed write replays the
          // whole epoch, and alerting first would send one alert per
          // retry (a crash between write and alert can still repeat
          // the alert on replay — the at-least-once contract)
          if (n > 0) alerter.alert(s"$table violations", s"epoch $epochId: $n rows")
        } else sink.write(batch, epochId, table)
      }
      .queryName(table)
      .start()
  }

  /** Detector 1 analog: value outside [`valueLo`, `valueHi`] (reference
    * `spark_streaming.py:155-193`).
    */
  def abnormalValue(events: DataFrame): DataFrame =
    events
      .filter(Stages.rangeViolation(col("value"), valueLo, valueHi))
      .select(
        col("event_id"),
        col("user_id"),
        date_format(col("ts"), "yyyy-MM-dd HH:mm:ss").as("event_time"),
        round(col("value"), 2).as("value"))

  /** Detector 2 analog: payload-claimed amount vs actual value
    * discrepancy-or-null (reference `spark_streaming.py:196-239`).
    */
  def abnormalDiscrepancy(events: DataFrame): DataFrame =
    events
      .withColumn(
        "caculated_value",
        // try_cast: a non-numeric claimed amount must flow through the
        // discrepancy-or-null predicate as NULL (the reference's
        // non-ANSI semantics) — a plain cast under this build's ANSI
        // default would throw on the first dirty record and crash-loop
        // the detector from its checkpoint
        get_json_object(col("props"), "$.k").try_cast(org.apache.spark.sql.types.DoubleType))
      .filter(Stages.discrepancyOrNull(col("value"), col("caculated_value"), discrepancyThreshold))
      .select(
        col("event_id"),
        col("user_id"),
        round(col("value"), 2).as("value"),
        col("caculated_value"))

  private def watermarked(events: DataFrame): DataFrame =
    events.withWatermark("ts", watermark)

  /** Start the three windowed queries with [[windowedStatePartitions]]
    * shuffle partitions. `start()` clones the session synchronously, so the
    * setting is briefly set on `events`' session and restored (or unset)
    * afterwards, also when a start throws. The queries stay registered
    * with the caller's `spark.streams`, whose listeners keep hearing them.
    */
  private def startWindowed(events: DataFrame): Seq[StreamingQuery] = {
    val key = "spark.sql.shuffle.partitions"
    val conf = events.sparkSession.conf
    val previous = conf.getAll.get(key)
    conf.set(key, windowedStatePartitions.toLong)
    try Seq(
      sinkTo("avg_revenue_per_hour")(RefPipelines.hourlyAvgRevenue(watermarked(events))),
      sinkTo("trip_count_per_hour")(RefPipelines.hourlyTripCount(watermarked(events))),
      sinkTo("trip_count_by_borough")(
        RefPipelines.hourlyCountByLookup(
          watermarked(events),
          graft.engine.Tables.nation(spark, dimDir))))
    finally previous.fold(conf.unset(key))(conf.set(key, _))
  }

  /** Start all six queries (the reference's fan-out, `:348-353`), each
    * checkpointing through [[checkpointFileManager]]. The setting is left
    * on `events`' session: each file source builds its own log on its
    * query thread after `start()` returns, from that session, so restoring
    * the previous value would race with it.
    */
  def startAll(events: DataFrame): Seq[StreamingQuery] = {
    events.sparkSession.conf.set("spark.sql.streaming.checkpointFileManagerClass", checkpointFileManager)
    Seq(
      sinkTo("events_full")(RefPipelines.fullTable(events)),
      sinkTo("abnormal_value", alertOnRows = true)(abnormalValue(events)),
      sinkTo("abnormal_discrepancy", alertOnRows = true)(abnormalDiscrepancy(events))) ++
      startWindowed(events)
  }

  /** How long [[awaitAll]] waits on one query before it looks at the next. */
  private val awaitPollMs = 100L

  /** Block until every query has ended (reference `:355-360`). Each query
    * is awaited in turn for [[awaitPollMs]], so a failure in any of them
    * is seen within one round: the others are then stopped and the
    * failure is thrown.
    */
  def awaitAll(queries: Seq[StreamingQuery]): Unit = {
    var running = queries
    try while (running.nonEmpty) running = running.filterNot(_.awaitTermination(awaitPollMs))
    catch {
      case e: StreamingQueryException =>
        queries.foreach(q => try q.stop() catch { case NonFatal(s) => e.addSuppressed(s) })
        throw e
    }
  }
}
