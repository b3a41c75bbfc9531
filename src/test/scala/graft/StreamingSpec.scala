package graft

import java.nio.file.Files
import java.sql.Timestamp

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQueryException
import org.scalatest.concurrent.{Signaler, ThreadSignaler, TimeLimits}
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.time.SpanSugar._

import graft.engine.RefPipelines
import graft.streaming._

/** Streaming-semantics tests (SURVEY.md §2.9) — the behaviors the DuckDB
  * oracle cannot check: watermark late-data drops, append-mode
  * finalized-window emission, foreachBatch sinks and alerts, 6-query
  * fan-out.
  */
case class Ev(event_id: Long, ts: Timestamp, user_id: Long, event_type: String, value: java.lang.Double, props: String)

/** A replayable parquet file source of [[Ev]] rows for `StreamRunner`:
  * MemoryStream truncates on commit and cannot feed six concurrent
  * queries. Each `add` lands as one file, so a query that drains between
  * adds sees each add as one epoch.
  */
final class EvFiles(spark: org.apache.spark.sql.SparkSession, dir: String) {
  import spark.implicits._
  def add(evs: Ev*): Unit = evs.toDS().coalesce(1).write.mode("append").parquet(dir)
  def stream: org.apache.spark.sql.DataFrame =
    spark.readStream.schema(org.apache.spark.sql.Encoders.product[Ev].schema).parquet(dir)
}

/** A [[CollectingSink]] whose writes to `table` fail. */
final class FailingSink(table: String) extends BatchSink {
  val rest = new CollectingSink
  def write(df: org.apache.spark.sql.DataFrame, epochId: Long, t: String): Unit =
    if (t == table) throw new IllegalStateException(s"$t sink is down") else rest.write(df, epochId, t)
}

class StreamingSpec extends AnyFunSuite with TimeLimits {
  import SparkTestSession._
  import spark.implicits._
  implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
  // failAfter interrupts a blocked await instead of waiting it out
  implicit val signaler: Signaler = ThreadSignaler

  private def ev(id: Long, hour: Int, min: Int, value: Double, typ: String = "purchase"): Ev =
    Ev(id, Timestamp.valueOf(f"2024-01-01 $hour%02d:$min%02d:00"), id % 25, typ, value, s"""{"k": ${value.toInt}}""")

  private def tmpDir(): String = Files.createTempDirectory("graft-stream").toString

  test("append-mode windowed agg emits a window only after the watermark passes its end") {
    val input = MemoryStream[Ev]
    val agg = RefPipelines.hourlyAvgRevenue(input.toDF().withWatermark("ts", "60 minutes"))
    val q = agg.writeStream
      .outputMode("append")
      .format("memory")
      .queryName("finalized_windows")
      .option("checkpointLocation", tmpDir())
      .start()
    try {
      // batch 1: events in hour 0 and hour 1 — nothing can finalize yet
      input.addData(ev(1, 0, 10, 10.0), ev(2, 0, 20, 20.0), ev(3, 1, 15, 30.0))
      q.processAllAvailable()
      assert(spark.table("finalized_windows").count() == 0, "window emitted before watermark passed")

      // batch 2: event at 03:30 → watermark 02:30 → hour-0 AND hour-1 windows finalize
      input.addData(ev(4, 3, 30, 40.0))
      q.processAllAvailable()
      val out1 = spark.table("finalized_windows").collect()
      assert(out1.map(_.getAs[String]("hour")).sorted.toSeq == Seq("00:00:00", "01:00:00"))
      val h0 = out1.find(_.getAs[String]("hour") == "00:00:00").get
      assert(h0.getAs[Double]("avg_revenue") == 15.0)

      // batch 3: straggler into hour 0 (>60 min late) must be dropped, not re-emitted
      input.addData(ev(5, 0, 30, 999.0))
      q.processAllAvailable()
      assert(spark.table("finalized_windows").count() == out1.length, "late row re-opened a finalized window")
    } finally q.stop()
  }

  test("sessionWindowStats runs incrementally: session emits once its gap closes under the watermark") {
    val input = MemoryStream[Ev]
    val sessions = graft.engine.Analytics
      .sessionWindowStats(input.toDF().withWatermark("ts", "60 minutes"), 30)
    val q = sessions.writeStream
      .outputMode("append")
      .format("memory")
      .queryName("native_sessions")
      .option("checkpointLocation", tmpDir())
      .start()
    try {
      // user 1: two events 10 min apart (one session); nothing finalizes yet
      input.addData(ev(1, 0, 0, 10.0), ev(26, 0, 10, 20.0))
      q.processAllAvailable()
      assert(spark.table("native_sessions").count() == 0)

      // event at 02:00 → watermark 01:00 > session end 00:40 → session emits
      input.addData(ev(51, 2, 0, 5.0))
      q.processAllAvailable()
      val out = spark.table("native_sessions").collect()
      assert(out.length == 1)
      val s = out.head
      assert(s.getAs[Long]("n_events") == 2 && s.getAs[Double]("total_value") == 30.0)
      // end = last event (00:10) + 30 min gap
      assert(s.getAs[Long]("session_end") - s.getAs[Long]("session_start") == 40 * 60)
    } finally q.stop()
  }

  test("slidingWindowStats runs incrementally: each event lands in two finalized windows") {
    val input = MemoryStream[Ev]
    val sliding = graft.engine.Analytics
      .slidingWindowStats(input.toDF().withWatermark("ts", "60 minutes"))
    val q = sliding.writeStream
      .outputMode("append")
      .format("memory")
      .queryName("sliding_windows")
      .option("checkpointLocation", tmpDir())
      .start()
    try {
      input.addData(ev(1, 0, 40, 10.0)) // windows [23:30-00:30) prev day? no: [00:00,01:00) and [00:30,01:30)
      input.addData(ev(2, 4, 0, 1.0))   // advances watermark to 03:00 → both windows finalize
      q.processAllAvailable()
      val out = spark.table("sliding_windows").collect().filter(_.getAs[Long]("n_events") > 0)
      val withEv1 = out.filter(r => r.getAs[Double]("sum_value") >= 10.0)
      assert(withEv1.length == 2, s"expected event in exactly 2 windows, got ${withEv1.length}")
      assert(withEv1.map(_.getAs[Long]("ws")).sorted.toSeq
        .sliding(2).forall { case Seq(a, b) => b - a == 1800 })
    } finally q.stop()
  }

  test("detectors alert on violations and write only violating rows; clean batches don't alert") {
    // The production alert path: StreamRunner's detector sink, fed epoch
    // by epoch from a replayable file source.
    val files = new EvFiles(spark, tmpDir())
    val sink = new CollectingSink
    val alerter = new CollectingAlerter
    val queries = new StreamRunner(spark, sink, alerter, tmpDir(), dimDir = sfDir).startAll(files.stream)
    try {
      files.add(ev(1, 0, 5, 50.0), ev(2, 0, 6, 0.5), ev(3, 0, 7, 500.0))
      queries.foreach(_.processAllAvailable())
      files.add(ev(4, 0, 8, 60.0)) // clean epoch for both detectors
      queries.foreach(_.processAllAvailable())
      files.add(
        ev(5, 0, 9, 130.0).copy(props = """{"k": 900}"""),
        ev(6, 0, 10, 20.0).copy(value = null))
      queries.foreach(_.processAllAvailable())

      def ids(table: String) = sink.rowsFor(table).map(_.getAs[Long]("event_id")).sorted
      assert(ids("abnormal_value") == Seq(2L, 3L, 5L))
      assert(ids("abnormal_discrepancy") == Seq(5L, 6L))
      // each epoch's alert carries exactly the rows that epoch wrote; an
      // epoch that wrote none (the clean one included) raises none
      for (table <- Seq("abnormal_value", "abnormal_discrepancy")) {
        val written = sink.batches.synchronized(sink.batches.filter(_._2 == table).toList)
        assert(written.map(_._1).sorted == Seq(0L, 1L, 2L), s"$table epochs")
        val expected = written.collect { case (e, _, rows) if rows.nonEmpty =>
          (s"$table violations", s"epoch $e: ${rows.length} rows")
        }
        assert(alerter.alerts.filter(_._1 == s"$table violations").toSet == expected.toSet)
      }
      assert(alerter.alerts.toSet == Set(
        ("abnormal_value violations", "epoch 0: 2 rows"),
        ("abnormal_value violations", "epoch 2: 1 rows"),
        ("abnormal_discrepancy violations", "epoch 2: 2 rows")))
      assert(alerter.alerts.size == 3)
    } finally queries.foreach(_.stop())
  }

  test("wire-format parse: empty strings null-normalize and cast (P1-P4)") {
    val input = MemoryStream[String]
    val typed = EventSource.typed(
      input.toDF().select(from_json(col("value"), EventSource.wireSchema).as("data")).select("data.*"))
    val q = typed.writeStream
      .outputMode("append")
      .format("memory")
      .queryName("wire_typed")
      .option("checkpointLocation", tmpDir())
      .start()
    try {
      input.addData(
        """{"event_id":"7","ts":"2024-01-01 00:00:07","user_id":"13","event_type":"error","value":"185.22","props":"{\"k\": 87}"}""",
        """{"event_id":"8","ts":"2024-01-01 00:01:00","user_id":"","event_type":"","value":"","props":""}""")
      q.processAllAvailable()
      val rows = spark.table("wire_typed").collect().sortBy(_.getAs[Long]("event_id"))
      assert(rows.length == 2)
      val ok = rows(0)
      assert(ok.getAs[Long]("event_id") == 7L)
      assert(ok.getAs[Timestamp]("ts") == Timestamp.valueOf("2024-01-01 00:00:07"))
      assert(ok.getAs[Double]("value") == 185.22)
      val nulls = rows(1)
      assert(nulls.isNullAt(nulls.fieldIndex("user_id")))
      assert(nulls.isNullAt(nulls.fieldIndex("event_type")))
      assert(nulls.isNullAt(nulls.fieldIndex("value")))
      assert(nulls.isNullAt(nulls.fieldIndex("props")))
    } finally q.stop()
  }

  test("idempotent sink: replaying an epoch leaves exactly one copy") {
    val sinkDir = tmpDir()
    val sink = new IdempotentParquetSink(sinkDir)
    val batch = Seq(ev(1, 0, 5, 50.0), ev(2, 0, 6, 60.0)).toDS().toDF()
    sink.write(batch, epochId = 0, table = "t")
    sink.write(batch, epochId = 0, table = "t") // replay after simulated crash
    val rows = spark.read.parquet(s"$sinkDir/t").count()
    assert(rows == 2, s"replayed epoch duplicated rows: $rows")
    // and the plain append sink shows why: same replay duplicates
    val appendDir = tmpDir()
    val append = new ParquetSink(appendDir)
    append.write(batch, 0, "t")
    append.write(batch, 0, "t")
    assert(spark.read.parquet(s"$appendDir/t").count() == 4)
  }

  test("Trigger.AvailableNow drains the backlog, stops, and resumes incrementally") {
    // The batch-catchup trigger: process everything available, then
    // terminate — re-running against the same checkpoint picks up ONLY
    // files that arrived since (a scheduled backfill over a 100 TB landing
    // zone, without a long-lived cluster).
    val srcDir = tmpDir()
    val ckpt = tmpDir()
    val sink = new CollectingSink
    Seq(ev(1, 0, 5, 10.0), ev(2, 0, 10, 20.0)).toDS().write.mode("append").parquet(srcDir)
    val schema = spark.read.parquet(srcDir).schema
    def drain(): Unit = {
      val q = spark.readStream.schema(schema).parquet(srcDir)
        .writeStream
        .option("checkpointLocation", ckpt)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .foreachBatch((b: org.apache.spark.sql.DataFrame, e: Long) => sink.write(b, e, "cat"))
        .start()
      assert(q.awaitTermination(60000), "AvailableNow query did not self-terminate")
    }
    drain()
    assert(sink.rowsFor("cat").size == 2)
    Seq(ev(3, 1, 0, 30.0)).toDS().write.mode("append").parquet(srcDir)
    drain() // same checkpoint: only the new file is processed
    assert(sink.rowsFor("cat").size == 3)
  }

  test("batch stages run unchanged on a stream: stratified sample matches its batch twin") {
    // The engine contract: operators are pure DataFrame => DataFrame
    // stages, so a map-side stage (deterministic hash sampling here)
    // composes into readStream without modification and selects exactly
    // the rows its batch twin selects on the same data.
    val input = MemoryStream[Ev]
    val strata = Map("purchase" -> 10)
    val sampled = graft.engine.Relational
      .stratifiedHashSample(input.toDF(), strata, 1, 20)
    val q = sampled.writeStream
      .outputMode("append")
      .format("memory")
      .queryName("stream_sample")
      .option("checkpointLocation", tmpDir())
      .start()
    try {
      val events = (1L to 200L).map(i =>
        ev(i, (i % 24).toInt, (i % 60).toInt, i.toDouble, if (i % 2 == 0) "purchase" else "view"))
      input.addData(events: _*)
      q.processAllAvailable()
      val streamed = spark.table("stream_sample").collect().map(_.getAs[Long]("event_id")).sorted
      val batch = graft.engine.Relational
        .stratifiedHashSample(events.toDF(), strata, 1, 20)
        .collect().map(_.getAs[Long]("event_id")).sorted
      assert(streamed.nonEmpty && streamed.toSeq == batch.toSeq)
    } finally q.stop()
  }

  test("firstTouch runs as a streaming update-mode aggregation, converging to its batch twin") {
    // The dual claim to the sampling test: a STATEFUL stage (min_by
    // aggregate) also composes into readStream unchanged — update mode
    // streams the running winner per key, and once all data is
    // processed the latest row per key equals the batch answer.
    val input = MemoryStream[Ev]
    val touched = graft.engine.Relational.firstTouch(input.toDF())
    val q = touched.writeStream
      .outputMode("update")
      .format("memory")
      .queryName("stream_first_touch")
      .option("checkpointLocation", tmpDir())
      .start()
    try {
      val events = (1L to 100L).map(i =>
        ev(i, (i % 12).toInt, (i % 60).toInt, i.toDouble, if (i % 3 == 0) "view" else "purchase"))
      // two batches, out of order across them
      input.addData(events.drop(50): _*)
      q.processAllAvailable()
      input.addData(events.take(50): _*)
      q.processAllAvailable()
      val streamed = spark.table("stream_first_touch").collect()
        .map(r => (r.getAs[Long]("user_id"), r.getAs[String]("event_type")) -> r.getAs[Long]("event_id"))
        .toMap // last update per key wins
      val batch = graft.engine.Relational.firstTouch(events.toDF()).collect()
        .map(r => (r.getAs[Long]("user_id"), r.getAs[String]("event_type")) -> r.getAs[Long]("event_id"))
        .toMap
      assert(streamed == batch)
    } finally q.stop()
  }

  test("six-query fan-out: all queries run concurrently off one source") {
    val files = new EvFiles(spark, tmpDir())
    val batch1 = Seq(
      ev(1, 0, 10, 50.0), ev(2, 0, 20, 0.2), ev(3, 1, 15, 30.0, "signup"),
      ev(4, 9, 0, 40.0)) // far-future event advances watermark past hours 0-1
    val batch2 = Seq(ev(5, 10, 0, 41.0)) // second epoch flushes window state
    val sink = new CollectingSink
    val alerter = new CollectingAlerter
    val runner = new StreamRunner(spark, sink, alerter, tmpDir(), dimDir = sfDir)
    val queries = runner.startAll(files.stream)
    try {
      assert(queries.length == 6)
      files.add(batch1: _*)
      queries.foreach(_.processAllAvailable())
      files.add(batch2: _*)
      queries.foreach(_.processAllAvailable())

      assert(sink.rowsFor("events_full").size == 5)
      assert(sink.rowsFor("abnormal_value").map(_.getAs[Long]("event_id")) == Seq(2L))
      assert(sink.rowsFor("abnormal_discrepancy").isEmpty)
      assert(alerter.alerts.toSeq == Seq(("abnormal_value violations", "epoch 0: 1 rows")))
      // windowed sinks hold exactly the finalized windows of their batch
      // twins: the final watermark is 10:00 - 60 min, so every window
      // that ends by 09:00 (all on one date) is final and no other is
      val all = (batch1 ++ batch2).toDF()
      val twins = Map(
        "avg_revenue_per_hour" -> RefPipelines.hourlyAvgRevenue(all),
        "trip_count_per_hour" -> RefPipelines.hourlyTripCount(all),
        "trip_count_by_borough" ->
          RefPipelines.hourlyCountByLookup(all, graft.engine.Tables.nation(spark, sfDir)))
      for ((table, twin) <- twins) {
        val expected = twin.filter(col("hour") < "09:00:00").collect()
        assert(expected.nonEmpty, s"$table twin has no finalized window")
        assert(sink.rowsFor(table).map(_.toString).sorted == expected.map(_.toString).toSeq.sorted, table)
      }
    } finally queries.foreach(_.stop())
  }

  private val windowed = Set("avg_revenue_per_hour", "trip_count_per_hour", "trip_count_by_borough")

  private def statePartitions(q: org.apache.spark.sql.streaming.StreamingQuery): Long =
    q.lastProgress.stateOperators(0).numShufflePartitions

  test("windowed queries run one state partition; the caller's shuffle setting is left as it was") {
    val key = "spark.sql.shuffle.partitions"
    val before = spark.conf.get(key)
    val files = new EvFiles(spark, tmpDir())
    files.add(ev(1, 0, 10, 50.0), ev(2, 1, 15, 30.0, "signup"), ev(3, 3, 0, 40.0))
    def runner() = new StreamRunner(spark, new CollectingSink, new CollectingAlerter, tmpDir(), dimDir = sfDir)

    val queries = runner().startAll(files.stream)
    try {
      assert(spark.conf.get(key) == before)
      queries.foreach(_.processAllAvailable())
      assert(queries.map(_.name).toSet.intersect(windowed) == windowed)
      for (q <- queries if windowed(q.name)) assert(statePartitions(q) == 1, q.name)
    } finally queries.foreach(_.stop())

    // a start that throws inside the pinned scope still restores the setting
    val blocker = files.stream.writeStream
      .format("noop")
      .queryName("avg_revenue_per_hour")
      .option("checkpointLocation", tmpDir())
      .start()
    val active = spark.streams.active.map(_.id).toSet
    try {
      intercept[IllegalArgumentException](runner().startAll(files.stream))
      assert(spark.conf.get(key) == before)
    } finally {
      spark.streams.active.filterNot(q => active(q.id)).foreach(_.stop())
      blocker.stop()
    }

    // and a setting that was unset stays unset
    spark.conf.unset(key)
    try {
      runner().startAll(files.stream).foreach(_.stop())
      assert(!spark.conf.getAll.contains(key))
    } finally spark.conf.set(key, before)
  }

  test("restart: a windowed checkpoint written at four partitions keeps four through startAll") {
    // The first run starts avg_revenue_per_hour outside startAll, at the
    // spec session's 4 partitions; startAll then resumes it from that
    // checkpoint. The hour-1 window holds state from both runs.
    assert(spark.conf.get("spark.sql.shuffle.partitions") == "4")
    val files = new EvFiles(spark, tmpDir())
    val root = tmpDir()
    val sink = new CollectingSink
    val batch1 = Seq(ev(1, 0, 10, 50.0), ev(2, 1, 15, 30.0), ev(3, 2, 30, 20.0, "signup"))
    val batch2 = Seq(ev(4, 1, 45, 70.0), ev(5, 4, 0, 41.0)) // 01:45 is behind 02:30 but inside the watermark
    val table = "avg_revenue_per_hour"

    files.add(batch1: _*)
    val first = RefPipelines.hourlyAvgRevenue(files.stream.withWatermark("ts", "60 minutes"))
      .writeStream
      .outputMode("append")
      .option("checkpointLocation", s"$root/$table")
      .foreachBatch((b: org.apache.spark.sql.DataFrame, e: Long) => sink.write(b, e, table))
      .start()
    try first.processAllAvailable()
    finally first.stop()
    assert(statePartitions(first) == 4)
    assert(sink.rowsFor(table).map(_.getAs[String]("hour")) == Seq("00:00:00"))

    files.add(batch2: _*)
    val queries = new StreamRunner(spark, sink, new CollectingAlerter, root, dimDir = sfDir).startAll(files.stream)
    try {
      queries.foreach(_.processAllAvailable())
      for (q <- queries if windowed(q.name))
        assert(statePartitions(q) == (if (q.name == table) 4 else 1), q.name)
      // the final watermark is 03:00: windows that end by then are final
      val expected = RefPipelines.hourlyAvgRevenue((batch1 ++ batch2).toDF())
        .filter(col("hour") < "03:00:00")
        .collect()
      assert(expected.map(_.getAs[String]("hour")).sorted.toSeq == Seq("00:00:00", "01:00:00", "02:00:00"))
      assert(sink.rowsFor(table).map(_.toString).sorted == expected.map(_.toString).toSeq.sorted)
    } finally queries.foreach(_.stop())
  }

  test("awaitAll returns once every query has ended") {
    val files = new EvFiles(spark, tmpDir())
    files.add(ev(1, 0, 10, 50.0), ev(2, 0, 20, 0.2))
    val sink = new CollectingSink
    val runner = new StreamRunner(
      spark, sink, new CollectingAlerter, tmpDir(), dimDir = sfDir,
      trigger = Some(org.apache.spark.sql.streaming.Trigger.AvailableNow()))
    val queries = runner.startAll(files.stream)
    try {
      failAfter(2.minutes)(runner.awaitAll(queries))
      assert(queries.forall(q => !q.isActive && q.exception.isEmpty))
      assert(sink.rowsFor("events_full").size == 2)
    } finally queries.foreach(_.stop())
  }

  test("awaitAll throws when any query fails, and stops the others first") {
    val files = new EvFiles(spark, tmpDir())
    files.add(ev(1, 0, 10, 50.0), ev(2, 0, 20, 0.2))
    val runner = new StreamRunner(spark, new FailingSink("abnormal_value"), new CollectingAlerter, tmpDir(), dimDir = sfDir)
    val queries = runner.startAll(files.stream)
    try {
      // abnormal_value is not the first query: awaiting the queries in
      // turn would block on events_full, which never ends
      assert(queries.head.name == "events_full" && queries.exists(_.name == "abnormal_value"))
      val e = failAfter(2.minutes)(intercept[StreamingQueryException](runner.awaitAll(queries)))
      val causes = Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
      assert(causes.exists(_.getMessage == "abnormal_value sink is down"), e)
      assert(queries.forall(!_.isActive))
    } finally queries.foreach(_.stop())
  }
}
