package graft

import java.nio.file.Files
import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicInteger

import scala.concurrent.duration._
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.graft.ListenerFence
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryException}
import org.scalatest.funsuite.AnyFunSuite

import graft.streaming._

/** The detectors' single-pass contract in `StreamRunner`: the row count
  * for the alert rides inside the sink's one write job, so each detector
  * micro-batch is one Spark job, caches nothing, alerts only after the
  * write lands, and fails loudly when a sink breaks the one-action
  * contract of [[BatchSink]].
  */
class DetectorSinkSpec extends AnyFunSuite {
  import SparkTestSession._

  private val detectors = Set("abnormal_value", "abnormal_discrepancy")

  private def tmpDir(): String = Files.createTempDirectory("graft-detector").toString

  private def ev(id: Long, min: Int, value: Double): Ev =
    Ev(id, java.sql.Timestamp.valueOf(f"2024-01-01 00:$min%02d:00"), id % 25, "purchase", value,
      s"""{"k": ${value.toInt}}""")

  private val violating = Seq(ev(1, 1, 50.0), ev(2, 2, 0.5), ev(3, 3, 500.0))
  private val clean = Seq(ev(4, 4, 60.0))

  /** Jobs per (streaming query id, batch id), from the local properties
    * the micro-batch thread stamps on every job it submits.
    */
  private final class JobsPerBatch extends SparkListener {
    private val jobs = new ConcurrentHashMap[(String, Long), AtomicInteger]()
    override def onJobStart(e: SparkListenerJobStart): Unit =
      for {
        p <- Option(e.properties)
        q <- Option(p.getProperty("sql.streaming.queryId"))
        b <- Option(p.getProperty("streaming.sql.batchId"))
      } jobs.computeIfAbsent((q, b.toLong), _ => new AtomicInteger).incrementAndGet()
    def of(q: StreamingQuery): Map[Long, Int] =
      jobs.asScala.collect { case ((id, b), n) if id == q.id.toString => b -> n.get }.toMap
  }

  /** Starts the six queries over `files`, runs `body`, stops them. */
  private def withRunner[T](files: EvFiles, sink: BatchSink, alerter: Alerter, ckpt: String)(
      body: Seq[StreamingQuery] => T): T = {
    val queries = new StreamRunner(spark, sink, alerter, ckpt, dimDir = sfDir).startAll(files.stream)
    try body(queries) finally queries.foreach(_.stop())
  }

  private def persisted: Set[Int] = spark.sparkContext.getPersistentRDDs.keySet.toSet

  test("one Spark job and one alert per violating detector micro-batch, on every shipped sink") {
    // the JDBC sink is the reference's production path: its write plan
    // must settle the row count as the file writes do
    def derby(): String = s"jdbc:derby:memory:graft_detector_${System.nanoTime};create=true"
    val sinks = Seq[(String, () => BatchSink)](
      "ParquetSink" -> (() => new ParquetSink(tmpDir())),
      "IdempotentParquetSink" -> (() => new IdempotentParquetSink(tmpDir())),
      "IdempotentJdbcSink" -> (() => new IdempotentJdbcSink(derby(), new java.util.Properties)),
      "CollectingSink" -> (() => new CollectingSink))
    for ((name, mk) <- sinks) {
      val jobs = new JobsPerBatch
      val alerter = new CollectingAlerter
      spark.sparkContext.addSparkListener(jobs)
      try {
        val files = new EvFiles(spark, tmpDir())
        withRunner(files, mk(), alerter, tmpDir()) { queries =>
          for (batch <- Seq(violating, clean, violating)) {
            files.add(batch: _*)
            queries.foreach(_.processAllAvailable())
          }
          ListenerFence.await(spark.sparkContext, 1.minute)
          for (q <- queries if detectors(q.name))
            assert(jobs.of(q) == Map(0L -> 1, 1L -> 1, 2L -> 1), s"$name ${q.name} jobs per batch")
        }
      } finally spark.sparkContext.removeSparkListener(jobs)
      assert(alerter.alerts.toSet == Set(
        ("abnormal_value violations", "epoch 0: 2 rows"),
        ("abnormal_value violations", "epoch 2: 2 rows")), name)
      assert(alerter.alerts.size == 2, name)
    }
  }

  test("a failed detector write raises no alert; the replayed epoch alerts exactly once") {
    val before = persisted
    val files = new EvFiles(spark, tmpDir())
    val ckpt = tmpDir()
    val sink = new CollectingSink
    val alerter = new CollectingAlerter
    files.add(violating: _*)
    val failing = new BatchSink {
      def write(df: DataFrame, epochId: Long, table: String): Unit =
        if (detectors(table)) throw new RuntimeException(s"injected write failure: $table")
        else sink.write(df, epochId, table)
    }
    withRunner(files, failing, alerter, ckpt) { queries =>
      for (q <- queries if detectors(q.name)) {
        val e = intercept[StreamingQueryException](q.processAllAvailable())
        assert(causes(e).exists(_.getMessage.contains("injected write failure")))
      }
      // commit the other queries' epoch 0 before they stop, so the restart
      // resumes them after it instead of racing a half-written batch 0
      for (q <- queries if !detectors(q.name)) q.processAllAvailable()
    }
    assert(alerter.alerts.isEmpty, "an alert went out for a write that never landed")

    // restart from the same checkpoints: only the detectors replay epoch 0
    withRunner(files, sink, alerter, ckpt)(_.foreach(_.processAllAvailable()))
    assert(alerter.alerts.toSet == Set(
      ("abnormal_value violations", "epoch 0: 2 rows")))
    assert(alerter.alerts.size == 1)
    assert(sink.rowsFor("abnormal_value").size == 2)
    assert(sink.rowsFor("events_full").size == violating.size, "non-detector queries replayed")
    assert(persisted -- before == Set.empty, "a detector epoch left a cached batch behind")
  }

  test("a sink that runs no action fails the detector epoch loudly instead of hanging") {
    val before = persisted
    val files = new EvFiles(spark, tmpDir())
    val alerter = new CollectingAlerter
    files.add(violating: _*)
    val idle = new BatchSink {
      // the windowed queries still write: Spark fails a stateful epoch
      // whose batch is never run on its own
      def write(df: DataFrame, epochId: Long, table: String): Unit =
        if (!detectors(table)) df.write.format("noop").mode("overwrite").save()
    }
    withRunner(files, idle, alerter, tmpDir()) { queries =>
      for (q <- queries if detectors(q.name)) {
        val e = intercept[StreamingQueryException] {
          assert(q.awaitTermination(60000), s"${q.name} hung on a sink that ran no action")
        }
        assert(causes(e).exists(_.getMessage.contains("ran no Spark action")), e)
      }
    }
    assert(alerter.alerts.isEmpty)
    assert(persisted -- before == Set.empty)
  }

  private def causes(e: Throwable): Seq[Throwable] =
    Iterator.iterate(e)(_.getCause).takeWhile(_ != null).toSeq
}
