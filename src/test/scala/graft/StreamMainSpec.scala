package graft

import java.nio.file.Files
import java.sql.Timestamp
import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicBoolean

import org.apache.spark.sql.{AnalysisException, DataFrame}
import org.apache.spark.sql.execution.streaming.runtime.StreamingRelation
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryException}
import org.scalatest.funsuite.AnyFunSuite

import graft.streaming._

/** `StreamMain`'s wiring: which source, sink and alerter each config
  * selects, that an incomplete section stops startup, and that the
  * default sink keeps one copy of an epoch replayed after a crash.
  */
class StreamMainSpec extends AnyFunSuite {
  import SparkTestSession._

  private def tmpDir(): String = Files.createTempDirectory("graft-main").toString

  private def config(text: String): IniConfig = IniConfig.parse(text.stripMargin.linesIterator)

  private val noConfig = IniConfig(Map.empty)

  private val kafka =
    """[kafka]
      |host = broker-1
      |port = 9092
      |topic = events
      |"""
  private val database =
    """[database]
      |database = trip_db
      |user = analyst
      |password = s3cret
      |host = db.internal
      |"""
  private def email(port: Int) =
    s"""[email]
      |host = 127.0.0.1
      |port = $port
      |from = graft@pipeline
      |to = oncall@example
      |"""

  test("no config: parquet file source on srcDir, IdempotentParquetSink, LoggingAlerter") {
    val srcDir = tmpDir()
    val source = StreamMain.source(spark, noConfig, srcDir, sfDir)
    assert(source.isStreaming)
    val relations = source.queryExecution.analyzed.collect { case r: StreamingRelation => r.dataSource }
    assert(relations.map(d => (d.className, d.options.get("path"))) == Seq(("parquet", Some(srcDir))))
    assert(StreamMain.sink(noConfig, tmpDir()).isInstanceOf[IdempotentParquetSink])
    assert(StreamMain.alerter(noConfig).isInstanceOf[LoggingAlerter])
  }

  test("[kafka] selects the Kafka source, and without the connector its not-found error reaches the caller") {
    // srcDir and dimDir do not exist: the file branch and its
    // fixture-schema fallback would fail on them with another error
    val e = intercept[AnalysisException](
      StreamMain.source(spark, config(kafka), "/no/such/srcDir", "/no/such/dimDir"))
    assert(e.getMessage.contains("Failed to find data source: kafka"), e.getMessage)
  }

  test("[database] selects IdempotentJdbcSink on IniConfig.jdbc's URL and properties") {
    val c = config(database)
    val (url, props) = c.jdbc.get
    StreamMain.sink(c, tmpDir()) match {
      case s: IdempotentJdbcSink =>
        assert(s.url == url && url == "jdbc:postgresql://db.internal:5432/trip_db")
        assert(s.props == props)
        assert(props.getProperty("user") == "analyst" && props.getProperty("password") == "s3cret")
      case other => fail(s"expected IdempotentJdbcSink, got $other")
    }
  }

  test("[email] selects SmtpAlerter, and an alert reaches the configured server") {
    val srv = new FakeSmtp
    try {
      val alerter = StreamMain.alerter(config(email(srv.port)))
      assert(alerter.isInstanceOf[SmtpAlerter])
      alerter.alert("abnormal_value violations", "epoch 3: 2 rows")
      srv.thread.join(5000)
      assert(srv.commands.toList.slice(1, 3) == List("MAIL FROM:<graft@pipeline>", "RCPT TO:<oncall@example>"))
      assert(srv.dataLines.contains("Subject: abnormal_value violations"))
    } finally srv.close()
  }

  test("an incomplete section stops startup with an error naming the missing key") {
    def without(section: String, key: String): IniConfig =
      config(section.stripMargin.linesIterator.filterNot(_.startsWith(s"$key ")).mkString("\n"))
    val cases = Seq(
      (kafka, Seq("host", "port", "topic"),
        (c: IniConfig) => StreamMain.source(spark, c, "/no/such/srcDir", "/no/such/dimDir")),
      (database, Seq("database", "user", "password", "host"),
        (c: IniConfig) => StreamMain.sink(c, tmpDir())),
      (email(25), Seq("host", "port", "from", "to"),
        (c: IniConfig) => StreamMain.alerter(c)))
    for ((section, keys, wire) <- cases; key <- keys) {
      val e = intercept[IllegalArgumentException](wire(without(section, key)))
      assert(e.getMessage.contains(s"'$key'"), e.getMessage)
    }
    val e = intercept[IllegalArgumentException](
      StreamMain.alerter(config(email(25).replace("port = 25", "port = smtp"))))
    assert(e.getMessage.contains("port"), e.getMessage)
  }

  test("no config: a crash between the sink write and the offset commit leaves one copy after restart") {
    // The CrashReplaySpec pattern on StreamMain's default wiring: epoch 1
    // of events_full throws right after StreamMain's sink wrote it, so its
    // offsets are logged and its commit is not; the restart replays it.
    val srcDir = tmpDir()
    val files = new EvFiles(spark, srcDir)
    val outDir = tmpDir()
    def ev(id: Long): Ev =
      Ev(id, Timestamp.valueOf(f"2024-01-01 00:$id%02d:00"), id % 25, "purchase", 10.0, """{"k": 10}""")
    val crashed = new AtomicBoolean(false)
    val writes = new ConcurrentHashMap[Long, Integer]()
    val sink = StreamMain.sink(noConfig, outDir)
    val crashing = new BatchSink {
      def write(df: DataFrame, epochId: Long, table: String): Unit = {
        sink.write(df, epochId, table)
        if (table == "events_full") {
          writes.merge(epochId, 1, (a, b) => a + b)
          if (epochId == 1L && crashed.compareAndSet(false, true))
            throw new IllegalStateException("injected crash after the sink write")
        }
      }
    }
    files.add(ev(1), ev(2))
    def run(body: Seq[StreamingQuery] => Unit): Unit = {
      val queries =
        new StreamRunner(spark, crashing, StreamMain.alerter(noConfig), s"$outDir/_checkpoints", dimDir = sfDir)
          .startAll(StreamMain.source(spark, noConfig, srcDir, sfDir))
      try body(queries) finally queries.foreach(_.stop())
    }
    run(_.foreach(_.processAllAvailable()))
    files.add(ev(3), ev(4))
    run { queries =>
      val (full, rest) = queries.partition(_.name == "events_full")
      intercept[StreamingQueryException](full.head.processAllAvailable())
      rest.foreach(_.processAllAvailable())
    }
    assert(crashed.get, "the crash was not injected")
    run(_.foreach(_.processAllAvailable()))
    assert(writes.get(1L) == 2, s"epoch 1 was not replayed once: $writes")
    val ids = spark.read.parquet(s"$outDir/events_full").select("event_id").collect().map(_.getLong(0))
    assert(ids.sorted.toSeq == Seq(1L, 2L, 3L, 4L), "the replayed epoch left a second copy")
  }
}
