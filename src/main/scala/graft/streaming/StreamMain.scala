package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Runnable fan-out of the six reference queries ([[StreamRunner]]):
  * {{{
  * sbt "runMain graft.streaming.StreamMain <srcDir> <outDir> [dimDir] [config.ini]"
  * }}}
  * Its endpoints come from the optional INI file, the one `config.ini` the
  * reference reads them all from (`spark_streaming.py:16-24,38-42`,
  * [[IniConfig]]):
  *  - `[kafka]` host/port/topic: the events are read from that topic
  *    ([[EventSource.kafkaJsonStream]]; the Kafka connector must be on the
  *    classpath) and `srcDir` is not read. Without the section, `srcDir` is
  *    watched for parquet event files (schema of the events fixture);
  *  - `[database]` database/user/password/host: results go to that
  *    Postgres database through [[IdempotentJdbcSink]]. Without the
  *    section, they go under `outDir/<table>/epoch=<id>` through
  *    [[IdempotentParquetSink]];
  *  - `[email]` host/port/from/to: alerts are mailed through
  *    [[SmtpAlerter]]; without the section they are logged
  *    ([[LoggingAlerter]]).
  * A section that lacks one of its keys stops startup with an error that
  * names the key. Stop with Ctrl-C; checkpoints under `outDir/_checkpoints`
  * make restarts resume where they left off, and both sinks rewrite an
  * epoch replayed after a crash between its write and its offset commit
  * instead of adding a second copy.
  * The session sets no shuffle partitions: the stateless queries have no
  * exchange, and [[StreamRunner]] pins the windowed ones to one.
  */
object StreamMain {
  def main(args: Array[String]): Unit = {
    require(args.length >= 2 && args.length <= 4,
      "usage: StreamMain <srcDir> <outDir> [dimDir] [config.ini]")
    val Array(srcDir, outDir) = args.take(2)
    val spark = SparkSession.builder()
      .master(sys.env.getOrElse("SPARK_MASTER", "local[4]"))
      .appName("graft-stream")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    val dimDir = args.lift(2).getOrElse("/root/testdata/sf0.001")
    val config = args.lift(3).fold(IniConfig(Map.empty))(IniConfig.load)
    val runner = new StreamRunner(
      spark, sink(config, outDir), alerter(config), s"$outDir/_checkpoints", dimDir = dimDir)
    val queries = runner.startAll(source(spark, config, srcDir, dimDir))
    sys.addShutdownHook(queries.foreach(_.stop()))
    runner.awaitAll(queries)
  }

  /** The typed event stream: the `[kafka]` topic, or parquet files in `srcDir`. */
  def source(spark: SparkSession, config: IniConfig, srcDir: String, dimDir: String): DataFrame = {
    val kafka = for {
      servers <- config.kafkaBootstrap
      topic <- config.kafkaTopic
    } yield EventSource.kafkaJsonStream(spark, servers, topic)
    kafka.getOrElse(fileSource(spark, srcDir, dimDir))
  }

  /** [[IdempotentJdbcSink]] on the `[database]` coordinates, else
    * [[IdempotentParquetSink]] under `outDir`. */
  def sink(config: IniConfig, outDir: String): BatchSink =
    config.jdbc.fold[BatchSink](new IdempotentParquetSink(outDir)) {
      case (url, props) => new IdempotentJdbcSink(url, props)
    }

  /** [[SmtpAlerter]] on the `[email]` endpoint, else [[LoggingAlerter]]. */
  def alerter(config: IniConfig): Alerter =
    config.smtp.fold[Alerter](new LoggingAlerter) {
      case (host, port, from, to) => new SmtpAlerter(host, port, from, to)
    }

  private def fileSource(spark: SparkSession, srcDir: String, dimDir: String): DataFrame = {
    // The stream schema must describe the FILES in srcDir, not the
    // post-rebuild frame: the events fixture stores TIMESTAMP(NANOS),
    // which surfaces as LONG under the nanosAsLong conf Tables.load sets
    // — declaring the rebuilt TIMESTAMP schema against such files fails
    // parquet schema conversion on the first micro-batch. Read whatever
    // the files carry (falling back to the dim fixture's RAW schema when
    // srcDir is still empty), then apply Tables.events' µs rebuild
    // (Tables.microsTs), so fixture-style and already-rebuilt event
    // files both stream correctly.
    graft.engine.Tables.load(spark, dimDir, "events") // sets nanosAsLong/NTZ confs
    // Fall back to the fixture schema ONLY for the expected empty/missing
    // srcDir shapes (AnalysisException: unable to infer schema / path not
    // found; IOException: unreadable dir). A blanket Throwable here
    // swallowed fatal errors (OOM, linkage) and masked real read failures
    // as a confusing schema mismatch on the first micro-batch.
    val fileSchema =
      try spark.read.parquet(srcDir).schema
      catch {
        case _: org.apache.spark.sql.AnalysisException =>
          graft.engine.Tables.load(spark, dimDir, "events").schema
        case _: java.io.IOException =>
          graft.engine.Tables.load(spark, dimDir, "events").schema
      }
    graft.engine.Tables.microsTs(spark.readStream.schema(fileSchema).parquet(srcDir))
  }
}
