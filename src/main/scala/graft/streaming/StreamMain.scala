package graft.streaming

import org.apache.spark.sql.SparkSession

/** Runnable fan-out demo over a file-based event stream:
  * {{{
  * sbt "runMain graft.streaming.StreamMain <srcDir> <outDir> [dimDir]"
  * }}}
  * Watches `srcDir` for parquet event files (schema of the events
  * fixture), runs the six reference queries,
  * appends results under `outDir/<table>`, and logs alerts. Stop with
  * Ctrl-C; checkpoints under `outDir/_checkpoints` make restarts resume
  * exactly where they left off. Swap the source for
  * [[EventSource.kafkaJsonStream]] on a cluster with the Kafka connector.
  * The session sets no shuffle partitions: the stateless queries have no
  * exchange, and [[StreamRunner]] pins the windowed ones to one.
  */
object StreamMain {
  def main(args: Array[String]): Unit = {
    require(args.length >= 2, "usage: StreamMain <srcDir> <outDir> [dimDir]")
    val Array(srcDir, outDir) = args.take(2)
    val spark = SparkSession.builder()
      .master(sys.env.getOrElse("SPARK_MASTER", "local[4]"))
      .appName("graft-stream")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    val dimDir = args.lift(2)
      .getOrElse("/root/testdata/sf0.001")
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
    val raw = spark.readStream.schema(fileSchema).parquet(srcDir)
    val source = graft.engine.Tables.microsTs(raw)
    val runner = new StreamRunner(
      spark,
      new ParquetSink(outDir),
      new LoggingAlerter,
      s"$outDir/_checkpoints",
      dimDir = dimDir)
    val queries = runner.startAll(source)
    sys.addShutdownHook(queries.foreach(_.stop()))
    runner.awaitAll(queries)
  }
}
