package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Streaming sources for the events pipeline.
  *
  * The Kafka path mirrors the reference's consumer
  * (`spark_streaming.py:38-56`): subscribe from earliest, `CAST(value AS
  * STRING)` (P1), `from_json` against an explicit all-string nullable
  * schema (P2), flatten (P3), then null-normalize + cast (P4) — identical
  * NULL semantics (`"" → NULL` before cast).
  *
  * The connector jar (`spark-sql-kafka-0-10`) is not in this image;
  * [[kafkaJsonStream]] compiles against the stable DataSource V2 string
  * API and needs the connector on the cluster classpath at deploy time.
  * Tests drive the same downstream stages through `MemoryStream` (see
  * StreamingSpec) — the point of keeping every stage a pure
  * `DataFrame => DataFrame`. `StreamMain` reads through [[kafkaJsonStream]]
  * when its config has a `[kafka]` section; without the connector, Spark's
  * data-source-not-found error reaches its caller.
  */
object EventSource {

  /** Wire schema: one JSON object per message, all values strings — the
    * shape a CSV→JSON producer emits (reference `kafka_stream.py:81,86`).
    */
  val wireSchema: StructType = StructType(
    Seq("event_id", "ts", "user_id", "event_type", "value", "props")
      .map(f => StructField(f, StringType, nullable = true)))

  /** Raw Kafka stream of JSON messages (requires connector at runtime). */
  def kafkaRaw(spark: SparkSession, bootstrapServers: String, topic: String): DataFrame =
    spark.readStream
      .format("kafka")
      .option("kafka.bootstrap.servers", bootstrapServers)
      .option("subscribe", topic)
      .option("startingOffsets", "earliest")
      .load()

  /** P1+P2+P3: Kafka value bytes → parsed wire-schema columns. */
  def parseWire(raw: DataFrame): DataFrame =
    raw
      .selectExpr("CAST(value AS STRING) AS value")
      .select(from_json(col("value"), wireSchema).as("data"))
      .select("data.*")

  /** P4: null-normalize (`"" → NULL`) + cast every wire column to its
    * engine type — byte-identical semantics to reference
    * `spark_streaming.py:92-111`.
    */
  def typed(wire: DataFrame): DataFrame = {
    import graft.engine.Stages.nullNormCast
    wire.select(
      nullNormCast(col("event_id"), LongType, "event_id"),
      nullNormCast(col("ts"), TimestampType, "ts"),
      nullNormCast(col("user_id"), LongType, "user_id"),
      graft.engine.Stages.nullNorm(col("event_type"), "event_type"),
      nullNormCast(col("value"), DoubleType, "value"),
      graft.engine.Stages.nullNorm(col("props"), "props"))
  }

  /** Full Kafka → typed pipeline (the reference's `read_kafka_stream` +
    * `create_schema` + `column_types`).
    */
  def kafkaJsonStream(spark: SparkSession, bootstrapServers: String, topic: String): DataFrame =
    typed(parseWire(kafkaRaw(spark, bootstrapServers, topic)))
}
