package graft

import java.sql.DriverManager
import java.time.LocalDateTime
import java.time.temporal.ChronoUnit

import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import org.scalatest.funsuite.AnyFunSuite

import graft.engine.Stages

/** The event-time fragments of both engines against one Scala model:
  * `Stages.epochBucketSql` through Spark's `expr`, and
  * `Stages.duckEpochBucketSql` through DuckDB's JDBC driver (the DuckDB
  * version the oracle checker runs). The model floors the epoch
  * microseconds to seconds, then divides by the width toward zero. Inputs
  * are the degenerate probe's four extreme timestamps (one with a negative
  * fractional epoch, one a microsecond before the epoch) and fixed-seed
  * random microseconds from 1900 to 2100, at every width in use.
  */
class EpochBucketSpec extends AnyFunSuite {
  import SparkTestSession._
  import spark.implicits._

  private val widths = Seq(1L, 3600L, 86400L, 604800L)

  private def epochMicros(iso: String): Long =
    ChronoUnit.MICROS.between(LocalDateTime.of(1970, 1, 1, 0, 0), LocalDateTime.parse(iso))

  private val micros: Seq[Long] = {
    val extreme = Seq(
      "1950-06-15T12:34:56.789012", "1969-12-31T23:59:59.999999",
      "1970-01-01T00:00:00", "2099-12-31T23:59:59").map(epochMicros)
    val random = Gen.choose(epochMicros("1900-01-01T00:00:00"), epochMicros("2100-01-01T00:00:00"))
    extreme ++ (0 until 400).map(i => random.pureApply(Gen.Parameters.default, Seed(7000L + i)))
  }

  private def model(us: Long, width: Long): Long = Math.floorDiv(us, 1000000L) / width

  /** Each input's buckets, one per width, as the engine computed them. */
  private def check(engine: String, got: Map[Long, Seq[Long]]): Unit = {
    assert(got.keySet == micros.toSet, engine)
    for (us <- micros; (w, b) <- widths.zip(got(us)))
      assert(b == model(us, w), s"$engine: ${java.time.Instant.EPOCH.plus(us, ChronoUnit.MICROS)} at width $w")
  }

  test("the sample covers both signs, sub-second parts and the second before the epoch") {
    assert(micros.exists(_ < 0) && micros.exists(_ > 0) && micros.contains(-1L))
    assert(micros.exists(us => us < 0 && us % 1000000L != 0))
    assert(micros.toSet.size == micros.size)
  }

  test("Spark's epochBucketSql matches the floor-then-truncate model") {
    val rows = micros.toDF("us")
      .select(col("us") +: widths.map(w => expr(Stages.epochBucketSql("timestamp_micros(us)", w))): _*)
      .collect()
    check("Spark", rows.map(r => r.getLong(0) -> widths.indices.map(i => r.getLong(i + 1))).toMap)
  }

  test("DuckDB's duckEpochBucketSql matches the same model") {
    val con = DriverManager.getConnection("jdbc:duckdb:")
    try {
      val st = con.createStatement()
      st.execute("CREATE TABLE t (us BIGINT)")
      st.execute(micros.map(us => s"($us)").mkString("INSERT INTO t VALUES ", ", ", ""))
      val frags = widths.map(w => Stages.duckEpochBucketSql("make_timestamp(us)", w))
      val rs = st.executeQuery(s"SELECT us, ${frags.mkString(", ")} FROM t")
      val got = Iterator.continually(rs).takeWhile(_.next())
        .map(r => r.getLong(1) -> widths.indices.map(i => r.getLong(i + 2)))
        .toMap
      check("DuckDB", got)
    } finally con.close()
  }

  test("width 1 emits no division; both spellings reject a width below one second") {
    assert(!Stages.epochBucketSql("ts", 1).contains(" div "))
    assert(!Stages.duckEpochBucketSql("ts", 1).contains("//"))
    for (w <- Seq(0L, -3600L); f <- Seq(Stages.epochBucketSql _, Stages.duckEpochBucketSql _))
      intercept[IllegalArgumentException](f("ts", w))
  }
}
