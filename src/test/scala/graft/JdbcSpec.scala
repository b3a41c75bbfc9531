package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.engine.Tables
import graft.streaming.IdempotentJdbcSink

/** Executes the rebuild of the reference's JDBC sink path
  * (`spark_streaming.py:116-124`, SURVEY.md §2.2 K1) for REAL against an
  * embedded Derby database (the JDBC engine already on the Spark
  * classpath — `/opt/spark/jars/derby*`), instead of merely constructing
  * the writer: the first write creates the table and round-trips its
  * rows exactly, a replayed epoch replaces itself, and a new epoch
  * appends.
  */
class JdbcSpec extends AnyFunSuite {
  import SparkTestSession._

  System.setProperty("derby.stream.error.file", "/tmp/graft_derby.log")
  private val url = "jdbc:derby:/tmp/graft_derby_db;create=true"
  private def props = new java.util.Properties()

  private def dropIfExists(table: String): Unit = {
    val conn = java.sql.DriverManager.getConnection(url)
    try {
      val st = conn.createStatement()
      // Spark's JDBC writer issues CREATE TABLE with the name UNQUOTED, so
      // Derby folds it to upper case — drop the same way (a quoted
      // lower-case name would silently miss it and appends would
      // accumulate across test runs).
      try st.executeUpdate(s"DROP TABLE $table")
      catch { case _: java.sql.SQLException => () } // didn't exist
      finally st.close()
    } finally conn.close()
  }

  private def canon(rows: Array[org.apache.spark.sql.Row]): Seq[String] =
    rows.map(_.toSeq.map(String.valueOf).mkString("|")).toSeq.sorted

  test("IdempotentJdbcSink creates the table and round-trips nation exactly") {
    dropIfExists("nation_rt")
    val nation = Tables.nation(spark, sfDir)
      .select(col("n_nationkey").cast("long"), col("n_name"), col("n_regionkey").cast("long"))
    new IdempotentJdbcSink(url, props).write(nation, epochId = 0L, table = "nation_rt")
    val back = spark.read.jdbc(url, "nation_rt", props)
    assert(back.count() == nation.count())
    assert(canon(back.drop("_epoch").collect()) == canon(nation.collect()))
    assert(back.select("_epoch").distinct().collect().map(_.getLong(0)).toSeq == Seq(0L))
  }

  test("IdempotentJdbcSink: replaying an epoch rewrites it instead of duplicating") {
    dropIfExists("nation_idem")
    val nation = Tables.nation(spark, sfDir)
      .select(col("n_nationkey").cast("long"), col("n_name"))
    val n = nation.count()
    val sink = new IdempotentJdbcSink(url, props)
    sink.write(nation, epochId = 0L, table = "nation_idem")
    sink.write(nation, epochId = 0L, table = "nation_idem") // crash-replay of epoch 0
    val afterReplay = spark.read.jdbc(url, "nation_idem", props)
    assert(afterReplay.count() == n, "replayed epoch must not duplicate")
    sink.write(nation, epochId = 1L, table = "nation_idem") // a NEW epoch appends
    val afterEpoch1 = spark.read.jdbc(url, "nation_idem", props)
    assert(afterEpoch1.count() == 2 * n)
    assert(afterEpoch1.select("_epoch").distinct().collect().map(_.getLong(0)).sorted.toSeq
      == Seq(0L, 1L))
  }
}
