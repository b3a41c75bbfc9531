package graft

import java.util.concurrent.atomic.AtomicInteger

import scala.concurrent.duration._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.graft.ListenerFence
import org.scalatest.funsuite.AnyFunSuite

import graft.engine.{Caches, Tables, Views}

object SparkTestSession {
  lazy val spark: SparkSession = {
    val s = SparkSession
      .builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
  val sfDir = "/root/testdata/sf0.001"
}

class RefPipelinesSpec extends AnyFunSuite {
  import SparkTestSession._

  test("all declared queries run and return rows on sf0.001") {
    for ((name, fn) <- SparkEntry.queries) {
      val df = fn(spark, sfDir)
      assert(df.count() > 0, s"$name returned no rows")
    }
  }

  test("every query has matching oracle column names or a documented omission") {
    for ((name, fn) <- SparkEntry.queries) {
      val cols = fn(spark, sfDir).columns.toSet
      assert(cols.nonEmpty, s"$name has no columns")
    }
  }

  /** The builders that run Spark jobs on purpose: iterative driver loops
    * (HITS/PageRank renorms, power iterations, connected components), a
    * sketch or filter the driver must hold (count-min, Bloom), a grid
    * aggregate collected for union-find, and the writes a round trip reads
    * back. A plan-native HITS/PageRank renorm measured slower, so those
    * loops stay.
    */
  private val buildJobAllowlist = Set(
    "q_hits", "q_dedup_clusters", "q_pagerank", "q_heavy_hitters", "q_pca2",
    "q_power_iteration", "q_bloom_prefilter", "q_grid_cluster",
    "q_roundtrip_parquet", "q_roundtrip_csv", "q_roundtrip_json", "q_roundtrip_orc")

  test("building a query fires no Spark job, except the allowlisted driver loops") {
    // only jobs submitted from this thread while a builder runs count:
    // they carry the local property set here
    val tag = s"build-${System.nanoTime}"
    val jobs = new AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(_.getProperty("graft.spec.build") == tag)) jobs.incrementAndGet()
    }
    // a table's first load infers its parquet schema with a job; that is
    // a once-per-session read, not part of any build, so load them first
    RewriteFixture.tables.foreach(Tables.load(spark, sfDir, _))
    spark.sparkContext.addSparkListener(listener)
    val counts =
      try SparkEntry.queries.map { case (name, fn) =>
        // a pin materialized by an earlier build or suite would skip its
        // builder's jobs, so every build starts without pins
        Caches.freeTransient(spark)
        Views.clear()
        jobs.set(0)
        spark.sparkContext.setLocalProperty("graft.spec.build", tag)
        try fn(spark, sfDir)
        finally spark.sparkContext.setLocalProperty("graft.spec.build", null)
        ListenerFence.await(spark.sparkContext, 1.minute)
        name -> jobs.get
      }
      finally {
        spark.sparkContext.removeSparkListener(listener)
        Caches.freeTransient(spark)
        Views.clear()
      }
    val eager = counts.filter(_._2 > 0)
    assert((eager -- buildJobAllowlist).isEmpty, s"builders that fire jobs: ${eager -- buildJobAllowlist}")
    // the list only shrinks on purpose: an entry that no longer fires a
    // job must leave it
    assert(buildJobAllowlist -- eager.keySet == Set.empty)
  }

  test("registry: unique names, non-blank oracles, one key set for queries and oracleSql") {
    val names = SparkEntry.defs.map(_.name)
    val dups = names.groupBy(identity).collect { case (n, ns) if ns.size > 1 => n }
    assert(dups.isEmpty, s"duplicate QueryDef names: ${dups.toSeq.sorted.mkString(", ")}")
    val blank = SparkEntry.defs.filter(_.oracleSql.trim.isEmpty).map(_.name)
    assert(blank.isEmpty, s"blank oracle SQL: ${blank.mkString(", ")}")
    assert(SparkEntry.queries.keySet === SparkEntry.oracleSql.keySet)
  }

  test("select: keeps the iteration order of queries, takes all on None, names unknown queries") {
    val order = SparkEntry.queries.keys.toSeq
    assert(SparkEntry.select(None).map(_.name) === order)
    val picked = SparkEntry.select(Some(" q_topk,q_full_table ,q_rollup,q_topk"))
    assert(picked.map(_.name) === order.filter(Set("q_topk", "q_full_table", "q_rollup")))
    assert(picked.map(_.oracleSql) === picked.map(d => SparkEntry.oracleSql(d.name)))
    val e = intercept[IllegalArgumentException](SparkEntry.select(Some("q_topk,q_nope,q_topkk")))
    assert(e.getMessage === "unknown queries: q_nope, q_topkk")
    intercept[IllegalArgumentException](SparkEntry.select(Some(" , ")))
  }

  test("hourly_avg_revenue: averages are cent-quantized and within value range") {
    val df = SparkEntry.queries("q_hourly_avg_revenue")(spark, sfDir)
    val rows = df.collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val v = r.getAs[Double]("avg_revenue")
      assert(v >= 0 && v < 10000)
      assert(math.abs(v * 100 - math.rint(v * 100)) < 1e-9, s"not cent-quantized: $v")
    }
  }

  test("full_table: null-normalization yields no empty strings") {
    val df = SparkEntry.queries("q_full_table")(spark, sfDir)
    assert(df.filter(df("event_type") === "").count() === 0)
  }

  test("abnormal_duration: all rows violate the [1,2000]-day range") {
    val df = SparkEntry.queries("q_abnormal_duration")(spark, sfDir)
    assert(df.filter(df("lead_days") >= 1 && df("lead_days") <= 2000).count() === 0)
  }

  test("hourly_count_by_borough: borough counts sum to event count") {
    val df = SparkEntry.queries("q_hourly_count_by_borough")(spark, sfDir)
    val total = df.agg(org.apache.spark.sql.functions.sum("trip_count")).head.getLong(0)
    val events = engine.Tables.events(spark, sfDir).count()
    assert(total === events)
  }
}
