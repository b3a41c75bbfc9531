package graft

import java.util.concurrent.atomic.AtomicInteger

import scala.concurrent.duration._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType
import org.apache.spark.sql.graft.ListenerFence
import org.scalatest.funsuite.AnyFunSuite

import graft.engine.{Caches, Relational, Stages, Tables}

/** Property-style tests pinning the distributed primitives to their
  * single-partition reference spellings on many generated inputs — the
  * scalable form must be VALUE-IDENTICAL, not merely approximately
  * right, because oracle hashes ride on it. Fixed-seed generation keeps
  * failures reproducible without extra test dependencies.
  */
class ScalablePrimitivesPropSpec extends AnyFunSuite {
  import SparkTestSession._
  import spark.implicits._

  private def cases(seed: Long, rounds: Int): Seq[List[(Long, Long)]] = {
    val rnd = new scala.util.Random(seed)
    (1 to rounds).map { _ =>
      val n = 1 + rnd.nextInt(120)
      List.tabulate(n)(i => (i.toLong, (rnd.nextInt(2001) - 1000).toLong * rnd.nextInt(51)))
    }
  }

  test("scalableGlobalRank == row_number over the same total order") {
    cases(seed = 41, rounds = 8).foreach { data =>
      val df = data.toDF("id", "v")
      val expected = df
        .withColumn("rank",
          row_number().over(Window.orderBy(col("v").desc, col("id").asc)).cast("long"))
        .collect().map(r => (r.getLong(0), r.getLong(2))).toMap
      val got = Relational.scalableGlobalRank(df, col("v").desc, col("id").asc)
        .collect().map(r => (r.getAs[Long]("id"), r.getAs[Long]("rank"))).toMap
      assert(got == expected, s"n=${data.size}")
    }
  }

  test("scalableCumSum == SUM OVER (ORDER BY ...) running sum") {
    cases(seed = 43, rounds = 8).foreach { data =>
      val df = data.toDF("id", "v")
      val w = Window.orderBy(col("v").desc, col("id").asc)
      val expected = df
        .withColumn("cum",
          sum(col("v")).over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        .collect().map(r => (r.getLong(0), r.getLong(2))).toMap
      val got = Relational.scalableCumSum(df, "v", col("v").desc, col("id").asc)
        .collect().map(r => (r.getAs[Long]("id"), r.getAs[Long]("cum"))).toMap
      assert(got == expected, s"n=${data.size}")
    }
  }

  test("blockedRunningSum == SUM OVER (PARTITION BY groups ORDER BY key) across 2^20 blocks") {
    // sparse keys in [-2^21, 2^23) fall in the blocks -2 to 7 (block 0,
    // the keys within 2^20 of zero, is twice as wide); each case is
    // checked to reach at least three of them
    val rnd = new scala.util.Random(53)
    (1 to 6).foreach { round =>
      val nGroups = 1 + rnd.nextInt(4)
      val data = (0 until nGroups).flatMap { g =>
        val keys = Iterator.continually(rnd.between(-(1L << 21), 1L << 23))
          .distinct.take(20 + rnd.nextInt(80)).toSeq
        keys.map(kv => (s"g$g", kv, (rnd.nextInt(2001) - 1000).toLong))
      }
      val df = data.toDF("g", "key", "v")
      assert(data.map(_._2 / (1L << 20)).distinct.size >= 3, s"round $round spans < 3 blocks")
      val expected = df
        .withColumn("cum", sum(col("v")).over(Window.partitionBy(col("g")).orderBy(col("key"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        .collect().map(r => (r.getString(0), r.getLong(1)) -> r.getLong(3)).toMap
      val got = Relational.blockedRunningSum(df, Seq("g"), "key", col("v"), "cum")
      assert(got.columns.toSeq == Seq("g", "key", "v", "cum"))
      assert(got.collect().map(r => (r.getString(0), r.getLong(1)) -> r.getLong(3)).toMap == expected,
        s"round $round, ${data.size} rows")
    }
    Caches.freeTransient(spark)
  }

  test("gridRunningWeight + rankPick == element r of the expanded, sorted values") {
    // grids of 1–4 groups, values from a narrow range so ties repeat over
    // rows, weights 1–5; group g0 is one row and group g1 one tied value,
    // groups from g2 on hold NULL values, group gn holds nothing else, and
    // rows with a NULL group key count only when nothing is grouped
    val rnd = new scala.util.Random(59)
    val ranks: Seq[(String, Int => Int)] =
      Seq(
        "1" -> ((_: Int) => 1),
        "n" -> ((n: Int) => n),
        Stages.lowerMedianRankSql("n") -> ((n: Int) => math.ceil(n / 2.0).toInt)) ++
        (5 to 95 by 5).map(p => Stages.type1RankSql(p.toString, "n") -> ((n: Int) => p * (n - 1) / 100 + 1))
    // NULL values sort first and count in n; the pick is the least
    // non-NULL value at a sorted position >= r
    def model(rows: Seq[(Option[Long], Long)]): (Long, Seq[Option[Long]]) = {
      val sorted = rows.flatMap { case (v, w) => Seq.fill(w.toInt)(v) }.sortBy(_.getOrElse(Long.MinValue))
      (sorted.size.toLong, ranks.map { case (_, r) => sorted.drop(r(sorted.size) - 1).flatten.headOption })
    }
    val aggs = ranks.map { case (r, _) => Relational.rankPick(expr(r), col("v")) }
    def picks(df: DataFrame, groups: Seq[String]): Map[String, (Long, Seq[Option[Long]])] =
      Relational.gridRunningWeight(df, groups, "v", "w")
        .groupBy((groups :+ "n").map(col): _*)
        .agg(aggs.head, aggs.tail: _*)
        .collect()
        .map { row =>
          val key = if (groups.isEmpty) "" else row.getString(0)
          key -> (row.getLong(groups.size), ranks.indices.map { i =>
            val at = groups.size + 1 + i
            if (row.isNullAt(at)) None else Some(row.getLong(at))
          })
        }
        .toMap
    def value(): Option[Long] = Some(rnd.nextInt(21) - 10L)
    (1 to 8).foreach { round =>
      val nGroups = 1 + rnd.nextInt(4)
      val grid = (0 until nGroups).flatMap { g =>
        val rows = if (g == 0) 1 else 2 + rnd.nextInt(30)
        val tied = value()
        Seq.fill(rows)((
          Option(s"g$g"),
          if (g == 1) tied else if (g >= 2 && rnd.nextInt(4) == 0) None else value(),
          1L + rnd.nextInt(5)))
      } ++ Seq.fill(1 + rnd.nextInt(2))((Option("gn"), Option.empty[Long], 1L + rnd.nextInt(5))) ++
        Seq.fill(1 + rnd.nextInt(2))((Option.empty[String], value(), 1L + rnd.nextInt(5)))
      val df = grid.toDF("g", "v", "w")
      val expected = grid.groupBy(_._1).collect { case (Some(g), rows) => g -> model(rows.map(r => (r._2, r._3))) }
      assert(picks(df, Seq("g")) == expected, s"round $round, ${grid.size} rows")
      assert(picks(df, Nil) == Map("" -> model(grid.map(r => (r._2, r._3)))), s"round $round, no groups")
    }
  }

  test("topKPerGroup == per group: sort, take k, rank 1..k") {
    // 1–5 groups, g0 under a NULL key; group sizes 1–8 against k from 1
    // to 6, so some groups are smaller than k; the first sort key comes
    // from 0–3 so it ties, the unique id breaks the ties, and about one
    // first key in five is NULL (Spark sorts NULL first ascending, last
    // descending); round 1 is the empty input and rounds 1–3 take k = 1
    val rnd = new scala.util.Random(61)
    def sorted(rows: Seq[(Option[String], Option[Long], Long)], desc: Boolean) =
      rows.sortBy { case (_, a, id) =>
        if (desc) (a.isEmpty, -a.getOrElse(0L), id) else (a.nonEmpty, a.getOrElse(0L), id)
      }
    var smallGroups = 0
    (1 to 10).foreach { round =>
      val nGroups = 1 + rnd.nextInt(5)
      val grouped = if (round == 1) Nil else (0 until nGroups).map { g =>
        Seq.fill(1 + rnd.nextInt(8))((
          if (g == 0) None else Some(s"g$g"),
          if (rnd.nextInt(5) == 0) None else Some(rnd.nextInt(4).toLong)))
      }
      val rows = grouped.flatten.zipWithIndex.map { case ((g, a), id) => (g, a, id.toLong) }
      val k = if (round <= 3) 1 else 1 + rnd.nextInt(6)
      smallGroups += grouped.count(_.size < k)
      val df = rows.toDF("g", "a", "id")
      for (desc <- Seq(false, true)) {
        val first = if (desc) col("a").desc else col("a").asc
        val expected = rows.groupBy(_._1).values.toSeq.flatMap { grp =>
          sorted(grp, desc).take(k).zipWithIndex.map { case ((g, a, id), i) => (g, a, id, i + 1L) }
        }
        def run(sort: Column*): Seq[(Option[String], Option[Long], Long, Long)] = {
          val got = Relational.topKPerGroup(df, k, Seq(col("g")), sort: _*)
          assert(got.columns.toSeq == Seq("g", "a", "id", "rank"))
          assert(got.schema("rank").dataType == LongType)
          got.collect().toSeq.map { r =>
            val a = if (r.isNullAt(1)) None else Some(r.getLong(1))
            (Option(r.getString(0)), a, r.getLong(2), r.getLong(3))
          }
        }
        val at = s"round $round, k = $k, desc = $desc"
        assert(run(first, col("id").asc).sortBy(_._3) == expected.sortBy(_._3), at)
        // ties on `a` alone leave which tied row survives open, but not
        // the ranks 1..k or the kept values of `a`
        def ranksAndValues(out: Seq[(Option[String], Option[Long], Long, Long)]) =
          out.groupBy(_._1).view
            .mapValues(g => (g.map(_._4).sorted, g.map(_._2.getOrElse(Long.MinValue)).sorted))
            .toMap
        assert(ranksAndValues(run(first)) == ranksAndValues(expected), s"$at, ties open")
      }
    }
    assert(smallGroups > 0, "no group was smaller than its k")
  }

  test("building the rank, the running sum and bigramPmi runs no Spark job") {
    val events = Tables.events(spark, sfDir)
    val docs = Tables.documents(spark, sfDir)
    // only jobs submitted from this thread while the builders run count:
    // they carry the local property set here
    val tag = s"build-${System.nanoTime}"
    val jobs = new AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(_.getProperty("graft.spec.build") == tag)) jobs.incrementAndGet()
    }
    def buildJobs(build: => DataFrame): (DataFrame, Int) = {
      jobs.set(0)
      spark.sparkContext.addSparkListener(listener)
      spark.sparkContext.setLocalProperty("graft.spec.build", tag)
      try {
        val df = build
        ListenerFence.await(spark.sparkContext, 1.minute)
        (df, jobs.get)
      } finally {
        spark.sparkContext.setLocalProperty("graft.spec.build", null)
        spark.sparkContext.removeSparkListener(listener)
      }
    }
    val (rank, rankJobs) =
      buildJobs(Relational.scalableGlobalRank(events, col("value").desc, col("event_id").asc))
    assert(rankJobs == 0)
    val (_, cumJobs) = buildJobs(
      Relational.scalableCumSum(events.select(col("event_id"), col("user_id")), "user_id",
        col("event_id").asc))
    assert(cumJobs == 0)
    val (_, pmiJobs) = buildJobs(graft.text.TextAnalysis.bigramPmi(docs, 15))
    assert(pmiJobs == 0)
    val nodes = rank.queryExecution.optimizedPlan.collect { case p => p.nodeName }.toSet
    assert(nodes.contains("AttachDistributedSequence"), nodes)
    assert(!nodes.contains("LogicalRDD") && !nodes.contains("ExternalRDD"), nodes)
    Caches.freeTransient(spark)
  }

  test("the integer NTILE fill rule == the ANSI bucket sizes for every (n≤60, k≤7)") {
    // exhaustive over small n rather than random: NTILE bugs live at the
    // remainder boundaries, and n≤60 × k≤7 covers every fill pattern
    for (n <- 1 to 60; k <- 1 to 7) {
      val q = n / k
      val rem = n % k
      def bucket(rank: Long): Long =
        if (rank <= rem.toLong * (q + 1)) (rank + q) / (q + 1)
        else rem + (rank - rem.toLong * (q + 1) + q - 1) / q
      val viaFormula = (1 to n).map(r => bucket(r.toLong))
      val viaSizes = (1 to k).flatMap(b =>
        List.fill(if (b <= rem) q + 1 else q)(b.toLong))
      assert(viaFormula == viaSizes, s"n=$n k=$k")
    }
  }

  test("rfm quartile scores == ntile(4) windows on the same ordering") {
    // end-to-end: the deployed NTILE path (scalableGlobalRank + formula)
    // against the literal ntile window, on the real fixture
    val events = graft.engine.Tables.events(spark, sfDir)
    val viaEngine = graft.engine.Analytics.rfmSegments(events)
      .collect().map(r => r.getAs[Long]("user_id") ->
        (r.getAs[Long]("r_score"), r.getAs[Long]("f_score"), r.getAs[Long]("m_score"))).toMap
    val perUser = events
      .filter(col("event_type") === "purchase")
      .groupBy(col("user_id"))
      .agg(
        max(expr("CAST(ts AS LONG) div 86400")).as("recency_day"),
        count(lit(1)).as("frequency"),
        sum(expr(graft.engine.Stages.centsSql("value"))).as("monetary_cents"))
    def q(metric: String) =
      ntile(4).over(Window.orderBy(col(metric).asc, col("user_id").asc)).cast("long")
    val viaWindow = perUser
      .select(col("user_id"), q("recency_day").as("r"), q("frequency").as("f"),
        q("monetary_cents").as("m"))
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    assert(viaEngine == viaWindow)
  }

  test("SqDistMilli / DotMilli == their HOF reference folds") {
    val rnd = new scala.util.Random(47)
    (1 to 12).foreach { _ =>
      val n = 1 + rnd.nextInt(64)
      val a = List.fill(n)((rnd.nextInt(200001) - 100000).toLong)
      val b = List.fill(n)((rnd.nextInt(200001) - 100000).toLong)
      val r = Seq((a, b)).toDF("a", "b").select(
        graft.functions.VectorFunctions.sqDistMilli(col("a"), col("b")).as("sq"),
        graft.functions.VectorFunctions.dotMilli(col("a"), col("b")).as("dp"),
        expr("aggregate(zip_with(a, b, (x, y) -> (x - y) * (x - y)), 0L, (acc, v) -> acc + v)").as("sqRef"),
        expr("aggregate(zip_with(a, b, (x, y) -> x * y), 0L, (acc, v) -> acc + v)").as("dpRef")
      ).head()
      assert(r.getAs[Long]("sq") == r.getAs[Long]("sqRef"))
      assert(r.getAs[Long]("dp") == r.getAs[Long]("dpRef"))
    }
  }
}
