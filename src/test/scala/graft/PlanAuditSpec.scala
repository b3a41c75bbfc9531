package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.engine.Tables

/** Pins the semantics of the [[PlanAudit]] checks on synthetic plans so
  * a refactor can't silently weaken the gate: each anti-pattern must
  * FLAG, and each sanctioned spelling of the same computation must pass.
  */
class PlanAuditSpec extends AnyFunSuite {
  import SparkTestSession._

  private val sfDir = "/root/testdata/sf0.001"

  private def flags(df: DataFrame): Seq[String] =
    PlanAudit.offenders(df.queryExecution.executedPlan).distinct

  test("cartesian product flags; broadcast scalar anchor passes") {
    val li = Tables.lineitem(spark, sfDir).select("l_orderkey", "l_quantity")
    // the tiny fixture auto-broadcasts a cross join into BNLJ; force the
    // corpus-scale planning outcome to exercise the CartesianProduct case
    val thr = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val bad = li.as("a").crossJoin(li.as("b")).filter(expr("a.l_quantity < b.l_quantity"))
      assert(flags(bad).contains("CartesianProduct"), flags(bad).toString)
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", thr)
    val anchor = li.agg(sum(col("l_quantity")).as("total"))
    assert(flags(li.crossJoin(broadcast(anchor))).isEmpty)
  }

  test("unpartitioned window over raw rows flags; over an aggregate passes") {
    val li = Tables.lineitem(spark, sfDir)
    val bad = li.withColumn(
      "rn", row_number().over(Window.orderBy(col("l_orderkey"), col("l_linenumber"))))
    assert(flags(bad).contains("UnpartitionedWindowOverUnboundedInput"))
    val grid = li.groupBy(col("l_quantity")).agg(count(lit(1)).as("c"))
    val ok = grid.withColumn("rn", row_number().over(Window.orderBy(col("l_quantity"))))
    assert(flags(ok).isEmpty, flags(ok).toString)
  }

  test("few-key window over raw rows flags; grid, group-limit, and high-card keys pass") {
    val li = Tables.lineitem(spark, sfDir)
    val fewKey = Window.partitionBy(col("l_returnflag"))
      .orderBy(col("l_extendedprice"), col("l_orderkey"), col("l_linenumber"))
    val bad = li.withColumn("rn", row_number().over(fewKey))
    assert(flags(bad).contains("FewKeyWindowOverUnboundedInput"), flags(bad).toString)
    // rank<=k gets WindowGroupLimit pushdown -> exempt
    val limited = li.withColumn("rn", row_number().over(fewKey)).filter(col("rn") <= 3)
    assert(flags(limited).isEmpty, flags(limited).toString)
    // the value-grid spelling windows over an aggregate -> exempt
    val grid = li.groupBy(col("l_returnflag"), col("l_quantity")).agg(count(lit(1)).as("c"))
    val gridWin = grid.withColumn(
      "cum",
      sum(col("c")).over(Window.partitionBy(col("l_returnflag")).orderBy(col("l_quantity"))))
    assert(flags(gridWin).isEmpty, flags(gridWin).toString)
    // a corpus-cardinality partition key is not few-key
    val perKey = li.withColumn(
      "rn",
      row_number().over(Window.partitionBy(col("l_orderkey")).orderBy(col("l_linenumber"))))
    assert(flags(perKey).isEmpty, flags(perKey).toString)
  }

  test("a broadcast 1-row anchor does not launder a few-key window as bounded") {
    // the anchor's Aggregate sits on the BUILD side of the broadcast
    // join; the streamed side is still raw corpus-scale facts, so the
    // window must flag — boundedBelow only recurses the streamed side
    val li = Tables.lineitem(spark, sfDir)
    val anchor = li.agg(sum(col("l_quantity")).as("total"))
    val bad = li.crossJoin(broadcast(anchor))
      .withColumn(
        "rn",
        row_number().over(Window.partitionBy(col("l_returnflag"))
          .orderBy(col("l_extendedprice"), col("l_orderkey"), col("l_linenumber"))))
    assert(flags(bad).contains("FewKeyWindowOverUnboundedInput"), flags(bad).toString)
    // the same anchor join over a GRID (aggregate on the streamed side)
    // stays sanctioned
    val grid = li.groupBy(col("l_returnflag"), col("l_quantity")).agg(count(lit(1)).as("c"))
    val ok = grid.crossJoin(broadcast(anchor))
      .withColumn(
        "cum",
        sum(col("c")).over(Window.partitionBy(col("l_returnflag")).orderBy(col("l_quantity"))))
    assert(flags(ok).isEmpty, flags(ok).toString)
  }

  test("a window over a literal-cardinality grid (range/local rows) stays sanctioned") {
    // the hashUniformity shape: a generated 0..255 bucket grid
    // left-joined to a broadcast aggregate — the streamed side is a
    // small RangeExec, which never grows with the corpus
    val counts = Tables.events(spark, sfDir)
      .groupBy(expr("CAST(user_id % 256 AS BIGINT)").as("b"))
      .agg(count(lit(1)).as("o"))
    val grid = spark.range(1)
      .select(explode(expr("sequence(0, 255)")).as("b"))
      .join(counts, Seq("b"), "left_outer")
      .select(col("b"), coalesce(col("o"), lit(0L)).as("o"))
    val win = grid.select(
      col("b"),
      sum(col("o")).over(Window.partitionBy(lit(1)).orderBy(col("b"))).as("cum"))
    assert(flags(win).isEmpty, flags(win).toString)
    assert(flags(graft.engine.Relational.hashUniformity(Tables.events(spark, sfDir))).isEmpty)
  }

  test("the stop-bucket bucket-size window (high-card band key) stays sanctioned") {
    // the round-7 candidate-cap shape: count() over the same
    // (band, band_sig)-style high-cardinality key the candidate
    // self-join shuffles on — corpus-cardinality partition spec, so
    // neither the empty-spec nor the few-key check may fire
    val li = Tables.lineitem(spark, sfDir)
    val capped = li
      .withColumn("bsz",
        count(lit(1)).over(Window.partitionBy(col("l_partkey"), col("l_suppkey"))))
      .filter(col("bsz") <= 1024)
    assert(flags(capped).isEmpty, flags(capped).toString)
  }

  test("an aggregate on ONE leg of a shuffled join does not launder the corpus leg") {
    // force the shuffled-join planning outcome (the tiny fixture would
    // auto-broadcast): a per-flag aggregate joined to raw lineitem emits
    // corpus-scale rows, so a few-key window above it must flag — the
    // old children.exists rule saw the aggregate leg and said "bounded"
    val li = Tables.lineitem(spark, sfDir)
    val thr = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val dim = li.groupBy(col("l_returnflag")).agg(count(lit(1)).as("flag_n"))
      val bad = li.join(dim, Seq("l_returnflag"))
        .withColumn(
          "rn",
          row_number().over(Window.partitionBy(col("l_returnflag"))
            .orderBy(col("l_extendedprice"), col("l_orderkey"), col("l_linenumber"))))
      assert(flags(bad).contains("FewKeyWindowOverUnboundedInput"), flags(bad).toString)
      // both legs aggregated -> join output is grid-sized -> sanctioned
      val gridA = li.groupBy(col("l_returnflag"), col("l_quantity")).agg(count(lit(1)).as("ca"))
      val ok = gridA.join(dim, Seq("l_returnflag"))
        .withColumn(
          "cum",
          sum(col("ca")).over(Window.partitionBy(col("l_returnflag")).orderBy(col("l_quantity"))))
      assert(flags(ok).isEmpty, flags(ok).toString)
      // semi join: output is a subset of the LEFT side — a bounded left
      // over a raw right stays sanctioned
      val okSemi = gridA.join(li.select(col("l_returnflag")), Seq("l_returnflag"), "left_semi")
        .withColumn(
          "cum",
          sum(col("ca")).over(Window.partitionBy(col("l_returnflag")).orderBy(col("l_quantity"))))
      assert(flags(okSemi).isEmpty, flags(okSemi).toString)
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", thr)
  }

  test("a shrinking window frame flags even over bounded input; the reversed growing frame passes") {
    // Spark recomputes [x, unboundedFollowing) frames from scratch per
    // row — O(rows²) — and boundedness doesn't excuse it: the live
    // instance this rule generalizes sat above an aggregate whose bound
    // a sequence() explode re-inflated to 1.3M rows (gapInterpolate).
    val hourly = Tables.events(spark, sfDir)
      .groupBy(expr("CAST(ts AS LONG) div 3600").as("hour"))
      .agg(count(lit(1)).as("cnt"))
    val shrinking = Window.orderBy(col("hour"))
      .rowsBetween(0, Window.unboundedFollowing)
    val bad = hourly.withColumn("nxt", first(col("cnt"), ignoreNulls = true).over(shrinking))
    assert(flags(bad).contains("ShrinkingWindowFrame"), flags(bad).toString)
    // the exact O(rows) rewrite: growing frame over the reversed ordering
    val growingDesc = Window.orderBy(col("hour").desc)
      .rowsBetween(Window.unboundedPreceding, 0)
    val ok = hourly.withColumn("nxt", last(col("cnt"), ignoreNulls = true).over(growingDesc))
    assert(flags(ok).isEmpty, flags(ok).toString)
    // the entire-partition frame is computed once per partition — exempt
    val entire = Window.partitionBy(lit(1))
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    val okEntire = hourly.withColumn("tot", sum(col("cnt")).over(entire))
    assert(flags(okEntire).isEmpty, flags(okEntire).toString)
  }

  test("a few-key window hiding inside a pinned view still flags") {
    val li = Tables.lineitem(spark, sfDir)
    val pinned = graft.engine.Views.pinned(li, "auditSpecBadPin")(
      _.withColumn(
        "rn",
        row_number().over(Window.partitionBy(col("l_returnflag"))
          .orderBy(col("l_extendedprice"), col("l_orderkey"), col("l_linenumber")))))
    try {
      pinned.count() // materialize so the scan resolves to the cached plan
      val downstream = pinned.groupBy(col("l_returnflag")).agg(max(col("rn")).as("m"))
      assert(flags(downstream).contains("FewKeyWindowOverUnboundedInput"))
    } finally graft.engine.Views.clear()
  }
}
