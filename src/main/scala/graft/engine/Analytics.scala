package graft.engine

import graft.engine.Caches.CacheOps
import graft.engine.Stages.cmomSql
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Analytic-window and multidimensional aggregation surface (extensions
  * beyond the reference, SURVEY.md §2.7): running frames, batch
  * sessionization, ROLLUP, pivot.
  *
  * Money accumulations run in integer cents (exact, engine-portable — see
  * [[Stages]]); window orderings always include a unique tie-breaker so
  * frames are identical across engines.
  */
object Analytics {

  private val userOrder = Window
    .partitionBy(col("user_id"))
    .orderBy(col("ts").asc, col("event_id").asc)

  /** 1 where a user's event opens a session: their first event, or one
    * more than `gapSeconds` after their previous event in [[userOrder]];
    * 0 otherwise. The previous time is SQL text, so its seconds come from
    * `Stages.epochBucketSql`.
    */
  private def newSessionFlag(gapSeconds: Long): Column = {
    val prevTs = "lag(ts, 1) OVER (PARTITION BY user_id ORDER BY ts, event_id)"
    val gap = expr(Stages.epochBucketSql("ts", 1)) - expr(Stages.epochBucketSql(prevTs, 1))
    when(expr(s"$prevTs IS NULL") || gap > gapSeconds, 1L).otherwise(0L)
  }

  /** Running total and 3-row moving sum of `value` per user over event
    * time. One shuffle on user_id; frames accumulate in-partition.
    */
  def runningWindow(events: DataFrame): DataFrame = {
    val cents = expr(Stages.centsSql("value"))
    events
      .withColumn("cents", cents)
      .select(
        col("user_id"),
        col("event_id"),
        date_format(col("ts"), "yyyy-MM-dd HH:mm:ss").as("event_time"),
        (sum(col("cents")).over(userOrder.rowsBetween(Window.unboundedPreceding, Window.currentRow)) / 100.0)
          .as("running_total"),
        (sum(col("cents")).over(userOrder.rowsBetween(-2, Window.currentRow)) / 100.0)
          .as("moving_sum3"))
  }

  /** Top-`k` event-type transitions — the Markov/bigram mining pass over
    * behavioral sequences: per user, each event pairs with its
    * predecessor (`lag` over the per-key ordering), transition pairs are
    * counted corpus-wide, and the top-k comes from
    * [[Relational.rankedTopK]]. One shuffle on the key for the lag, one
    * map-combined count whose cardinality is |event types|² — at 100 TB
    * the transition matrix is tiny no matter how big the log is.
    */
  def transitionsTopK(events: DataFrame, k: Int): DataFrame =
    Relational.rankedTopK(
      events
        .select(
          col("event_type").as("curr_type"),
          lag(col("event_type"), 1).over(userOrder).as("prev_type"))
        .filter(col("prev_type").isNotNull)
        .groupBy(col("prev_type"), col("curr_type"))
        .agg(count(lit(1)).as("n")),
      k, col("n").desc, col("prev_type").asc, col("curr_type").asc)
      .select(col("rank"), col("prev_type"), col("curr_type"), col("n"))

  /** Zero-filled hourly series: event counts per hour with every hour of
    * the observed range present, gap hours at n=0. The hour dimension is
    * GENERATED in-plan (`sequence` over the min..max epoch-hour from one
    * tiny aggregate) and right-joined to the map-combined hourly counts —
    * no driver-side range discovery, no calendar UDF, and the time key
    * stays integer epoch-hours (timezone-free, engine-exact). The
    * standard dashboard/gap-fill shape: at 100 TB the counts side is
    * hours-sized after partial aggregation, the dimension side is
    * hours-sized by construction.
    */
  def gapFilledHourly(events: DataFrame): DataFrame = {
    val hourEpoch = expr(Stages.epochBucketSql("ts", 3600))
    val counts = events
      .groupBy(hourEpoch.as("hour_epoch"))
      .agg(count(lit(1)).as("n_raw"))
    val hours = events
      .agg(min(hourEpoch).as("h0"), max(hourEpoch).as("h1"))
      .select(explode(sequence(col("h0"), col("h1"))).as("hour_epoch"))
    hours
      .join(counts, Seq("hour_epoch"), "left")
      .select(
        col("hour_epoch"),
        (col("hour_epoch") * 3600).as("hour_start_epoch"),
        coalesce(col("n_raw"), lit(0L)).as("n"))
  }

  /** Cohort retention: users grouped by their first-activity day, counted
    * distinct per (cohort, whole weeks since cohort). All time math is
    * integer epoch-day arithmetic — no date formatting, no timezone.
    * Two map-combined aggregations and one key equi-join (per-user rows
    * meet per-user firsts); the output is |cohorts|×|offsets|-sized.
    */
  def retentionCohorts(events: DataFrame): DataFrame = {
    val day = expr(Stages.epochBucketSql("ts", 86400))
    val firsts = events
      .groupBy(col("user_id"))
      .agg(min(day).as("cohort_day"))
    events
      .select(col("user_id"), day.as("act_day"))
      .join(firsts, "user_id")
      .groupBy(
        col("cohort_day"),
        expr("(act_day - cohort_day) div 7").as("week_offset"))
      .agg(countDistinct(col("user_id")).as("n_users"))
  }

  /** SCD2 history build — the warehouse change-tracking twin of
    * [[graft.engine.Relational.latestByKey]]: every event becomes a
    * version row with a validity interval `[valid_from, valid_to)` closed
    * by the NEXT version's timestamp (`lead` over the per-key ordering),
    * open-ended + flagged current for the latest. One shuffle on the key;
    * the window never crosses keys, so a 100 TB history build is
    * embarrassingly parallel per key range.
    */
  def scd2(events: DataFrame): DataFrame = {
    val next = lead(col("ts"), 1).over(userOrder)
    events.select(
      col("user_id"),
      col("event_id"),
      row_number().over(userOrder).cast("long").as("version"),
      date_format(col("ts"), "yyyy-MM-dd HH:mm:ss").as("valid_from"),
      date_format(next, "yyyy-MM-dd HH:mm:ss").as("valid_to"),
      next.isNull.as("is_current"),
      col("event_type"),
      col("value"))
  }

  /** Two-step conversion funnel per user: first `stepA` event, then the
    * first `stepB` event at-or-after it, and whether the conversion landed
    * within `windowHours`. Two map-combined aggregations and one
    * user-key equi-join — per-user rows only ever meet per-user rows, so
    * the join input is |users|-sized, not |events|²; no window sort over
    * the event log. The standard product-analytics funnel, expressed in
    * the shape that survives a 100 TB event store.
    */
  def funnel(events: DataFrame, stepA: String, stepB: String, windowHours: Int): DataFrame = {
    val firstA = events
      .filter(col("event_type") === stepA)
      .groupBy(col("user_id"))
      .agg(min(col("ts")).as("ts_a"))
    val bs = events
      .filter(col("event_type") === stepB)
      .select(col("user_id").as("user_b"), col("ts").as("ts_b"))
    // the ≥ ts_a condition lives IN the left join, not a post-filter —
    // a post-filter would drop users whose B events all precede A
    firstA
      .join(bs, col("user_id") === col("user_b") && col("ts_b") >= col("ts_a"), "left")
      .groupBy(col("user_id"), col("ts_a"))
      .agg(min(col("ts_b")).as("ts_conv"))
      .select(
        col("user_id"),
        date_format(col("ts_a"), "yyyy-MM-dd HH:mm:ss").as("first_a"),
        date_format(col("ts_conv"), "yyyy-MM-dd HH:mm:ss").as("first_b_after"),
        (col("ts_conv").isNotNull &&
          expr(Stages.epochBucketSql("ts_conv", 1)) - expr(Stages.epochBucketSql("ts_a", 1)) <= windowHours * 3600L)
          .as("converted"))
  }

  /** Three-step ordered sequence funnel (step1 → step2 → step3): per
    * user, the first step1 event, the first step2 event at-or-after it,
    * and the first step3 event at-or-after that. Every step1 user is
    * kept (left joins with the ordering condition IN the join, as in
    * [[funnel]]); each chaining stage is a join + min-aggregate on the
    * same user_id partitioning — at scale, three co-partitioned shuffles
    * of per-user firsts, never a cross of full event sets.
    */
  def funnel3(events: DataFrame, step1: String, step2: String, step3: String): DataFrame = {
    val first1 = events
      .filter(col("event_type") === step1)
      .groupBy(col("user_id"))
      .agg(min(col("ts")).as("ts_1"))
    val s2 = events
      .filter(col("event_type") === step2)
      .select(col("user_id").as("u2"), col("ts").as("ts_2c"))
    val first2 = first1
      .join(s2, col("user_id") === col("u2") && col("ts_2c") >= col("ts_1"), "left")
      .groupBy(col("user_id"), col("ts_1"))
      .agg(min(col("ts_2c")).as("ts_2"))
    val s3 = events
      .filter(col("event_type") === step3)
      .select(col("user_id").as("u3"), col("ts").as("ts_3c"))
    first2
      .join(s3, col("user_id") === col("u3") && col("ts_3c") >= col("ts_2"), "left")
      .groupBy(col("user_id"), col("ts_1"), col("ts_2"))
      .agg(min(col("ts_3c")).as("ts_3"))
      .select(
        col("user_id"),
        date_format(col("ts_1"), "yyyy-MM-dd HH:mm:ss").as("first_1"),
        date_format(col("ts_2"), "yyyy-MM-dd HH:mm:ss").as("first_2"),
        date_format(col("ts_3"), "yyyy-MM-dd HH:mm:ss").as("first_3"),
        col("ts_3").isNotNull.as("completed"))
  }

  /** Batch sessionization: a session breaks after more than
    * `gapMinutes` of inactivity. Classic gaps-and-islands: lag → new-flag
    * → running sum as session id → per-session aggregate. Two window
    * passes + one aggregation, all on the same user_id partitioning (one
    * shuffle total).
    */
  def sessionizeBatch(events: DataFrame, gapMinutes: Int): DataFrame = {
    events
      .withColumn("is_new", newSessionFlag(gapMinutes * 60L))
      .withColumn(
        "session_id",
        sum(col("is_new")).over(userOrder.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .withColumn("cents", expr(Stages.centsSql("value")))
      .groupBy(col("user_id"), col("session_id"))
      .agg(
        date_format(min(col("ts")), "yyyy-MM-dd HH:mm:ss").as("session_start"),
        date_format(max(col("ts")), "yyyy-MM-dd HH:mm:ss").as("session_end"),
        count(lit(1)).as("n_events"),
        expr("sum(cents) / CAST(100 AS DOUBLE)").as("total_value"))
  }

  /** ROLLUP over (returnflag, linestatus): per-combination, per-flag
    * subtotals and grand total in one pass (Spark expands grouping sets
    * in a single shuffle).
    */
  def rollupStats(lineitem: DataFrame): DataFrame =
    lineitem
      .withColumn("qty_cents", expr(Stages.centsSql("l_quantity")))
      .rollup(col("l_returnflag"), col("l_linestatus"))
      .agg(count(lit(1)).as("n_rows"), expr("sum(qty_cents) / CAST(100 AS DOUBLE)").as("sum_qty"))

  /** Analytic-function battery over one per-user shuffle: lag/lead on
    * the time order plus the rank family (rank, dense_rank, ntile,
    * percent_rank) on a value order made total with an id tie-break —
    * ties would otherwise make ntile/row-dependent outputs
    * nondeterministic across engines. Both orders share the user_id
    * partitioning, so Spark evaluates them in one exchange.
    */
  def windowFuncs(events: DataFrame): DataFrame = {
    val timeOrder = userOrder
    val valueOrder = Window
      .partitionBy(col("user_id"))
      .orderBy(expr(Stages.centsSql("value")).desc, col("event_id").asc)
    events.select(
      col("user_id"),
      col("event_id"),
      col("value"),
      lag(col("value"), 1).over(timeOrder).as("prev_value"),
      lead(col("value"), 1).over(timeOrder).as("next_value"),
      first(col("value")).over(timeOrder.rowsBetween(Window.unboundedPreceding, Window.currentRow))
        .as("first_value"),
      rank().over(valueOrder).cast("long").as("value_rank"),
      dense_rank().over(valueOrder).cast("long").as("value_dense_rank"),
      ntile(4).over(valueOrder).cast("long").as("quartile"),
      percent_rank().over(valueOrder).as("pct_rank"),
      cume_dist().over(valueOrder).as("cum_dist"),
      nth_value(col("value"), 3)
        .over(timeOrder.rowsBetween(Window.unboundedPreceding, Window.currentRow))
        .as("third_value"))
  }

  /** Native `session_window` sessionization via Spark's first-class
    * session-window operator (one shuffle on the grouping key; runs
    * identically under Structured Streaming with a watermark, which is
    * the point of using the native operator over the gaps-and-islands
    * spelling). Session end is last-event-time + gap, per the operator's
    * contract. BOUNDARY DIVERGENCE from [[sessionizeBatch]]: it treats an
    * exactly-gap-apart event as the SAME session (strict `>` split),
    * while the native window's half-open interval starts a NEW one — on
    * any other input the two produce identical sessions, but they are
    * not interchangeable on gap-aligned timestamps (each query's oracle
    * mirrors its own spelling).
    */
  def sessionWindowStats(events: DataFrame, gapMinutes: Int): DataFrame =
    events
      .withColumn("cents", expr(Stages.centsSql("value")))
      .groupBy(col("user_id"), session_window(col("ts"), s"$gapMinutes minutes").as("w"))
      .agg(
        count(lit(1)).as("n_events"),
        expr("sum(cents) / CAST(100 AS DOUBLE)").as("total_value"))
      .select(
        col("user_id"),
        expr(Stages.epochBucketSql("w.start", 1)).as("session_start"),
        expr(Stages.epochBucketSql("w.end", 1)).as("session_end"),
        col("n_events"),
        col("total_value"))

  /** CUBE over (returnflag, linestatus): all four grouping-set levels —
    * per-combination, per-flag, per-status, grand total — expanded in a
    * single shuffle, like [[rollupStats]] but with the full lattice.
    */
  def cubeStats(lineitem: DataFrame): DataFrame =
    lineitem
      .withColumn("price_cents", expr(Stages.centsSql("l_extendedprice")))
      .cube(col("l_returnflag"), col("l_linestatus"))
      .agg(
        count(lit(1)).as("n_rows"),
        expr("sum(price_cents) / CAST(100 AS DOUBLE)").as("sum_price"))

  /** Sliding event-time windows: 60-minute windows advancing every 30
    * minutes. Each event expands map-side into exactly window/slide = 2
    * window rows, then ONE shuffle aggregates — the batch twin of a
    * streaming sliding-window aggregation, and the same plan shape Spark
    * uses under `writeStream`. Window starts are emitted as epoch seconds
    * so results are timezone-proof across engines.
    */
  def slidingWindowStats(events: DataFrame): DataFrame =
    events
      .withColumn("cents", expr(Stages.centsSql("value")))
      .groupBy(window(col("ts"), "60 minutes", "30 minutes").as("w"))
      .agg(
        count(lit(1)).as("n_events"),
        expr("sum(cents) / CAST(100 AS DOUBLE)").as("sum_value"))
      .select(expr(Stages.epochBucketSql("w.start", 1)).as("ws"), col("n_events"), col("sum_value"))

  /** Pivot event_type → one exact-average column per category (the
    * relational spelling of the reference's conditional aggregates A2/A4,
    * as a first-class pivot).
    */
  def pivotAvgByType(events: DataFrame, types: Seq[String]): DataFrame =
    events
      .groupBy(date_format(date_trunc("hour", col("ts")), "yyyy-MM-dd HH:mm:ss").as("hour_start"))
      .pivot("event_type", types)
      .agg(expr(Stages.halfUpAvgDollarsSql(Stages.centsSql("value"))))

  /** UNPIVOT (melt): the wide per-category hourly-average table back to
    * long (hour, category, value) form — the inverse of
    * [[pivotAvgByType]] and the standard reshaping step before a
    * long-format export or union with other metrics. `Dataset.unpivot`
    * expands map-side (an Expand node, no shuffle); null cells (hours
    * where a category had no events) are dropped to match SQL UNPIVOT's
    * default EXCLUDE NULLS on both engines.
    */
  def unpivotHourlyAvg(events: DataFrame, types: Seq[String]): DataFrame =
    pivotAvgByType(events, types)
      .unpivot(
        Array(col("hour_start")),
        types.map(col).toArray,
        "event_type",
        "avg_value")
      .filter(col("avg_value").isNotNull)

  /** Event-time RANGE frame: per user, the rolling sum/count of `value`
    * over the trailing `rangeSeconds` of EVENT TIME (`RANGE BETWEEN n
    * PRECEDING AND CURRENT ROW` on epoch seconds) — a true time-decayed
    * rolling feature, unlike ROWS frames whose horizon depends on event
    * density. RANGE frames include all peers of the current timestamp on
    * both engines, so no tie-breaker is needed (or allowed) in the frame
    * order. One shuffle on user_id; sums are integer cents.
    */
  def timeRangeWindow(events: DataFrame, rangeSeconds: Long = 3600): DataFrame = {
    val w = Window
      .partitionBy(col("user_id"))
      .orderBy(col("epoch_s"))
      .rangeBetween(-rangeSeconds, Window.currentRow)
    events
      .withColumn("epoch_s", expr(Stages.epochBucketSql("ts", 1)))
      .withColumn("cents", expr(Stages.centsSql("value")))
      .select(
        col("user_id"),
        col("event_id"),
        col("epoch_s"),
        (sum(col("cents")).over(w) / lit(100.0)).as("rolling_sum"),
        count(lit(1)).over(w).as("n_in_range"))
  }

  /** Ordered per-key sequence string (LISTAGG/STRING_AGG) — the
    * behavioral-path builder of a sequence-modeling pipeline: every
    * user's events concatenated in event-time order into one
    * `a>b>c` string. `collect_list` alone is partition-order
    * nondeterministic, so the list gathers (ts, event_id, event_type)
    * structs and `array_sort` imposes the total order INSIDE the
    * aggregate's result, map-side combined like any other aggregate —
    * one shuffle of |keys| rows, no window sort of the full corpus.
    * Per-key state is bounded by the user's own event count (cap it
    * upstream with [[Relational.quotaSample]]-style limits at 100 TB).
    */
  def pathString(events: DataFrame): DataFrame =
    events
      .groupBy(col("user_id"))
      .agg(
        count(lit(1)).as("n_events"),
        array_join(
          transform(
            array_sort(collect_list(struct(col("ts"), col("event_id"), col("event_type")))),
            x => x.getField("event_type")),
          ">").as("path"))

  /** PageRank over the event-type transition graph, `iters` synchronous
    * iterations in EXACT integer arithmetic (rank mass scaled by
    * `scale`): contribution = (r·w) div out-weight, update =
    * 0.15·scale/n + 0.85·Σcontrib, every division integral — so the
    * result is bit-identical on any engine and any partitioning (a
    * floating-point PageRank is summation-order nondeterministic).
    *
    * Hybrid execution, same contract as the near-dup clustering: the
    * ONLY corpus-scale pass is the distributed edge aggregation (one
    * shuffle of (src, dst) pairs); the aggregated edge list is bounded
    * by |V|² — the event-type vocabulary, not the corpus — so below
    * `maxDriverEdges` the iterations run on the driver over the
    * collected list (a lazy distributed loop would replay the whole
    * edge lineage once per reference per iteration). Above the budget,
    * [[pageRankDistributed]] iterates with |V|-sized rank joins against
    * the (cached-size) edge list. Both paths share the integer-update
    * arithmetic, so they agree bit-for-bit. Dangling mass is
    * deliberately dropped (same on both engines).
    */
  def pageRank(
      events: DataFrame,
      iters: Int = 5,
      scale: Long = 1000000000L,
      maxDriverEdges: Long = 1000000L): DataFrame = {
    val spark = events.sparkSession
    val edges = transitionEdges(events)
    val edgeRows = edges.limit(maxDriverEdges.toInt + 1).collect()
    if (edgeRows.length > maxDriverEdges) return pageRankDistributed(events, iters, scale)
    val eList = edgeRows.map(r =>
      (r.getAs[String]("src"), r.getAs[String]("dst"), r.getAs[Long]("w")))
    val outw = eList.groupBy(_._1).map { case (s, es) => s -> es.map(_._3).sum }
    val nodes = (eList.map(_._1) ++ eList.map(_._2)).distinct.sorted
    val n = nodes.length.toLong
    var r: Map[String, Long] = nodes.map(_ -> scale / n).toMap
    for (_ <- 1 to iters) {
      val contrib = collection.mutable.Map.empty[String, Long].withDefaultValue(0L)
      // widen the product: r ≤ scale (1e9) but w is a raw transition
      // count — r*w wraps Long once one edge carries ≳9.2e9 transitions
      // (routine at log scale); the quotient is ≤ r, so it narrows back
      eList.foreach { case (src, dst, w) =>
        contrib(dst) += (BigInt(r(src)) * w / outw(src)).toLong
      }
      r = nodes.map(v => v -> (((scale * 15) / 100) / n + (85 * contrib(v)) / 100)).toMap
    }
    val ranked = nodes
      .map(v => (v, r(v)))
      .sortBy { case (v, rv) => (-rv, v) }
      .zipWithIndex
      .map { case ((v, rv), i) => (i + 1L, v, rv) }
    import spark.implicits._
    ranked.toSeq.toDF("rank", "node", "r")
  }

  /** Per-day spend leaderboard: two-level shape — (day, user) exact
    * integer-cents totals first (map-combined), then a per-day
    * `row_number() <= k` that WindowGroupLimit prunes before its
    * shuffle. The window input is the aggregate (|days|·|users| bound),
    * never raw events.
    */
  def dailyTopSpenders(events: DataFrame, k: Int): DataFrame = {
    val per = events
      .filter(col("value").isNotNull)
      .groupBy(expr(Stages.epochBucketSql("ts", 86400)).as("day_epoch"), col("user_id"))
      .agg(sum(expr(Stages.centsSql("value"))).as("cents"))
    Relational.topKPerGroup(per, k, Seq(col("day_epoch")), col("cents").desc, col("user_id").asc)
      .select(
        col("day_epoch"), col("rank"), col("user_id"),
        expr("cents / CAST(100 AS DOUBLE)").as("spend"))
  }

  /** Top event-type TRIGRAMS — [[transitionsTopK]]'s order-3 sibling,
    * the sequential-pattern miner over behavioral paths: two lags over
    * the per-user event-time order, one vocabulary-bounded count, global
    * top-k via TakeOrdered.
    */
  def trigramPaths(events: DataFrame, k: Int): DataFrame = {
    val seq = events
      .select(
        col("event_type").as("t3"),
        lag(col("event_type"), 1).over(userOrder).as("t2"),
        lag(col("event_type"), 2).over(userOrder).as("t1"))
      .filter(col("t1").isNotNull)
    Relational.rankedTopK(
      seq.groupBy(col("t1"), col("t2"), col("t3")).agg(count(lit(1)).as("n")),
      k, col("n").desc, col("t1").asc, col("t2").asc, col("t3").asc)
  }

  /** Time-to-conversion by signup cohort — the survival-curve input:
    * per user, hours from first signup to first subsequent purchase
    * (INTEGER hours via floor division), aggregated per cohort day with
    * an exact median (`percentile`, cross-engine-consistent with
    * quantile_cont on integers). Unconverted users count in n_users but
    * contribute NULL gaps, which both engines' aggregates skip.
    */
  def timeToConvert(events: DataFrame): DataFrame = {
    val first = events
      .filter(col("event_type") === "signup")
      .groupBy(col("user_id"))
      .agg(min(col("ts")).as("ts_a"))
    val conv = first
      .join(
        events.select(col("user_id").as("uid2"), col("event_type"), col("ts").as("ts_b")),
        col("user_id") === col("uid2") &&
          col("event_type") === "purchase" && col("ts_b") >= col("ts_a"),
        "left")
      .groupBy(col("user_id"), col("ts_a"))
      .agg(min(col("ts_b")).as("ts_conv"))
    conv
      .select(
        expr(Stages.epochBucketSql("ts_a", 86400)).as("cohort_day"),
        expr(s"${Stages.epochBucketSql("ts_conv", 3600)} - ${Stages.epochBucketSql("ts_a", 3600)}").as("gap_hours"))
      .groupBy(col("cohort_day"))
      .agg(
        count(lit(1)).as("n_users"),
        count(col("gap_hours")).as("n_converted"),
        expr("percentile(gap_hours, 0.5)").as("median_hours"))
  }

  /** Day-over-day activity deltas: one corpus aggregation to daily
    * counts, then lag/delta over the |days|-sized aggregate (the window
    * runs over the AGGREGATE, never the facts — a constant partition
    * key over bounded rows, not the corpus).
    */
  def dailyDelta(events: DataFrame): DataFrame = {
    val daily = events
      .select(expr(Stages.epochBucketSql("ts", 86400)).as("day_epoch"))
      .groupBy(col("day_epoch"))
      .agg(count(lit(1)).as("n"))
    val w = Window.partitionBy(lit(1)).orderBy(col("day_epoch"))
    daily.select(
      col("day_epoch"),
      col("n"),
      lag(col("n"), 1).over(w).as("prev_n"),
      (col("n") - coalesce(lag(col("n"), 1).over(w), col("n"))).as("delta"))
  }

  /** Hour-of-day seasonality profile: activity and exact half-up money
    * averages folded across days onto the 24-slot clock face — a single
    * grouped aggregate whose output is constant-size regardless of
    * corpus span.
    */
  def hourlyProfile(events: DataFrame): DataFrame = {
    val cents = Stages.centsWhenSql("value IS NOT NULL", "value")
    events
      .groupBy(hour(col("ts")).cast("long").as("hour_of_day"))
      .agg(
        count(lit(1)).as("n_events"),
        expr(s"${Stages.halfUpAvgDollarsSql(cents)}").as("avg_value"))
  }

  /** Lag-1 autocorrelation of the daily activity series, exactly: the
    * corpus collapses to |days| counts, consecutive days pair by an
    * arithmetic day+1 self-join, and the correlation comes from integer
    * sufficient statistics through [[Stages.momentStatsSql]]'s shared
    * closed form (built-in `corr` is partition-order nondeterministic).
    * Everything after the first aggregate is |days|-sized.
    */
  def dailyAutocorr(events: DataFrame): DataFrame = {
    val daily = events
      .select(expr(Stages.epochBucketSql("ts", 86400)).as("day"))
      .groupBy(col("day"))
      .agg(count(lit(1)).as("cnt"))
    val pairs = daily
      .as("a")
      .join(daily.as("b"), col("b.day") === col("a.day") + 1)
      .select(col("a.cnt").as("x"), col("b.cnt").as("y"))
    val sums = Stages.bivariateSums(col("x"), col("y"))
    pairs
      .agg(sums.head, sums.tail: _*)
      .select(
        Seq(col("n").as("n_pairs")) ++
          Stages.momentStatsSql
            .filter { case (name, _) => Seq("mean_x", "mean_y", "corr_xy").contains(name) }
            .map { case (name, sql) => expr(sql).as(name) }: _*)
  }

  /** Lagged cross-correlation between the hourly event-count series and
    * the hourly revenue series: does activity volume LEAD spend? The
    * corpus collapses to |hours| rows first; each lag 0..maxLag pairs
    * hour t COUNTS (x) with hour t+lag REVENUE (y) via an arithmetic
    * equi-join (`b.hour = a.hour + lag`) — x must be the EARLIER series
    * for the lag to read as "activity leads spend by `lag` hours" (an
    * earlier spelling paired revenue-at-t with counts-at-t+lag,
    * answering the inverted question) — and the correlation comes from
    * exact integer sufficient statistics through
    * [[Stages.momentStatsSql]]'s shared closed form. The cents products
    * widen to DECIMAL(38,0) (oracle: HUGEINT) — hourly cents square past
    * BIGINT on realistic volumes. Everything past the first aggregate is
    * |hours|·(maxLag+1)-sized.
    */
  def crossCorr(events: DataFrame, maxLag: Int = 3): DataFrame = {
    val hourly = events
      .groupBy(expr(Stages.epochBucketSql("ts", 3600)).as("hour"))
      .agg(
        sum(expr(Stages.centsSql("value"))).as("cents"),
        count(lit(1)).as("cnt"))
    val lags = events.sparkSession.range(0, maxLag + 1).select(col("id").as("lag"))
    val sums = Stages.bivariateSums(col("a.cnt"), col("b.cents"), wide = true)
    hourly
      .as("a")
      .crossJoin(broadcast(lags))
      .join(
        hourly.as("b"),
        col("b.hour") === col("a.hour") + col("lag"))
      .groupBy(col("lag"))
      .agg(sums.head, sums.tail: _*)
      .select(
        Seq(col("lag"), col("n").as("n_pairs")) ++
          Stages.momentStatsSql
            .filter { case (name, _) => name == "corr_xy" }
            .map { case (name, sql) => expr(sql).as(name) }: _*)
  }

  /** Bollinger bands over the hourly revenue series: mean and
    * population σ over the trailing `span` OBSERVED hourly bars (the
    * standard N-period Bollinger definition — see the frame note in the
    * body for how that differs from a calendar-24h range on gappy
    * series), derived from integer sufficient statistics (sum,
    * sum-of-squares over the frame) through the same /n-first closed
    * form as [[Stages.momentStatsSql]] — no built-in `stddev` (its
    * accumulation order is engine-specific). The corpus collapses to
    * |hours| rows BEFORE the only unpartitioned window, so the window
    * input is pre-aggregated and tiny at any corpus scale. `signal` is
    * +1/−1/0 for closes above/below the 2σ band.
    */
  def bollingerBands(events: DataFrame, span: Int = 24): DataFrame = {
    val hourly = events
      .groupBy(expr(Stages.epochBucketSql("ts", 3600)).as("hour"))
      .agg(sum(expr(Stages.centsSql("value"))).as("cents"))
    // ROWS frame = trailing `span` OBSERVED hourly bars, the standard
    // Bollinger definition (N periods of the bar series) — NOT a
    // calendar-24h range: an hour with zero events produces no bar, so
    // after a quiet gap the frame reaches further back in clock time.
    // Callers wanting calendar semantics should densify the hour grid
    // first (the rollingSums rangeBetween treatment).
    val w = Window.orderBy(col("hour")).rowsBetween(-(span - 1), 0)
    val bands = hourly
      .withColumn("n_win", count(lit(1)).over(w))
      .withColumn("s_win", sum(col("cents")).over(w))
      // DECIMAL(38,0) — 24 squared hourly-cents terms wrap BIGINT on
      // realistic volumes (oracle twin: HUGEINT)
      .withColumn("ss_win", sum(expr("CAST(cents AS DECIMAL(38,0)) * cents")).over(w))
    val n = Stages.divisorSql("n_win", nonZero = false)
    val ma = Stages.meanSql("s_win", n)
    val sd = s"sqrt(${cmomSql("ss_win", "s_win", "s_win", n)})"
    bands
      .select(
        col("hour"), col("cents"), col("n_win"),
        expr(ma).as("ma"),
        expr(sd).as("sd"),
        expr(s"""CASE WHEN CAST(cents AS DOUBLE) > $ma + 2 * $sd THEN 1
                     WHEN CAST(cents AS DOUBLE) < $ma - 2 * $sd THEN -1
                     ELSE 0 END""").cast("long").as("signal"))
  }

  /** Exponential moving average of the hourly event count as an EXPLICIT
    * finite kernel: six `lag` terms with halving weights, each weight an
    * exact binary fraction, summed in fixed textual order and normalized
    * by the sum of PRESENT weights (series head keeps fewer terms). A
    * recursive EWMA is inexpressible as a window frame; the truncated
    * kernel (residual weight 2⁻⁶ ≈ 1.6 %) is the standard streaming
    * approximation and gives bit-identical doubles on any engine. The
    * lags run over the pre-aggregated |hours| series, not the corpus.
    */
  def ewmaSeries(events: DataFrame): DataFrame = {
    val hourly = events
      .groupBy(expr(Stages.epochBucketSql("ts", 3600)).as("hour"))
      .agg(count(lit(1)).as("cnt"))
    val w = Window.orderBy(col("hour"))
    val withLags = (1 to 5).foldLeft(hourly) { (df, i) =>
      df.withColumn(s"l$i", lag(col("cnt"), i).over(w))
    }
    withLags.select(
      col("hour"), col("cnt"),
      expr("""(CAST(cnt AS DOUBLE)
              + CASE WHEN l1 IS NULL THEN 0.0 ELSE 0.5 * CAST(l1 AS DOUBLE) END
              + CASE WHEN l2 IS NULL THEN 0.0 ELSE 0.25 * CAST(l2 AS DOUBLE) END
              + CASE WHEN l3 IS NULL THEN 0.0 ELSE 0.125 * CAST(l3 AS DOUBLE) END
              + CASE WHEN l4 IS NULL THEN 0.0 ELSE 0.0625 * CAST(l4 AS DOUBLE) END
              + CASE WHEN l5 IS NULL THEN 0.0 ELSE 0.03125 * CAST(l5 AS DOUBLE) END)
              / (1.0
              + CASE WHEN l1 IS NULL THEN 0.0 ELSE 0.5 END
              + CASE WHEN l2 IS NULL THEN 0.0 ELSE 0.25 END
              + CASE WHEN l3 IS NULL THEN 0.0 ELSE 0.125 END
              + CASE WHEN l4 IS NULL THEN 0.0 ELSE 0.0625 END
              + CASE WHEN l5 IS NULL THEN 0.0 ELSE 0.03125 END)""").as("ewma"))
  }

  /** Seasonal traffic anomalies: each hour's event count against the
    * mean of its (day-of-week × hour-of-day) cell. Calendar math is pure
    * integer arithmetic (`(epoch_day + 4) % 7` — 1970-01-01 was a
    * Thursday) because `dayofweek`/`dow` builtins disagree across
    * engines. Two map-combined aggregates and one broadcast join of the
    * 168-row profile; the ratio is a single fixed-order division, and
    * only hours ≥ 1.5× their cell mean survive.
    */
  def seasonalAnomaly(events: DataFrame, minRatio: Double = 1.5): DataFrame = {
    val hourly = events
      .groupBy(expr(Stages.epochBucketSql("ts", 3600)).as("hour_epoch"))
      .agg(count(lit(1)).as("cnt"))
      .withColumn("dow", expr("(hour_epoch div 24 + 4) % 7"))
      .withColumn("hod", expr("hour_epoch % 24"))
    val profile = hourly
      .groupBy(col("dow"), col("hod"))
      .agg(count(lit(1)).as("cell_n"), sum(col("cnt")).as("cell_sum"))
    hourly
      .join(broadcast(profile), Seq("dow", "hod"))
      .withColumn(
        "ratio",
        expr("CAST(cnt AS DOUBLE) * CAST(cell_n AS DOUBLE) / CAST(cell_sum AS DOUBLE)"))
      .filter(col("ratio") >= minRatio)
      .select(col("hour_epoch"), col("dow"), col("hod"), col("cnt"),
        col("cell_n"), col("cell_sum"), col("ratio"))
  }

  /** SAX symbolization of the hourly activity series: z-scores against
    * the GLOBAL series mean/σ (exact integer sufficient statistics, /n
    * form, one sqrt) map to a 4-letter alphabet at the standard normal
    * quartile breakpoints ±0.6745. The series stats ride in as a
    * broadcast 1-row cross join; everything else is per-row arithmetic
    * over the pre-aggregated |hours| table.
    */
  def saxSymbols(events: DataFrame): DataFrame = {
    val hourly = events
      .groupBy(expr(Stages.epochBucketSql("ts", 3600)).as("hour"))
      .agg(count(lit(1)).as("cnt"))
    val stats = hourly.agg(
      count(lit(1)).as("n"),
      sum(col("cnt")).as("s"),
      sum(col("cnt") * col("cnt")).as("ss"))
    val n = Stages.divisorSql(nonZero = false)
    hourly
      .crossJoin(broadcast(stats))
      .withColumn(
        "z",
        expr(s"""(CAST(cnt AS DOUBLE) - ${Stages.meanSql("s", n)})
                / nullif(sqrt(${cmomSql("ss", "s", "s", n)}), 0.0E0)"""))
      .select(
        col("hour"), col("cnt"), col("z"),
        expr("""CASE WHEN z < -0.6745 THEN 'a' WHEN z < 0.0 THEN 'b'
                     WHEN z < 0.6745 THEN 'c' ELSE 'd' END""").as("symbol"))
  }

  /** Linear interpolation of missing points on a DENSE hourly spine:
    * `sequence(min,max)` generates every hour, observed counts left-join
    * on, and gaps fill from the nearest observed neighbors on each side
    * (IGNORE NULLS window endpoints) weighted by integer hour distance —
    * one division per gap row. Series edges degrade to one-sided fill.
    * Both windows run over the |hours| spine, never the corpus; the
    * spine generation is one `explode` of a 2-element aggregate.
    */
  def gapInterpolate(events: DataFrame): DataFrame = {
    val hourly = events
      .groupBy(expr(Stages.epochBucketSql("ts", 3600)).as("hour"))
      .agg(count(lit(1)).as("cnt"))
    val spine = hourly
      .agg(min(col("hour")).as("lo"), max(col("hour")).as("hi"))
      .select(explode(expr("sequence(lo, hi)")).as("hour"))
    val before = Window.orderBy(col("hour")).rowsBetween(Window.unboundedPreceding, 0)
    // "Nearest observed at-or-AFTER" as a running frame over DESCENDING
    // hour, NOT first(...).over(rowsBetween(0, unboundedFollowing)):
    // Spark evaluates a shrinking frame ([x, ∞]) from scratch per row —
    // O(|spine|²), which the growing frame maintains incrementally in
    // O(|spine|). Same rows, same values (hour is unique, so the desc
    // order is the exact reversal); only the frame direction changes.
    // Found by the extreme-fixture sweep: a 1950→2099 ts domain makes a
    // 1.3M-hour spine, and the quadratic frame turned a sub-second query
    // into CPU-hours — the shape a 100 TB corpus hits on day one.
    val beforeDesc =
      Window.orderBy(col("hour").desc).rowsBetween(Window.unboundedPreceding, 0)
    spine
      .join(hourly, Seq("hour"), "left")
      .withColumn("prev_val", last(col("cnt"), ignoreNulls = true).over(before))
      .withColumn(
        "prev_hour",
        last(when(col("cnt").isNotNull, col("hour")), ignoreNulls = true).over(before))
      .withColumn("next_val", last(col("cnt"), ignoreNulls = true).over(beforeDesc))
      .withColumn(
        "next_hour",
        last(when(col("cnt").isNotNull, col("hour")), ignoreNulls = true).over(beforeDesc))
      .select(
        col("hour"),
        col("cnt"),
        expr("""CASE
                  WHEN cnt IS NOT NULL THEN CAST(cnt AS DOUBLE)
                  WHEN prev_val IS NOT NULL AND next_val IS NOT NULL THEN
                    CAST(prev_val AS DOUBLE)
                    + CAST(next_val - prev_val AS DOUBLE)
                      * (CAST(hour - prev_hour AS DOUBLE)
                         / CAST(next_hour - prev_hour AS DOUBLE))
                  WHEN prev_val IS NOT NULL THEN CAST(prev_val AS DOUBLE)
                  ELSE CAST(next_val AS DOUBLE)
                END""").as("filled"),
        col("cnt").isNull.cast("long").as("was_gap"))
  }

  /** Rolling median (and p90) of the hourly count over the trailing
    * `span` OBSERVED hourly bars (ROWS frame — see [[bollingerBands]]
    * for the gappy-series caveat) — the robust Bollinger alternative:
    * exact interpolated
    * percentile evaluated AS a window aggregate, over the
    * pre-aggregated |hours| series only. Outlier hours barely move it,
    * unlike the mean band.
    */
  def rollingMedian(events: DataFrame, span: Int = 24): DataFrame = {
    val hourly = events
      .groupBy(expr(Stages.epochBucketSql("ts", 3600)).as("hour"))
      .agg(count(lit(1)).as("cnt"))
    val w = Window.orderBy(col("hour")).rowsBetween(-(span - 1), 0)
    hourly
      .withColumn("med", expr("percentile(cnt, 0.5)").over(w))
      .withColumn("p90", expr("percentile(cnt, 0.9)").over(w))
      .select(col("hour"), col("cnt"), col("med"), col("p90"))
  }

  /** Log₂-binned histogram of line-item price WITHOUT `ln`: the bin is
    * the bit length of the integer cents value (`length(bin(x)) − 1` —
    * identical builtin in both engines), so doubling buckets come from
    * pure integer/string ops. One map-combined aggregate, |bins| ≤ 63
    * output rows at any scale.
    */
  def logHistogram(lineitem: DataFrame): DataFrame =
    lineitem
      .select(expr(Stages.centsSql("l_extendedprice")).as("cents"))
      .groupBy(expr("length(bin(cents)) - 1").cast("long").as("bin"))
      .agg(
        count(lit(1)).as("n"),
        min(col("cents")).as("min_cents"),
        max(col("cents")).as("max_cents"),
        sum(col("cents")).as("sum_cents"))

  /** Velocity / burst screen: each user's maximum event count inside any
    * trailing-24h RANGE frame over their own timeline — the sliding-
    * window rate limit a fraud pipeline enforces. The frame is
    * event-time RANGE (integer seconds), partitioned per user: state
    * never exceeds one user's day of events, and the corpus shuffles
    * once on user_id. `flagged` marks users whose burst reaches
    * `threshold`.
    */
  def velocityScreen(events: DataFrame, threshold: Long = 8L): DataFrame = {
    val w = Window
      .partitionBy(col("user_id"))
      .orderBy(col("ts_sec"))
      .rangeBetween(-86399L, 0L)
    events
      .select(col("user_id"), expr(Stages.epochBucketSql("ts", 1)).as("ts_sec"))
      .withColumn("burst", count(lit(1)).over(w))
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_events"), max(col("burst")).as("max_burst"))
      .withColumn("flagged", (col("max_burst") >= threshold).cast("long"))
  }

  /** Week-over-week spend-quartile transition matrix: users are ntile(4)
    * bucketed WITHIN each of the first and fourth observed weeks (via
    * value-grid ranks + NTile's exact bucket rule — a two-key per-user
    * window would sort corpus/2 rows in one task), and the |4×4| matrix
    * counts migrations. The week anchors derive from the data
    * (broadcast 1-row min), so the query is calendar-free.
    * Users absent in either week fall out via the inner join — churn
    * accounting belongs to [[retentionCohorts]].
    */
  def segmentShift(events: DataFrame): DataFrame = {
    val weekly = events
      .groupBy(col("user_id"), expr(Stages.epochBucketSql("ts", 604800)).as("week"))
      .agg(sum(expr(Stages.centsSql("value"))).as("cents"))
    val anchor = weekly.agg(min(col("week")).as("w0"))
    val anchored = weekly
      .crossJoin(broadcast(anchor))
      .withColumn("rel_week", col("week") - col("w0"))
      .filter(col("rel_week") === 0L || col("rel_week") === 3L)
    // ntile(4) over per-user rows in a TWO-key window is corpus/2 per
    // task at scale. Scale-free spelling: the running user count windows
    // over the per-week VALUE GRID (bounded by the cents domain), each
    // user's within-week rank is grid offset + position inside their tie
    // run (a window keyed by (week, cents) — tie-run-sized partitions),
    // and NTile's exact bucket rule (first n mod 4 buckets get size
    // n div 4 + 1) is applied arithmetically from a 2-row broadcast of
    // week sizes. Bit-identical to the windowed ntile: the composite
    // (cents, user_id) order is total.
    val dist = anchored
      .groupBy(col("rel_week"), col("cents"))
      .agg(count(lit(1)).as("_c"))
      .withColumn(
        "_cum",
        sum(col("_c")).over(Window.partitionBy(col("rel_week")).orderBy(col("cents").asc)
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    val sizes = dist.groupBy(col("rel_week")).agg(sum(col("_c")).as("_n"))
    val q = anchored
      .join(dist, Seq("rel_week", "cents"))
      .withColumn(
        "_j",
        row_number().over(
          Window.partitionBy(col("rel_week"), col("cents")).orderBy(col("user_id").asc))
          .cast("long"))
      .withColumn("_i", col("_cum") - col("_c") + col("_j"))
      .join(broadcast(sizes), Seq("rel_week"))
      .withColumn(
        "quartile",
        expr("""CASE WHEN _i <= (_n % 4) * (_n div 4 + 1)
                     THEN (_i - 1) div (_n div 4 + 1) + 1
                     ELSE (_n % 4) + (_i - (_n % 4) * (_n div 4 + 1) - 1)
                          div greatest(_n div 4, 1L) + 1 END"""))
    q.filter(col("rel_week") === 0L)
      .select(col("user_id"), col("quartile").as("q_from"))
      .join(
        q.filter(col("rel_week") === 3L)
          .select(col("user_id"), col("quartile").as("q_to")),
        "user_id")
      .groupBy(col("q_from"), col("q_to"))
      .agg(count(lit(1)).as("n_users"))
  }

  /** Inter-arrival gap statistics per event type: consecutive gaps come
    * from a per-user `lag` (partitioned window — each user's timeline
    * sorts independently), and the distribution report is one exact
    * interpolated-percentile aggregate per type. Gap math is integer
    * seconds end to end.
    */
  def interArrival(events: DataFrame): DataFrame = {
    val w = Window
      .partitionBy(col("user_id"), col("event_type"))
      .orderBy(col("ts_sec").asc, col("event_id").asc)
    events
      .select(
        col("user_id"), col("event_type"), col("event_id"),
        expr(Stages.epochBucketSql("ts", 1)).as("ts_sec"))
      .withColumn("gap", col("ts_sec") - lag(col("ts_sec"), 1).over(w))
      .filter(col("gap").isNotNull)
      .groupBy(col("event_type"))
      .agg(
        count(lit(1)).as("n_gaps"),
        min(col("gap")).as("min_gap"),
        expr("percentile(gap, 0.5)").as("p50_gap"),
        expr("percentile(gap, 0.9)").as("p90_gap"),
        max(col("gap")).as("max_gap"))
  }

  /** Cohort LTV curve: cumulative spend per signup-week cohort across
    * week offsets, absolute and per cohort user. Money accumulates in
    * integer cents; the cumulative window partitions by cohort and runs
    * over the |offsets|-sized per-cohort series, never the corpus. The
    * cohort-size join is broadcast (|cohorts| rows).
    */
  def ltvCurve(events: DataFrame): DataFrame = {
    val base = events.select(
      col("user_id"),
      expr(Stages.epochBucketSql("ts", 86400)).as("day"),
      expr(Stages.centsSql("value")).as("cents"))
    val firsts = base.groupBy(col("user_id")).agg(min(col("day")).as("day0"))
    val cohortSizes = firsts
      .groupBy(expr("day0 div 7").as("cohort_week"))
      .agg(count(lit(1)).as("n_users"))
    val spend = base
      .join(firsts, "user_id")
      .groupBy(
        expr("day0 div 7").as("cohort_week"),
        expr("(day - day0) div 7").as("week_offset"))
      .agg(sum(col("cents")).as("week_cents"))
    spend
      .withColumn(
        "cum_cents",
        sum(col("week_cents")).over(
          Window.partitionBy(col("cohort_week"))
            .orderBy(col("week_offset"))
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .join(broadcast(cohortSizes), "cohort_week")
      .select(
        col("cohort_week"), col("week_offset"), col("n_users"),
        col("week_cents"), col("cum_cents"),
        expr("CAST(cum_cents AS DOUBLE) / CAST(n_users AS DOUBLE)").as("ltv_cents"))
  }

  /** EWMA forecast-residual anomalies: the prediction for hour t is the
    * halving-kernel average of hours t−1…t−5 ONLY (the [[ewmaSeries]]
    * kernel shifted off the current point, so the observation never
    * explains itself), and hours at ≥ 2× or ≤ ½× their forecast flag.
    * Fixed-order IEEE arithmetic over the pre-aggregated hourly series.
    */
  def ewmaAnomaly(events: DataFrame): DataFrame = {
    val hourly = events
      .groupBy(expr(Stages.epochBucketSql("ts", 3600)).as("hour"))
      .agg(count(lit(1)).as("cnt"))
    val w = Window.orderBy(col("hour"))
    val withLags = (1 to 5).foldLeft(hourly) { (df, i) =>
      df.withColumn(s"l$i", lag(col("cnt"), i).over(w))
    }
    withLags
      .withColumn(
        "pred",
        expr("""CASE WHEN l1 IS NULL THEN NULL ELSE
                (CAST(l1 AS DOUBLE)
                + CASE WHEN l2 IS NULL THEN 0.0 ELSE 0.5 * CAST(l2 AS DOUBLE) END
                + CASE WHEN l3 IS NULL THEN 0.0 ELSE 0.25 * CAST(l3 AS DOUBLE) END
                + CASE WHEN l4 IS NULL THEN 0.0 ELSE 0.125 * CAST(l4 AS DOUBLE) END
                + CASE WHEN l5 IS NULL THEN 0.0 ELSE 0.0625 * CAST(l5 AS DOUBLE) END)
                / (1.0
                + CASE WHEN l2 IS NULL THEN 0.0 ELSE 0.5 END
                + CASE WHEN l3 IS NULL THEN 0.0 ELSE 0.25 END
                + CASE WHEN l4 IS NULL THEN 0.0 ELSE 0.125 END
                + CASE WHEN l5 IS NULL THEN 0.0 ELSE 0.0625 END) END"""))
      .withColumn("ratio", expr("CAST(cnt AS DOUBLE) / pred"))
      .withColumn(
        "flag",
        expr("""CASE WHEN ratio IS NULL THEN 0
                     WHEN ratio >= 2.0 OR ratio <= 0.5 THEN 1
                     ELSE 0 END""").cast("long"))
      .select(col("hour"), col("cnt"), col("pred"), col("ratio"), col("flag"))
  }

  /** DAU / trailing-WAU stickiness: the activity table collapses to
    * distinct (user, day) FIRST, then each day range-joins its trailing
    * week of activity (a 7× fan-out of the already-deduplicated
    * activity, not the corpus) for the distinct-user WAU count.
    */
  def stickiness(events: DataFrame): DataFrame = {
    val activity = events
      .select(col("user_id"), expr(Stages.epochBucketSql("ts", 86400)).as("day"))
      .distinct()
    val dau = activity.groupBy(col("day")).agg(count(lit(1)).as("dau"))
    val wau = dau.select(col("day"))
      .join(
        activity.select(col("user_id"), col("day").as("a_day")),
        col("a_day") >= col("day") - 6 && col("a_day") <= col("day"))
      .groupBy(col("day"))
      .agg(countDistinct(col("user_id")).as("wau"))
    dau
      .join(wau, "day")
      .withColumn("stickiness", expr("CAST(dau AS DOUBLE) / CAST(wau AS DOUBLE)"))
  }

  /** Distribution-drift bins (χ² homogeneity in place of PSI, whose ln
    * is not engine-portable): the month splits at its midpoint
    * (data-derived, broadcast), event values bucket into fixed $50
    * bins, and each bin reports both periods' counts plus its χ²
    * contribution from exact integer margins in fixed-order doubles.
    * Cross-bin summation is the CONSUMER's choice — no cross-row double
    * sum lives in the query.
    */
  def driftBins(events: DataFrame): DataFrame = {
    val base = events.select(
      expr(Stages.epochBucketSql("ts", 86400)).as("day"),
      expr(s"least(${Stages.centsSql("value")} div 5000, 9)").as("bin"))
    val split = base.agg(expr("min(day) + 15").as("split_day"))
    val counts = base
      .crossJoin(broadcast(split))
      .groupBy(col("bin"))
      .agg(
        sum(when(col("day") < col("split_day"), 1L).otherwise(0L)).as("n_a"),
        sum(when(col("day") >= col("split_day"), 1L).otherwise(0L)).as("n_b"))
    val totals = counts.agg(
      sum(col("n_a")).as("ta"), sum(col("n_b")).as("tb"))
    counts
      .crossJoin(broadcast(totals))
      .select(
        col("bin"), col("n_a"), col("n_b"),
        expr("""CAST(n_a + n_b AS DOUBLE) * CAST(ta AS DOUBLE) / nullif(CAST(ta + tb AS DOUBLE), 0.0E0)""")
          .as("e_a"),
        expr("""(CAST(n_a AS DOUBLE) - CAST(n_a + n_b AS DOUBLE) * CAST(ta AS DOUBLE) / nullif(CAST(ta + tb AS DOUBLE), 0.0E0))
                * (CAST(n_a AS DOUBLE) - CAST(n_a + n_b AS DOUBLE) * CAST(ta AS DOUBLE) / nullif(CAST(ta + tb AS DOUBLE), 0.0E0))
                / nullif(CAST(n_a + n_b AS DOUBLE) * CAST(ta AS DOUBLE) / nullif(CAST(ta + tb AS DOUBLE), 0.0E0), 0.0E0)
                + (CAST(n_b AS DOUBLE) - CAST(n_a + n_b AS DOUBLE) * CAST(tb AS DOUBLE) / nullif(CAST(ta + tb AS DOUBLE), 0.0E0))
                * (CAST(n_b AS DOUBLE) - CAST(n_a + n_b AS DOUBLE) * CAST(tb AS DOUBLE) / nullif(CAST(ta + tb AS DOUBLE), 0.0E0))
                / nullif(CAST(n_a + n_b AS DOUBLE) * CAST(tb AS DOUBLE) / nullif(CAST(ta + tb AS DOUBLE), 0.0E0), 0.0E0)""")
          .as("contrib"))
  }

  /** Linear multi-touch attribution in EXACT integer milli-cents: each
    * purchase's value splits by floor division across the user's touches
    * in the preceding 7 days (deterministic remainder loss, stated —
    * the price of an order-independent integer sum). The touch join is
    * per-user and time-bounded, so the fan-out is each user's 7-day
    * neighborhood, never the corpus square; k comes from a window over
    * the purchase's own touch group.
    */
  def linearAttribution(events: DataFrame): DataFrame = {
    val base = events.select(
      col("user_id"), col("event_id"), col("event_type"),
      expr(Stages.epochBucketSql("ts", 1)).as("ts_sec"),
      expr(Stages.centsSql("value")).as("cents"))
    val purchases = base
      .filter(col("event_type") === "purchase")
      .select(
        col("user_id"), col("event_id").as("purchase_id"),
        col("ts_sec").as("p_ts"), col("cents").as("p_cents"))
    val touches = base.select(
      col("user_id"), col("event_id").as("touch_id"),
      col("event_type").as("touch_type"), col("ts_sec").as("t_ts"))
    purchases
      .join(
        touches,
        Seq("user_id"))
      .filter(
        col("t_ts") >= col("p_ts") - 604800L && col("t_ts") < col("p_ts"))
      .withColumn(
        "k",
        count(lit(1)).over(Window.partitionBy(col("purchase_id"))))
      .groupBy(col("touch_type"))
      .agg(
        count(lit(1)).as("n_touches"),
        sum(expr("p_cents * 1000 div k")).as("attributed_milli"))
  }

  /** Interval-union coverage per user: each event projects a ±15 min
    * activity interval; overlaps merge via the gaps-and-islands pattern
    * (island starts where the interval begins after the running max of
    * prior ends — one per-user window), and the report sums covered
    * seconds and island counts. All integer seconds; per-user windows
    * shuffle once on user_id.
    */
  def intervalUnion(events: DataFrame, halfWidthSec: Long = 900L): DataFrame = {
    val w = Window
      .partitionBy(col("user_id"))
      .orderBy(col("start_sec").asc, col("end_sec").asc, col("event_id").asc)
    val prevMaxEnd = max(col("end_sec"))
      .over(w.rowsBetween(Window.unboundedPreceding, -1))
    val islands = events
      .select(
        col("user_id"), col("event_id"),
        (expr(Stages.epochBucketSql("ts", 1)) - halfWidthSec).as("start_sec"),
        (expr(Stages.epochBucketSql("ts", 1)) + halfWidthSec).as("end_sec"))
      .withColumn(
        "new_island",
        when(prevMaxEnd.isNull || col("start_sec") > prevMaxEnd, 1L).otherwise(0L))
      .withColumn(
        "island",
        sum(col("new_island")).over(w.rowsBetween(Window.unboundedPreceding, 0)))
    islands
      .groupBy(col("user_id"), col("island"))
      .agg(min(col("start_sec")).as("s"), max(col("end_sec")).as("e"))
      .groupBy(col("user_id"))
      .agg(
        count(lit(1)).as("n_islands"),
        sum(col("e") - col("s")).as("covered_sec"),
        max(col("e") - col("s")).as("longest_sec"))
  }

  /** Peak concurrency per day by sweep line: every ±15 min activity
    * interval contributes a +1/−1 point, and the running sum inside
    * each DAY partition (intervals are clipped to their start day —
    * stated; at corpus scale a finer partition key bounds the sweep the
    * same way) peaks at the day's max concurrent sessions. Ordering is
    * total: (time, delta, event_id) with −1 before +1 at a tie, so
    * back-to-back intervals don't double-count.
    */
  def peakConcurrency(events: DataFrame, halfWidthSec: Long = 900L): DataFrame = {
    val pts = events
      .select(col("event_id"), expr(Stages.epochBucketSql("ts", 1)).as("ts_sec"))
      .select(
        col("event_id"),
        expr("ts_sec div 86400").as("day"),
        explode(array(
          struct((col("ts_sec") - halfWidthSec).as("t"), lit(1L).as("delta")),
          struct((col("ts_sec") + halfWidthSec).as("t"), lit(-1L).as("delta"))))
          .as("p"))
      .select(col("day"), col("p.t").as("t"), col("p.delta").as("delta"), col("event_id"))
    val w = Window
      .partitionBy(col("day"))
      .orderBy(col("t").asc, col("delta").asc, col("event_id").asc)
      .rowsBetween(Window.unboundedPreceding, 0)
    pts
      .withColumn("running", sum(col("delta")).over(w))
      .groupBy(col("day"))
      .agg(max(col("running")).as("peak_concurrency"), count(lit(1)).as("n_points"))
  }

  /** Local maxima of the hourly series: hours strictly above both
    * neighbors on each side (lag/lead over the pre-aggregated series).
    * Series edges cannot be peaks — missing neighbors compare as
    * failures, stated in-plan via coalesce to MAX_LONG sentinels being
    * avoided: NULL neighbor ⇒ not a peak.
    */
  def localPeaks(events: DataFrame): DataFrame = {
    val hourly = events
      .groupBy(expr(Stages.epochBucketSql("ts", 3600)).as("hour"))
      .agg(count(lit(1)).as("cnt"))
    val w = Window.orderBy(col("hour"))
    hourly
      .withColumn("p1", lag(col("cnt"), 1).over(w))
      .withColumn("p2", lag(col("cnt"), 2).over(w))
      .withColumn("n1", lead(col("cnt"), 1).over(w))
      .withColumn("n2", lead(col("cnt"), 2).over(w))
      .filter(
        col("p1").isNotNull && col("p2").isNotNull &&
          col("n1").isNotNull && col("n2").isNotNull &&
          col("cnt") > col("p1") && col("cnt") > col("p2") &&
          col("cnt") > col("n1") && col("cnt") > col("n2"))
      .select(col("hour"), col("cnt"), col("p1"), col("n1"))
  }

  /** Winsorized mean per event type with INTEGER fences: the p05/p95
    * interpolated percentiles round to whole cents (stated — the exact
    * double fences would force an order-dependent cross-row double sum),
    * values clamp to the integer fences, and the clamped accumulation is
    * a BIGINT sum with one closing division. Fences broadcast back onto
    * the corpus (|types| rows).
    */
  def winsorizedMean(events: DataFrame): DataFrame = {
    val base = events.select(
      col("event_type"), expr(Stages.centsSql("value")).as("cents"))
    val fences = base
      .groupBy(col("event_type"))
      .agg(
        expr("CAST(round(percentile(cents, 0.05)) AS BIGINT)").as("lo"),
        expr("CAST(round(percentile(cents, 0.95)) AS BIGINT)").as("hi"))
    base
      .join(broadcast(fences), Seq("event_type"))
      .withColumn("clamped", expr("greatest(lo, least(hi, cents))"))
      .groupBy(col("event_type"))
      .agg(
        count(lit(1)).as("n"),
        max(col("lo")).as("lo_cents"),
        max(col("hi")).as("hi_cents"),
        sum(col("clamped")).as("winsor_cents"),
        sum(col("cents")).as("raw_cents"))
      .withColumn(
        "winsor_mean",
        expr("CAST(winsor_cents AS DOUBLE) / CAST(n AS DOUBLE)"))
  }

  /** Growth accounting — the MAU rollforward every growth team reads:
    * each week's actives classify as new (first week ever), retained
    * (also active the week before) or resurrected (returning after a
    * gap), plus the week's churn (active last week, absent now). One
    * distinct activity projection, an arithmetic week+1 self-join, and
    * a broadcast-sized firsts join — no window anywhere.
    */
  def growthAccounting(events: DataFrame): DataFrame = {
    val activity = events
      .select(col("user_id"), expr(Stages.epochBucketSql("ts", 604800)).as("week"))
      .distinct()
    val firsts = activity.groupBy(col("user_id")).agg(min(col("week")).as("first_week"))
    val prev = activity.select(col("user_id"), (col("week") + 1).as("week"))
      .withColumn("was_prev", lit(1L))
    val classified = activity
      .withColumn("is_curr", lit(1L))
      .join(prev, Seq("user_id", "week"), "full_outer")
      .join(firsts, "user_id")
      .groupBy(col("week"))
      .agg(
        sum(when(col("is_curr").isNotNull && col("first_week") === col("week"), 1L)
          .otherwise(0L)).as("n_new"),
        sum(when(col("is_curr").isNotNull && col("was_prev").isNotNull, 1L)
          .otherwise(0L)).as("n_retained"),
        sum(when(col("is_curr").isNotNull && col("was_prev").isNull &&
          col("first_week") < col("week"), 1L).otherwise(0L)).as("n_resurrected"),
        sum(when(col("is_curr").isNull && col("was_prev").isNotNull, 1L)
          .otherwise(0L)).as("n_churned"))
    // clip to the observation window: the week+1 shift manufactures a
    // phantom week max_week+1 holding ONLY the final week's actives as
    // "churn" — a week that was never observed and reads as a spurious
    // total-churn cliff at the end of every rollforward
    val maxWeek = activity.agg(max(col("week")).as("max_week"))
    classified
      .crossJoin(broadcast(maxWeek))
      .filter(col("week") <= col("max_week"))
      .drop("max_week")
  }

  /** CUPED readout for the [[abTest]] metric: per-user pre-period (weeks
    * 0–1) and post-period (weeks 3–4) spend in integer cents, folded to
    * sufficient statistics, then θ = cov/var(pre) and the variance-
    * reduction ratio corr² through [[Stages.cupedSql]]'s shared closed
    * form. One row out; everything after the per-user aggregate is
    * 1-row arithmetic.
    */
  def cupedReport(events: DataFrame): DataFrame = {
    val base = events.select(
      col("user_id"),
      expr(Stages.epochBucketSql("ts", 604800)).as("week"),
      expr(Stages.centsSql("value")).as("cents"))
    val anchor = base.agg(min(col("week")).as("w0"))
    val perUser = base
      .crossJoin(broadcast(anchor))
      .withColumn("rel", col("week") - col("w0"))
      .groupBy(col("user_id"))
      .agg(
        sum(when(col("rel") <= 1L, col("cents")).otherwise(0L)).as("pre"),
        sum(when(col("rel") >= 3L && col("rel") <= 4L, col("cents")).otherwise(0L))
          .as("post"))
    val sums = Stages.bivariateSums(col("pre"), col("post"))
    perUser
      .agg(sums.head, sums.tail: _*)
      .select(
        Seq(col("n").as("n_users")) ++
          (Stages.momentStatsSql.filter(_._1 == "corr_xy") ++ Stages.cupedSql)
            .map { case (name, sql) => expr(sql).as(name) }: _*)
  }

  /** Point-in-time lag features per event — the leakage-safe feature
    * snapshot an online model trains on: previous two values and the
    * trailing-3 mean of the user's own history STRICTLY BEFORE the
    * event. One per-user window pass; cents stay integer until the one
    * mean division.
    */
  def lagFeatures(events: DataFrame): DataFrame = {
    val w = Window
      .partitionBy(col("user_id"))
      .orderBy(col("ts_sec").asc, col("event_id").asc)
    val trailing3 = w.rowsBetween(-3, -1)
    events
      .select(
        col("user_id"), col("event_id"),
        expr(Stages.epochBucketSql("ts", 1)).as("ts_sec"),
        expr(Stages.centsSql("value")).as("cents"))
      .withColumn("v_lag1", lag(col("cents"), 1).over(w))
      .withColumn("v_lag2", lag(col("cents"), 2).over(w))
      .withColumn("n_prev3", count(lit(1)).over(trailing3))
      .withColumn("sum_prev3", sum(col("cents")).over(trailing3))
      .select(
        col("event_id"), col("user_id"), col("cents"),
        col("v_lag1"), col("v_lag2"),
        expr("""CASE WHEN n_prev3 = 0 THEN NULL
                ELSE CAST(sum_prev3 AS DOUBLE) / CAST(n_prev3 AS DOUBLE) END""")
          .as("v_ma3"))
  }

  /** Error-rate ratio monitor: each hour's error share against the
    * share over its trailing 24 OBSERVED hourly bars (a ROWS frame —
    * zero-event hours produce no bar, so on gappy series the frame
    * reaches further back in clock time; densify the hour grid first
    * for calendar semantics), as one fixed-order expression over four
    * integer window sums (`e·N / (n·E)` spelled in doubles) —
    * rate-of-rates without any intermediate rounding. Windows run over
    * the pre-aggregated hourly table.
    */
  def errorRateMonitor(events: DataFrame): DataFrame = {
    val hourly = events
      .groupBy(expr(Stages.epochBucketSql("ts", 3600)).as("hour"))
      .agg(
        count(lit(1)).as("n"),
        sum(when(col("event_type") === "error", 1L).otherwise(0L)).as("n_err"))
    val w = Window.orderBy(col("hour")).rowsBetween(-23, 0)
    hourly
      .withColumn("win_n", sum(col("n")).over(w))
      .withColumn("win_err", sum(col("n_err")).over(w))
      .select(
        col("hour"), col("n"), col("n_err"),
        expr("CAST(n_err AS DOUBLE) / CAST(n AS DOUBLE)").as("rate"),
        expr("""CASE WHEN win_err = 0 THEN NULL
                ELSE CAST(n_err AS DOUBLE) * CAST(win_n AS DOUBLE)
                     / (CAST(n AS DOUBLE) * CAST(win_err AS DOUBLE)) END""")
          .as("rate_ratio"))
  }

  /** Week-over-week trending parts: rank movement between the first and
    * fourth weeks' top-20 revenue lists. Each week's ranking window
    * partitions by week and keeps rank ≤ 20, which Catalyst's
    * WindowGroupLimit prunes to 20 rows per partition BEFORE the
    * shuffle completes — the full |parts| table never sorts through one
    * partition. The movers join is top-20 × top-20 (tiny).
    */
  def trendingParts(lineitem: DataFrame, k: Int = 20): DataFrame = {
    val weekly = lineitem
      .select(
        expr(Stages.epochBucketSql("l_shipdate", 604800)).as("week"),
        col("l_partkey"),
        expr(Stages.centsSql("l_extendedprice")).as("cents"))
      .groupBy(col("week"), col("l_partkey"))
      .agg(sum(col("cents")).as("week_cents"))
    val anchor = weekly.agg(min(col("week")).as("w0"))
    val anchored = weekly
      .crossJoin(broadcast(anchor))
      .withColumn("rel", col("week") - col("w0"))
      .filter(col("rel") === 0L || col("rel") === 3L)
    val ranked = Relational.topKPerGroup(
      anchored, k, Seq(col("rel")), col("week_cents").desc, col("l_partkey").asc)
    ranked.filter(col("rel") === 0L)
      .select(col("l_partkey"), col("rank").as("rank_a"),
        col("week_cents").as("cents_a"))
      .join(
        ranked.filter(col("rel") === 3L)
          .select(col("l_partkey"), col("rank").as("rank_b"),
            col("week_cents").as("cents_b")),
        Seq("l_partkey"), "full_outer")
      .select(
        col("l_partkey"), col("rank_a"), col("cents_a"),
        col("rank_b"), col("cents_b"),
        (col("rank_a") - col("rank_b")).as("jump"))
  }

  /** Partition-freshness report — the staleness check a scheduler reads
    * before depending on a table: per event type, the newest event time
    * and its lag behind the corpus watermark. One map-combined
    * aggregate; the global max rides in as a broadcast scalar.
    */
  def freshness(events: DataFrame): DataFrame = {
    val perType = events
      .groupBy(col("event_type"))
      .agg(
        count(lit(1)).as("n_events"),
        max(expr(Stages.epochBucketSql("ts", 1))).as("max_ts"))
    perType
      .crossJoin(broadcast(perType.agg(max(col("max_ts")).as("global_max"))))
      .select(
        col("event_type"), col("n_events"), col("max_ts"),
        (col("global_max") - col("max_ts")).as("lag_sec"))
  }

  /** Revenue bridge (waterfall decomposition) between the first and
    * fourth observed weeks: Δrevenue per type splits into the volume
    * effect (Δcount at the old average value, one fixed-order double)
    * and the residual mix effect. Both periods fold into ONE conditional
    * aggregate per type — no pivot, no self-join; the week anchor is a
    * broadcast 1-row min.
    */
  def revenueBridge(events: DataFrame): DataFrame = {
    val base = events.select(
      col("event_type"),
      expr(Stages.epochBucketSql("ts", 604800)).as("week"),
      expr(Stages.centsSql("value")).as("cents"))
    val anchor = base.agg(min(col("week")).as("w0"))
    base
      .crossJoin(broadcast(anchor))
      .withColumn("rel", col("week") - col("w0"))
      .filter(col("rel") === 0L || col("rel") === 3L)
      .groupBy(col("event_type"))
      .agg(
        sum(when(col("rel") === 0L, 1L).otherwise(0L)).as("n_a"),
        sum(when(col("rel") === 0L, col("cents")).otherwise(0L)).as("s_a"),
        sum(when(col("rel") === 3L, 1L).otherwise(0L)).as("n_b"),
        sum(when(col("rel") === 3L, col("cents")).otherwise(0L)).as("s_b"))
      .select(
        col("event_type"), col("n_a"), col("s_a"), col("n_b"), col("s_b"),
        (col("s_b") - col("s_a")).as("delta_cents"),
        expr("""CASE WHEN n_a = 0 THEN NULL
                ELSE CAST(n_b - n_a AS DOUBLE) * (CAST(s_a AS DOUBLE) / CAST(n_a AS DOUBLE))
                END""").as("volume_effect"),
        expr("""CASE WHEN n_a = 0 THEN NULL
                ELSE CAST(s_b - s_a AS DOUBLE)
                     - CAST(n_b - n_a AS DOUBLE) * (CAST(s_a AS DOUBLE) / CAST(n_a AS DOUBLE))
                END""").as("mix_effect"))
  }

  /** Dwell time per behavioral state: each event's duration is the gap
    * to the user's next event (per-user `lead` — one shuffle on
    * user_id), summed per state. Open-ended final events carry no dwell
    * and are excluded, stated. Integer seconds; the mean divides once.
    */
  def timeInState(events: DataFrame): DataFrame = {
    val w = Window
      .partitionBy(col("user_id"))
      .orderBy(col("ts_sec").asc, col("event_id").asc)
    events
      .select(
        col("user_id"), col("event_id"), col("event_type"),
        expr(Stages.epochBucketSql("ts", 1)).as("ts_sec"))
      .withColumn("dwell", lead(col("ts_sec"), 1).over(w) - col("ts_sec"))
      .filter(col("dwell").isNotNull)
      .groupBy(col("event_type"))
      .agg(
        count(lit(1)).as("n_stays"),
        sum(col("dwell")).as("total_sec"),
        max(col("dwell")).as("max_sec"))
      .withColumn(
        "avg_sec",
        expr("CAST(total_sec AS DOUBLE) / CAST(n_stays AS DOUBLE)"))
  }

  /** Trailing 7- and 28-day revenue sums — the dashboard staple: daily
    * integer-cents totals with event-time RANGE frames over the |days|
    * series (gaps in the calendar shorten the frame correctly, which a
    * ROWS frame would get wrong). Corpus → |days| rows before any
    * window.
    */
  def rollingSums(events: DataFrame): DataFrame = {
    val daily = events
      .groupBy(expr(Stages.epochBucketSql("ts", 86400)).as("day"))
      .agg(sum(expr(Stages.centsSql("value"))).as("cents"))
    def trail(days: Int) = Window
      .orderBy(col("day"))
      .rangeBetween(-(days - 1).toLong, 0L)
    daily
      .withColumn("r7_cents", sum(col("cents")).over(trail(7)))
      .withColumn("r28_cents", sum(col("cents")).over(trail(28)))
  }

  /** Pseudo-score used by the model-evaluation reports: a Knuth
    * multiplicative hash of the event id onto 0..999. The id is reduced
    * mod a prime FIRST so the product stays far below 2⁶³ at any corpus
    * scale; identical text runs in both engines.
    */
  val pseudoScoreSql: String = "(event_id % 1000003) * 2654435761 % 1000"

  /** Calibration curve of the pseudo-score against the actual purchase
    * label: ten equal-width score bins, per-bin positives and exact
    * integer score sums (one division each at the end). The shape every
    * model-quality pipeline needs — corpus → 10 rows in one map-combined
    * aggregate.
    */
  def calibrationCurve(events: DataFrame): DataFrame =
    events
      .select(
        expr(pseudoScoreSql).as("score_milli"),
        when(col("event_type") === "purchase", 1L).otherwise(0L).as("pos"))
      .groupBy(expr("score_milli div 100").as("bin"))
      .agg(
        count(lit(1)).as("n"),
        sum(col("pos")).as("n_pos"),
        sum(col("score_milli")).as("score_sum"))
      .select(
        col("bin"), col("n"), col("n_pos"),
        expr("CAST(n_pos AS DOUBLE) / CAST(n AS DOUBLE)").as("pos_rate"),
        expr("CAST(score_sum AS DOUBLE) / (CAST(n AS DOUBLE) * 1000.0)").as("avg_score"))

  /** Exact ROC AUC by binned rank-sum: scores quantize to 1000 discrete
    * values, so the Mann-Whitney U with tie correction is pure integer
    * arithmetic over the 1000-row bin table — `u2 = Σ pos·(2·neg_below +
    * neg_bin)` is twice U, and AUC = u2 / (2·P·N) in ONE final division.
    * No corpus-wide sort or global rank: one aggregate to the bins, one
    * window over the bins. This is the 100 TB-safe AUC — the textbook
    * per-row rank formulation needs a global sort and average tie ranks.
    */
  def aucRankSum(events: DataFrame): DataFrame = {
    val bins = events
      .select(
        expr(pseudoScoreSql).as("s"),
        when(col("event_type") === "purchase", 1L).otherwise(0L).as("pos"))
      .groupBy(col("s"))
      .agg(sum(col("pos")).as("pos_n"), sum(lit(1L) - col("pos")).as("neg_n"))
    val w = Window.orderBy(col("s")).rowsBetween(Window.unboundedPreceding, -1)
    bins
      .withColumn("neg_below", coalesce(sum(col("neg_n")).over(w), lit(0L)))
      .agg(
        sum(col("pos_n")).as("n_pos"),
        sum(col("neg_n")).as("n_neg"),
        sum(col("pos_n") * (lit(2L) * col("neg_below") + col("neg_n"))).as("u2"))
      .select(
        col("n_pos"), col("n_neg"), col("u2"),
        // nullif: a single-class input has no ROC to integrate (r10
        // degenerate probe; oracle carries the same guard)
        expr("CAST(u2 AS DOUBLE) / nullif(2.0 * CAST(n_pos AS DOUBLE) * CAST(n_neg AS DOUBLE), 0.0E0)")
          .as("auc"))
  }

  /** Two-variant A/B read-out: users split by a deterministic hash of
    * their id (here parity), conversion = reached the target event, and
    * the two-proportion pooled z-statistic computed from the four
    * integer counts via [[Stages.abTestZSql]] (identical expression
    * text on both engines — sqrt/division are correctly rounded IEEE
    * ops, so z is bit-exact). One distinct-aggregate over the corpus;
    * the z arithmetic runs on a 1×4 row.
    */
  def abTest(events: DataFrame, convertType: String = "purchase"): DataFrame = {
    val per = events
      .groupBy(expr("user_id % 2").as("variant"))
      .agg(
        countDistinct(col("user_id")).as("n_users"),
        countDistinct(when(col("event_type") === convertType, col("user_id")))
          .as("n_converted"))
    val a = per.filter(col("variant") === 0)
      .select(col("n_users").as("n1"), col("n_converted").as("c1"))
    val b = per.filter(col("variant") === 1)
      .select(col("n_users").as("n2"), col("n_converted").as("c2"))
    a.crossJoin(b)
      .selectExpr(
        "n1", "c1", "n2", "c2",
        "CAST(c1 AS DOUBLE) / CAST(n1 AS DOUBLE) AS rate_a",
        "CAST(c2 AS DOUBLE) / CAST(n2 AS DOUBLE) AS rate_b",
        s"${Stages.abTestZSql} AS z")
  }

  /** Changelog compaction with tombstones — the CDC MERGE/apply pass:
    * the latest event per key wins ([[Relational.latestByKey]]'s
    * map-combined `max_by` shape), and keys whose final state is a
    * tombstone type disappear from the snapshot. One aggregation, one
    * row per surviving key.
    */
  def cdcMerge(events: DataFrame, tombstoneType: String = "error"): DataFrame =
    events
      .groupBy(col("user_id"))
      .agg(
        max_by(
          struct(col("event_id"), col("ts"), col("event_type"), col("value")),
          struct(col("ts"), col("event_id"))).as("last"))
      .filter(col("last.event_type") =!= tombstoneType)
      .select(
        col("user_id"),
        col("last.event_id").as("event_id"),
        col("last.ts").as("ts"),
        col("last.event_type").as("event_type"),
        col("last.value").as("value"))

  /** Sliding-window EXACT distinct users (trailing `windowHours`-hour
    * windows at hour grain): the corpus first collapses to distinct
    * (hour, user) pairs — the only full-scale shuffle — then each pair
    * replicates into the `windowHours` windows it belongs to (explode
    * of the constructing sequence, inline for codegen) and a second
    * distinct+count runs over the bounded (windows × users) set. Exact
    * sliding distinct without re-scanning the corpus per window; the
    * approximate-at-scale variant swaps stage 2 for per-window HLL
    * merges ([[Relational.approxDistinctCheck]] pins that sketch).
    */
  def slidingDistinctUsers(events: DataFrame, windowHours: Int = 3): DataFrame = {
    // cacheT, per quantileTransform's documented rule: pairs feeds BOTH
    // the max-hour aggregate and the window replication — uncached, the
    // corpus-scale distinct would materialize twice per run
    val pairs = events
      .select(expr(Stages.epochBucketSql("ts", 3600)).as("hour_epoch"), col("user_id"))
      .distinct()
      .cacheT()
    // clip to the OBSERVED hour range: the window-replication explode
    // manufactures win_end_hours max_hour+1 .. max_hour+windowHours−1
    // past the data's end — never-observed windows whose decaying counts
    // read as a spurious activity cliff closing every report (the
    // growthAccounting phantom-week defect class). Broadcast 1-row max.
    val maxHour = pairs.agg(max(col("hour_epoch")).as("max_hour"))
    pairs
      .selectExpr(
        s"explode(sequence(hour_epoch, hour_epoch + ${windowHours - 1})) AS win_end_hour",
        "user_id")
      .distinct()
      .crossJoin(broadcast(maxHour))
      .filter(col("win_end_hour") <= col("max_hour"))
      .groupBy(col("win_end_hour"))
      .agg(count(lit(1)).as("n_users"))
  }

  /** Pairwise co-occurrence support — the frequent-itemset (k=2) pass of
    * basket mining: which event types appear together for the same user.
    * Per-user type SETS first (distinct bounds the blow-up at the
    * vocabulary, not the user's event count), then an ordered self-join
    * per user emits |types|²-bounded pairs, counted and top-k'd. At
    * 100 TB the only corpus-scale shuffles are the distinct and the
    * pair count; the join happens inside the per-user set.
    */
  def pairSupport(events: DataFrame, k: Int): DataFrame = {
    val ut = events.select(col("user_id"), col("event_type")).distinct()
    val pairs = ut
      .as("a")
      .join(
        ut.as("b"),
        col("a.user_id") === col("b.user_id") && col("a.event_type") < col("b.event_type"))
      .groupBy(col("a.event_type").as("type_a"), col("b.event_type").as("type_b"))
      .agg(count(lit(1)).as("support"))
    Relational.rankedTopK(
      pairs, k, col("support").desc, col("type_a").asc, col("type_b").asc)
  }

  /** The weighted transition edge list (src, dst, w) — the one
    * corpus-scale aggregation both PageRank paths share.
    */
  private def transitionEdges(events: DataFrame): DataFrame =
    events
      .select(col("event_type").as("dst"), lag(col("event_type"), 1).over(userOrder).as("src"))
      .filter(col("src").isNotNull)
      .groupBy(col("src"), col("dst"))
      .agg(count(lit(1)).as("w"))

  /** Distributed PageRank fallback for vocabularies whose edge list
    * exceeds the driver budget: ranks stay |V|-sized, each iteration is
    * one join against the edge list plus one dst-aggregate. Identical
    * integer arithmetic to the driver path.
    */
  def pageRankDistributed(events: DataFrame, iters: Int, scale: Long): DataFrame = {
    val edges = transitionEdges(events)
    val out = edges.groupBy(col("src")).agg(sum(col("w")).as("outw"))
    val e = edges.join(out, "src")
    val nodes = edges.select(col("src").as("node")).union(edges.select(col("dst"))).distinct()
    val nDf = nodes.agg(count(lit(1)).as("n_nodes"))
    var ranks = nodes.crossJoin(nDf).select(col("node"), expr(s"${scale}L div n_nodes").as("r"))
    for (_ <- 1 to iters) {
      val contrib = ranks
        .join(e, ranks("node") === e("src"))
        // DECIMAL(38,0) product (exact to 38 digits): the BIGINT r*w
        // wraps once an edge weight exceeds ~9.2e9; div narrows the
        // quotient (≤ r) back to BIGINT — same widening as the driver
        // path's BigInt and the oracle's HUGEINT
        .select(col("dst"), expr("CAST((CAST(r AS DECIMAL(38,0)) * w) div outw AS BIGINT)").as("c"))
        .groupBy(col("dst"))
        .agg(sum(col("c")).as("contrib"))
      ranks = nodes
        .crossJoin(nDf)
        .join(contrib, nodes("node") === contrib("dst"), "left")
        .select(
          col("node"),
          expr(s"((${scale}L * 15) div 100) div n_nodes + (85 * coalesce(contrib, 0L)) div 100")
            .as("r"))
    }
    ranks.select(
      row_number()
        .over(Window.partitionBy(lit(1)).orderBy(col("r").desc, col("node").asc))
        .cast("long")
        .as("rank"),
      col("node"),
      col("r"))
  }

  /** Longest consecutive-day activity streak per user — the classic
    * gaps-and-islands shape: distinct (user, epoch-day), then
    * `day − row_number` is constant exactly within a run of consecutive
    * days, so grouping on it isolates each island. All time math is
    * integer epoch-day arithmetic; the only shuffles are the distinct
    * and the per-user window/aggregate chain, every one keyed on
    * user_id — per-user day counts are calendar-bounded (≤ a few
    * thousand), so no key's state grows with corpus size.
    */
  def activityStreaks(events: DataFrame): DataFrame = {
    val days = events
      .select(col("user_id"), expr(Stages.epochBucketSql("ts", 86400)).as("day"))
      .distinct()
    val rn = row_number().over(Window.partitionBy(col("user_id")).orderBy(col("day").asc))
    days
      .withColumn("island", col("day") - rn)
      .groupBy(col("user_id"), col("island"))
      .agg(count(lit(1)).as("len"))
      .groupBy(col("user_id"))
      .agg(
        sum(col("len")).as("n_active_days"),
        max(col("len")).as("longest_streak"),
        count(lit(1)).as("n_streaks"))
  }

  /** RFM (recency / frequency / monetary) segmentation over purchase
    * events: one per-user aggregate (map-combined shuffle on user_id)
    * yields last-purchase epoch-day, purchase count, and exact
    * integer-cents spend; each metric is then scored into quartiles,
    * ordered ascending with a user_id tie-break. The quartile does NOT
    * use an `ntile` window (a single-partition global sort): each metric
    * gets a [[Relational.scalableGlobalRank]] (all stages parallel) and
    * the bucket is recovered from (rank, n) with the exact ANSI NTILE
    * fill rule — the first `n mod 4` buckets take `n div 4 + 1` rows,
    * the rest `n div 4` — in pure integer arithmetic, so the scores are
    * bit-identical to `NTILE(4) OVER (ORDER BY …)` on any ANSI engine
    * while the per-user table never funnels through one partition.
    */
  def rfmSegments(events: DataFrame): DataFrame = {
    val perUser = events
      .filter(col("event_type") === "purchase")
      .groupBy(col("user_id"))
      .agg(
        max(expr(Stages.epochBucketSql("ts", 86400))).as("recency_day"),
        count(lit(1)).as("frequency"),
        sum(expr(Stages.centsSql("value"))).as("monetary_cents"))
    val nRows = perUser.agg(count(lit(1)).cast("long").as("n"))
    // NTILE(4) from a global rank: q = n div 4 rows per bucket, the first
    // rem = n mod 4 buckets hold one extra; ceil via (a + b - 1) div b.
    val ntile4 =
      """CASE WHEN rank <= (n % 4) * (n div 4 + 1)
              THEN (rank + (n div 4 + 1) - 1) div (n div 4 + 1)
              ELSE (n % 4) + (rank - (n % 4) * (n div 4 + 1) + (n div 4) - 1) div (n div 4)
         END"""
    def scored(metric: String, out: String): DataFrame =
      Relational
        .scalableGlobalRank(
          perUser.select(col("user_id"), col(metric)),
          col(metric).asc, col("user_id").asc)
        .crossJoin(broadcast(nRows))
        .select(col("user_id"), expr(ntile4).cast("long").as(out))
    perUser
      .join(scored("recency_day", "r_score"), Seq("user_id"))
      .join(scored("frequency", "f_score"), Seq("user_id"))
      .join(scored("monetary_cents", "m_score"), Seq("user_id"))
      .select(
        col("user_id"),
        col("recency_day"),
        col("frequency"),
        col("monetary_cents"),
        col("r_score"),
        col("f_score"),
        col("m_score"))
  }

  /** Time-weighted average value (TWAP) per user: each observation is
    * weighted by how long it remained current (seconds to the next
    * event, via `lead` over the per-user ordering; the final open-ended
    * observation carries no weight). Both accumulators are EXACT
    * integers — cents × seconds and seconds — so the single closing
    * division is bit-identical on any engine, where a double-weighted
    * `avg` would be partition-order dependent. One shuffle on user_id;
    * per-user state is two longs.
    */
  def timeWeightedAvg(events: DataFrame): DataFrame =
    events
      .select(
        col("user_id"),
        expr(Stages.epochBucketSql("ts", 1)).as("sec"),
        expr(Stages.centsSql("value")).as("cents"),
        col("event_id"))
      .withColumn(
        "dt",
        lead(col("sec"), 1).over(
          Window.partitionBy(col("user_id")).orderBy(col("sec").asc, col("event_id").asc))
          - col("sec"))
      .filter(col("dt").isNotNull)
      .groupBy(col("user_id"))
      .agg(
        count(lit(1)).as("n_intervals"),
        sum(col("dt")).as("total_seconds"),
        sum(col("cents") * col("dt")).as("swx"))
      .select(
        col("user_id"), col("n_intervals"), col("total_seconds"),
        expr("""CASE WHEN total_seconds = 0 THEN NULL
                ELSE CAST(swx AS DOUBLE) / CAST(total_seconds AS DOUBLE) / 100.0 END""")
          .as("twap"))

  /** Hourly OHLC (open/high/low/close) bars over the value stream —
    * the time-series resampling shape. Open/close come from `min_by` /
    * `max_by` keyed on the (ts, event_id) struct (one aggregate, no
    * window, map-side combinable); values pass through without
    * re-rounding so every output is engine-exact.
    */
  def ohlcBars(events: DataFrame): DataFrame =
    events
      .select(
        expr(Stages.epochBucketSql("ts", 3600)).as("hour_epoch"),
        col("ts"), col("event_id"), col("value"))
      .groupBy(col("hour_epoch"))
      .agg(
        min_by(col("value"), struct(col("ts"), col("event_id"))).as("open"),
        max(col("value")).as("high"),
        min(col("value")).as("low"),
        max_by(col("value"), struct(col("ts"), col("event_id"))).as("close"),
        count(lit(1)).as("volume"))

  /** Fano dispersion (burstiness) index of hourly arrivals per event
    * type: var/mean of the hourly count series, 1 for a Poisson
    * process, >1 for bursty traffic. Computed from exact integer sums
    * over the per-(type, hour) counts — F = (n·Σx² − (Σx)²) / (n·Σx) —
    * so the one closing division is engine-identical. Two map-combined
    * aggregations. The centred-moment products widen to DECIMAL(38,0)
    * (oracle twin: HUGEINT): an earlier BIGINT spelling claimed n·Σx²
    * stays under 2⁶³, but 1e5 hours at 1e6 events/hour puts it near
    * 1e22, and n_events² alone wraps past ~3e9 total events.
    */
  def fanoBurstiness(events: DataFrame): DataFrame =
    events
      .groupBy(col("event_type"), expr(Stages.epochBucketSql("ts", 3600)).as("hr"))
      .agg(count(lit(1)).as("x"))
      .groupBy(col("event_type"))
      .agg(
        count(lit(1)).as("n_hours"),
        sum(col("x")).as("n_events"),
        sum(expr("CAST(x AS DECIMAL(38,0)) * x")).as("sxx"))
      .select(
        col("event_type"), col("n_hours"), col("n_events"),
        expr("""CAST(CAST(n_hours AS DECIMAL(38,0)) * sxx
                     - CAST(n_events AS DECIMAL(38,0)) * n_events AS DOUBLE)
                / CAST(CAST(n_hours AS DECIMAL(38,0)) * n_events AS DOUBLE)""").as("fano"))

  /** Per-type Gini coefficient of user spend — the inequality statistic
    * behind "do whales dominate this event type": G = (2·Σᵢ i·xᵢ −
    * (n+1)·Σx) / (n·Σx) over ascending per-user totals. Every
    * accumulator is an exact integer (ranks × cents), so the one
    * closing division is engine-identical — no sorted-prefix floats.
    * One per-(type, user) aggregate, one value-grid cumulative window,
    * one per-type aggregate.
    */
  def giniSpend(events: DataFrame): DataFrame = {
    val perUser = events
      .groupBy(col("event_type"), col("user_id"))
      .agg(sum(expr(Stages.centsSql("value"))).as("x"))
    // Σ i·xᵢ WITHOUT ranking per-user rows in a |event types|-key window
    // (corpus/4 per task at scale): compress to the per-type value
    // distribution, where a tie run of c users at value x occupies ranks
    // cum−c+1..cum and contributes x·(c·(cum−c) + c(c+1)/2) — intra-run
    // order cancels, so the grid sum equals the row-ranked sum exactly.
    // The running count windows over the value grid, never the users.
    val dist = perUser
      .groupBy(col("event_type"), col("x"))
      .agg(count(lit(1)).as("c"))
    val w = Window
      .partitionBy(col("event_type"))
      .orderBy(col("x").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    dist
      .withColumn("cum", sum(col("c")).over(w))
      .groupBy(col("event_type"))
      .agg(
        sum(col("c")).as("n_users"),
        sum(col("c") * col("x")).as("total_cents"),
        sum(expr("x * (c * (cum - c) + (c * (c + 1)) div 2)")).as("swx"))
      .select(
        col("event_type"), col("n_users"), col("total_cents"),
        expr("""CASE WHEN total_cents = 0 THEN NULL
                ELSE CAST(2 * swx - (n_users + 1) * total_cents AS DOUBLE)
                     / CAST(n_users * total_cents AS DOUBLE) END""").as("gini"))
  }

  /** Daily new-vs-returning user split — the growth dashboard's core
    * series: each active (user, day) pair is "new" on the user's
    * first-seen day and "returning" after. One per-user min aggregate
    * (map-combined), one distinct on (user, day), one broadcast-sized
    * join of per-user firsts back onto activity, one daily count.
    * All time math is integer epoch days.
    */
  def newVsReturning(events: DataFrame): DataFrame = {
    val day = expr(Stages.epochBucketSql("ts", 86400))
    val activity = events.select(col("user_id"), day.as("day")).distinct()
    val firsts = activity.groupBy(col("user_id")).agg(min(col("day")).as("first_day"))
    activity
      .join(firsts, "user_id")
      .groupBy(col("day"))
      .agg(
        sum(when(col("day") === col("first_day"), 1L).otherwise(0L)).as("n_new"),
        sum(when(col("day") =!= col("first_day"), 1L).otherwise(0L)).as("n_returning"))
  }

  /** User-journey matrix: users bucketed by (first event type → last
    * event type), the entry/exit flow table behind Sankey funnels. One
    * `min_by`/`max_by` aggregate per user (map-combined), then a
    * |types|²-bounded count. The ordering key is the [[motifCensus]]
    * zero-padded `(seconds, event_id)` string — an engine-portable
    * composite (not every engine's arg_min accepts a struct key) with
    * NO id-range assumption: the earlier `seconds·10⁷ + event_id`
    * scalar silently mis-ordered once event_id reached 10⁷ (a 50-second
    * aliasing that survives every oracle because both engines shared
    * the text), which a 100× fixture plausibly exceeds.
    */
  def journeyMatrix(events: DataFrame): DataFrame = {
    // Both components are biased by 10^11 before padding: a bare lpad
    // of a NEGATIVE value stringifies with a leading '-' ('-' sorts
    // before '0' and negative magnitudes sort reversed), so a pre-1970
    // timestamp or negative event_id would silently mis-order. The bias
    // keeps 12 digits for ts ∈ ±10^11 s (±5100 years) and
    // event_id ∈ (−10^11, 9·10^11) — and is an order-preserving shift,
    // so non-negative fixtures hash identically.
    val ordKey = expr(
      s"""concat(lpad(CAST(${Stages.epochBucketSql("ts", 1)} + 100000000000 AS STRING), 12, '0'),
                lpad(CAST(event_id + 100000000000 AS STRING), 12, '0'))""")
    events
      .groupBy(col("user_id"))
      .agg(
        min_by(col("event_type"), ordKey).as("first_type"),
        max_by(col("event_type"), ordKey).as("last_type"))
      .groupBy(col("first_type"), col("last_type"))
      .agg(count(lit(1)).as("n_users"))
  }

  /** Ratio-to-report: each event's share of its user's total spend —
    * the window-aggregate share shape (`sum over (partition by key)`
    * with no ordering, so no sort: Spark plans a WindowExec whose frame
    * is the whole partition, one shuffle on user_id). Numerator and
    * denominator are exact integer cents; one closing division.
    */
  def ratioToReport(events: DataFrame): DataFrame =
    events
      .select(
        col("user_id"), col("event_id"),
        expr(Stages.centsSql("value")).as("cents"))
      .withColumn("user_total", sum(col("cents")).over(Window.partitionBy(col("user_id"))))
      .select(
        col("user_id"), col("event_id"), col("cents"), col("user_total"),
        // nullif: a user whose cents sum to zero is NULL share on both
        // engines (DuckDB /0 = NULL; bare Spark ANSI would throw).
        expr("CAST(cents AS DOUBLE) / nullif(CAST(user_total AS DOUBLE), 0.0)").as("share"))

  /** Forward fill (LOCF — last observation carried forward) per user:
    * the time-series imputation pass, via `last(_, ignoreNulls)` over
    * the per-user event-time frame. Nulls are synthesized in-plan on
    * `event_id % 5 = 0` rows (the fixtures carry none), same as the
    * null battery. One shuffle on user_id; values pass through without
    * re-rounding.
    */
  def forwardFill(events: DataFrame): DataFrame =
    events
      .withColumn("v", expr("CASE WHEN event_id % 5 = 0 THEN NULL ELSE value END"))
      .select(
        col("user_id"),
        col("event_id"),
        col("v"),
        last(col("v"), ignoreNulls = true)
          .over(userOrder.rowsBetween(Window.unboundedPreceding, Window.currentRow))
          .as("v_filled"))

  /** CUSUM changepoint scan over the daily event-count series: the
    * cumulative sum of SCALED deviations `n_d·D − T` (D days, T total
    * events — the ×D clearing of the mean keeps every term an exact
    * BIGINT; no double accumulation anywhere), with the |cusum|-max day
    * flagged as the changepoint. The corpus collapses to one
    * map-combined daily aggregate first; the running windows then
    * operate on the bounded |days| series (the sanctioned
    * constant-key-window-over-aggregate shape).
    */
  def cusumChangepoint(events: DataFrame): DataFrame = {
    val daily = events
      .groupBy(expr(Stages.epochBucketSql("ts", 86400)).as("day"))
      .agg(count(lit(1)).as("n"))
    val wAll = Window.partitionBy(lit(1))
    val wRun = wAll.orderBy(col("day").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    daily
      .withColumn("n_days", count(lit(1)).over(wAll))
      .withColumn("total", sum(col("n")).over(wAll))
      .withColumn("cusum", sum(col("n") * col("n_days") - col("total")).over(wRun))
      .withColumn("max_abs", max(abs(col("cusum"))).over(wAll))
      .select(
        col("day"), col("n"), col("cusum"),
        (abs(col("cusum")) === col("max_abs")).as("is_peak"))
  }

  /** Dense (event_type × hour-of-day) activity grid with zero-filled
    * cells — the cross-join + left-join "fill the matrix" shape behind
    * heatmaps and per-cell models. Both dimensions are generated in-plan
    * (distinct types ≈ dozens; hours are a literal 0-23 sequence), so the
    * cross join is broadcast-nested-loop over tiny inputs while the
    * counts side stays a map-combined aggregate of the corpus.
    */
  def denseHourGrid(events: DataFrame): DataFrame = {
    val types = events.select(col("event_type")).distinct()
    val hours = types.sparkSession.range(0, 24).select(col("id").as("hod"))
    val counts = events
      .groupBy(col("event_type"), hour(col("ts")).cast("long").as("hod"))
      .agg(count(lit(1)).as("n_raw"))
    types
      .crossJoin(hours)
      .join(counts, Seq("event_type", "hod"), "left")
      .select(col("event_type"), col("hod"), coalesce(col("n_raw"), lit(0L)).as("n"))
  }

  /** Watermark-lateness audit, batch-simulated: arrival order is proxied
    * by event_id grouped into coarse arrival batches, and the watermark a
    * row faces is the max event time of all STRICTLY EARLIER batches —
    * the same cadence a streaming engine uses to advance its watermark
    * per micro-batch. The only unpartitioned window runs over the
    * per-batch aggregate (corpus_rows / batchRows rows, not the corpus),
    * which then broadcasts back onto events. `n_late` counts rows later
    * than 1 h behind the watermark; `n_dropped` rows a
    * `withWatermark("2 hours")` stream would discard. All time math is
    * integer epoch seconds; `greatest(NULL, 0) = 0` in both engines, so
    * the first batch (no watermark yet) contributes zero lateness.
    * The fixture's events arrive in event-time order (no natural
    * lateness), so straggler arrivals are synthesized in-plan — a
    * deterministic `event_id % k` subset shifted hours earlier,
    * mirrored verbatim in the oracle — the same convention the
    * null-synthesis rules use.
    */
  def latenessAudit(events: DataFrame, batchRows: Long = 250L): DataFrame = {
    val ev = events.select(
      col("event_type"),
      expr(s"""${Stages.epochBucketSql("ts", 1)} - CASE WHEN event_id % 13 = 0 THEN 21600
                                      WHEN event_id % 97 = 0 THEN 86400
                                      ELSE 0 END""").as("ts_sec"),
      expr(s"event_id div $batchRows").as("batch"))
    val wm = ev
      .groupBy(col("batch"))
      .agg(max(col("ts_sec")).as("batch_max"))
      .withColumn(
        "watermark",
        max(col("batch_max")).over(
          Window.orderBy(col("batch")).rowsBetween(Window.unboundedPreceding, -1)))
      .select(col("batch"), col("watermark"))
    ev.join(broadcast(wm), Seq("batch"))
      .withColumn("late_sec", greatest(col("watermark") - col("ts_sec"), lit(0L)))
      .groupBy(col("event_type"))
      .agg(
        count(lit(1)).as("n_events"),
        sum(when(col("late_sec") > 3600L, 1L).otherwise(0L)).as("n_late"),
        sum(when(col("late_sec") > 7200L, 1L).otherwise(0L)).as("n_dropped"),
        max(col("late_sec")).as("max_late_sec"),
        sum(col("late_sec")).as("late_sec_sum"))
  }

  /** Tukey-fence outlier screen per event type: Q1/Q3 over integer cents
    * (exact interpolated percentile — the cross-engine-proven quantile),
    * fences at 1.5·IQR, then one broadcast join of the per-type fence
    * table (|event types| rows) back onto the corpus for the outlier
    * tally. Two corpus scans, no corpus-wide shuffle beyond the two
    * per-type aggregations.
    */
  def iqrOutliers(events: DataFrame): DataFrame = {
    val base = events.select(
      col("event_type"), expr(Stages.centsSql("value")).as("cents"))
    val fences = base
      .groupBy(col("event_type"))
      .agg(
        expr("percentile(cents, 0.25)").as("q1"),
        expr("percentile(cents, 0.75)").as("q3"))
      .withColumn("lo", col("q1") - (col("q3") - col("q1")) * 1.5)
      .withColumn("hi", col("q3") + (col("q3") - col("q1")) * 1.5)
    val isOut = col("cents") < col("lo") || col("cents") > col("hi")
    base
      .join(broadcast(fences), Seq("event_type"))
      .groupBy(col("event_type"))
      .agg(
        count(lit(1)).as("n_events"),
        sum(when(isOut, 1L).otherwise(0L)).as("n_outliers"),
        sum(when(isOut, col("cents")).otherwise(0L)).as("outlier_cents"),
        max(col("q1")).as("q1"),
        max(col("q3")).as("q3"))
  }

  /** Equal-frequency decile table of order value WITHOUT `ntile`'s
    * single-partition window: ranks come from
    * [[Relational.scalableGlobalRank]] (range repartition + per-partition
    * offsets — every stage parallel), and the bucket is pure arithmetic
    * on (rank, n): `(rank−1)·k div n + 1`, the textbook equal-frequency
    * quantile bucket, identical in both engines. The row count rides in
    * as a broadcast scalar, not a driver-side collect.
    */
  def decileStats(orders: DataFrame, k: Int = 10): DataFrame = {
    val ranked = Relational.scalableGlobalRank(
      orders.select(
        expr(Stages.centsSql("o_totalprice")).as("cents"), col("o_orderkey")),
      col("cents").asc, col("o_orderkey").asc)
    val total = ranked.agg(max(col("rank")).as("n"))
    ranked
      .crossJoin(broadcast(total))
      .withColumn("decile", expr(s"(rank - 1) * $k div n + 1"))
      .groupBy(col("decile"))
      .agg(
        count(lit(1)).as("n_orders"),
        min(col("cents")).as("lo_cents"),
        max(col("cents")).as("hi_cents"),
        sum(col("cents")).as("decile_cents"))
  }

  /** Lorenz curve of user spend in k points — the distribution behind
    * [[giniSpend]], materialized: per-user integer-cents totals, a
    * scalable global rank (no single-partition window over users), an
    * arithmetic equal-frequency bucket, and a cumulative share computed
    * by a window over the k-row bucket table only. `cum_share` of the
    * last bucket is exactly 1.0 (cents are integers, division happens
    * once at the end).
    */
  def lorenzCurve(events: DataFrame, k: Int = 10): DataFrame = {
    val perUser = events
      .groupBy(col("user_id"))
      .agg(sum(expr(Stages.centsSql("value"))).as("x"))
    val ranked =
      Relational.scalableGlobalRank(perUser, col("x").asc, col("user_id").asc)
    val total = ranked.agg(max(col("rank")).as("n"))
    val buckets = ranked
      .crossJoin(broadcast(total))
      .withColumn("decile", expr(s"(rank - 1) * $k div n + 1"))
      .groupBy(col("decile"))
      .agg(count(lit(1)).as("n_users"), sum(col("x")).as("decile_cents"))
    val grand = buckets.agg(sum(col("decile_cents")).as("total_cents"))
    buckets
      .withColumn(
        "cum_cents",
        sum(col("decile_cents")).over(
          Window.orderBy(col("decile"))
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .crossJoin(broadcast(grand))
      .select(
        col("decile"), col("n_users"), col("decile_cents"),
        (col("cum_cents").cast("double") / col("total_cents").cast("double"))
          .as("cum_share"))
  }

  /** Exact Mann–Whitney U rank-sum test (tie-corrected normal
    * approximation) between the value distributions of two event types —
    * the nonparametric sibling of the CUPED/SRM battery. Computed on the
    * (value-cents → per-type count) grid in pure integer arithmetic:
    * with C(x) = merged count strictly below x and t(x) = tie-group size,
    * the tie-averaged rank satisfies 2·rank(x) = 2·C(x) + t(x) + 1, so
    * twice the A rank-sum — and twice U_A — stay BIGINT-exact. The only
    * floating point is the final z, one division over one sqrt on
    * integer-derived doubles (identical expression text in the oracle).
    * Grid size is bounded by the value DOMAIN (distinct cents), not the
    * row count — the same scaling argument as
    * [[graft.text.TextAnalysis.ksTest]]; the single-partition cumulative
    * window runs over that bounded grid, never the raw rows.
    */
  def mannWhitney(events: DataFrame, typeA: String, typeB: String): DataFrame = {
    val grid = events
      .filter(col("event_type").isin(typeA, typeB))
      .select(col("event_type"), expr(Stages.centsSql("value")).as("x"))
      .groupBy(col("x"))
      .agg(
        sum(when(col("event_type") === typeA, 1L).otherwise(0L)).as("a"),
        sum(when(col("event_type") === typeB, 1L).otherwise(0L)).as("b"))
    val below = Window
      .partitionBy(lit(1))
      .orderBy(col("x"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val ranked = grid.select(
      col("a"),
      (col("a") + col("b")).as("t"),
      coalesce(sum(col("a") + col("b")).over(below), lit(0L)).as("c"))
    ranked
      .agg(
        sum(col("a")).as("na"),
        sum(col("t") - col("a")).as("nb"),
        // DECIMAL(38,0) (oracle: HUGEINT): a·2c reaches 2N² and Σt³−t
        // reaches N³ — the cubic wraps BIGINT at a mere ~2e6 rows when
        // one value dominates
        sum(expr("CAST(a AS DECIMAL(38,0)) * (2 * c + t + 1)")).as("two_ra"),
        sum(expr("CAST(t AS DECIMAL(38,0)) * t * t - t")).as("tie3"))
      .select(
        col("na"), col("nb"),
        expr("two_ra - CAST(na AS DECIMAL(38,0)) * (na + 1)").as("two_u_a"),
        col("tie3"))
      .select(
        // two_u_a reports as an exact-from-integer double (see [[pacf]]
        // for the wide-integer output-type rationale)
        col("na"), col("nb"), expr("CAST(two_u_a AS DOUBLE)").as("two_u_a"),
        // NULL, not 0/0, on the degenerate inputs the closed form cannot
        // studentize: an empty group, or ALL values tied (tie3 = N³−N
        // zeroes the variance — Spark ANSI would throw DIVIDE_BY_ZERO
        // where DuckDB yields NaN, so the guard is also what keeps the
        // two engines aligned). The file's CASE-guard convention
        // (rollingCorrSql, cochranQSql).
        expr("""CASE WHEN na = 0 OR nb = 0 OR
                     tie3 = CAST(na + nb AS DECIMAL(38,0)) * (na + nb - 1) * (na + nb + 1)
                THEN NULL
                ELSE CAST(two_u_a - CAST(na AS DECIMAL(38,0)) * nb AS DOUBLE) /
                (2.0 * sqrt((CAST(na AS DOUBLE) * CAST(nb AS DOUBLE) / 12.0) *
                            (CAST(na + nb + 1 AS DOUBLE) -
                             CAST(tie3 AS DOUBLE) /
                             (CAST(na + nb AS DOUBLE) * CAST(na + nb - 1 AS DOUBLE))))) END""")
          .as("z"))
  }

  /** Mann–Kendall monotonic-trend test on the daily-revenue series:
    * S = Σ_{i<j} sgn(x_j − x_i) over day pairs, tie-corrected variance
    * Var·18 = n(n−1)(2n+5) − Σ t(t−1)(2t+5), continuity-corrected z.
    * The pair join runs on the DAY grid — bounded by the calendar, not
    * the row count — after a map-side-combined daily rollup; S, n and
    * the tie term are BIGINT-exact, and z is one division over one sqrt
    * with the oracle's exact expression text.
    */
  def mannKendall(events: DataFrame): DataFrame = {
    val daily = events
      .select(expr("CAST(ts AS DATE)").as("d"), expr(Stages.centsSql("value")).as("c"))
      .groupBy(col("d"))
      .agg(sum(col("c")).as("x"))
    val s = daily.as("i")
      .join(daily.as("j"), col("i.d") < col("j.d"))
      .agg(coalesce(sum(expr("CAST(sign(j.x - i.x) AS BIGINT)")), lit(0L)).as("s_stat"))
    val ties = daily
      .groupBy(col("x"))
      .agg(count(lit(1)).as("t"))
      .agg(
        // n = Σt (total DAYS), not the distinct-value row count — the
        // two differ exactly when ties exist, i.e. exactly when the
        // tie_term correction below matters
        sum(col("t")).as("n_days"),
        sum(col("t") * (col("t") - 1L) * (lit(2L) * col("t") + 5L)).as("tie_term"))
    s.crossJoin(broadcast(ties))
      .select(
        col("n_days"), col("s_stat"),
        expr("""CASE WHEN s_stat > 0 THEN CAST(s_stat - 1 AS DOUBLE)
                     WHEN s_stat < 0 THEN CAST(s_stat + 1 AS DOUBLE)
                     ELSE 0.0 END /
                nullif(sqrt(CAST(n_days * (n_days - 1) * (2 * n_days + 5) - tie_term AS DOUBLE) / 18.0), 0.0E0)""")
          .as("z"))
  }

  /** Two-phase distributed aggregation with an explicit partial-state
    * merge — the combiner identity that makes count/sum/sumsq mergeable
    * across executors: partials per (type, event_id-parity half) are
    * merged by plain sums and checked against the direct one-pass
    * aggregate in-plan (`merge_exact`). Moments run in integer cents /
    * cents² (BIGINT-exact, engine-portable); mean and sample stddev are
    * derived at the end with the oracle's exact expression text.
    */
  def mergeStats(events: DataFrame): DataFrame = {
    val base = events.select(
      col("event_type"),
      (col("event_id") % 2).as("h"),
      expr(Stages.centsSql("value")).as("c"))
    val merged = base
      .groupBy(col("event_type"), col("h"))
      .agg(count(lit(1)).as("n"), sum(col("c")).as("s"), sum(col("c") * col("c")).as("ss"))
      .groupBy(col("event_type"))
      .agg(
        count(lit(1)).as("n_partials"),
        sum(col("n")).as("n"),
        sum(col("s")).as("sum_cents"),
        sum(col("ss")).as("sumsq_cents"))
    val direct = base
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_d"), sum(col("c")).as("s_d"), sum(col("c") * col("c")).as("ss_d"))
    merged
      .join(direct, Seq("event_type"))
      .select(
        col("event_type"), col("n_partials"), col("n"), col("sum_cents"), col("sumsq_cents"),
        (col("n") === col("n_d") && col("sum_cents") === col("s_d") &&
          col("sumsq_cents") === col("ss_d")).as("merge_exact"),
        expr("CAST(sum_cents AS DOUBLE) / CAST(n AS DOUBLE) / 100.0").as("mean_dollars"),
        expr("""sqrt((CAST(sumsq_cents AS DOUBLE) -
                      CAST(sum_cents AS DOUBLE) * CAST(sum_cents AS DOUBLE) / CAST(n AS DOUBLE)) /
                     nullif(CAST(n - 1 AS DOUBLE), 0.0E0)) / 100.0""").as("stddev_dollars"))
  }

  /** Kendall τ-b rank correlation between daily revenue and daily active
    * users — does activity move with money? S = Σ_{i<j} sgn(Δx)·sgn(Δy)
    * and the tie-pair counts are BIGINT-exact over the DAY-grid pair
    * join (calendar-bounded, like [[mannKendall]]); τ-b divides by the
    * tie-adjusted pair counts in one sqrt expression shared verbatim
    * with the oracle.
    */
  def kendallTau(events: DataFrame): DataFrame = {
    val daily = events
      .select(
        expr("CAST(ts AS DATE)").as("d"),
        expr(Stages.centsSql("value")).as("c"),
        col("user_id"))
      .groupBy(col("d"))
      .agg(sum(col("c")).as("x"), countDistinct(col("user_id")).as("y"))
    daily.as("i")
      .join(daily.as("j"), col("i.d") < col("j.d"))
      .agg(
        count(lit(1)).as("n0"),
        coalesce(
          sum(expr("CAST(sign(j.x - i.x) AS BIGINT) * CAST(sign(j.y - i.y) AS BIGINT)")),
          lit(0L)).as("s_stat"),
        sum(when(col("j.x") === col("i.x"), 1L).otherwise(0L)).as("tx_pairs"),
        sum(when(col("j.y") === col("i.y"), 1L).otherwise(0L)).as("ty_pairs"))
      .select(
        col("n0"), col("s_stat"), col("tx_pairs"), col("ty_pairs"),
        expr("""CAST(s_stat AS DOUBLE) /
                sqrt(CAST(n0 - tx_pairs AS DOUBLE) * CAST(n0 - ty_pairs AS DOUBLE))""")
          .as("tau_b"))
  }

  /** Wald–Wolfowitz runs test on the daily-revenue series: days strictly
    * above/below the series median form a ±1 sequence; too few or too
    * many sign runs rejects randomness. The run count comes from a lag
    * over the calendar-bounded day grid (never the raw rows), equal-to-
    * median days are excluded (the standard treatment), and z uses the
    * exact n1/n2 moment formula — integer inputs, one sqrt, oracle-
    * identical text.
    */
  def runsTest(events: DataFrame): DataFrame = {
    val daily = events
      .select(expr("CAST(ts AS DATE)").as("d"), expr(Stages.centsSql("value")).as("c"))
      .groupBy(col("d"))
      .agg(sum(col("c")).as("x"))
    val med = daily.agg(expr("percentile(x, 0.5)").as("med"))
    val signed = daily
      .crossJoin(broadcast(med))
      .filter(expr("CAST(x AS DOUBLE) <> med"))
      .select(col("d"), when(col("x") > col("med"), 1L).otherwise(0L).as("s"))
    val w = Window.partitionBy(lit(1)).orderBy(col("d"))
    signed
      .withColumn(
        "chg",
        when(lag(col("s"), 1).over(w).isNull || lag(col("s"), 1).over(w) =!= col("s"), 1L)
          .otherwise(0L))
      .agg(
        sum(when(col("s") === 1L, 1L).otherwise(0L)).as("n1"),
        sum(when(col("s") === 0L, 1L).otherwise(0L)).as("n2"),
        sum(col("chg")).as("r"))
      .select(
        col("n1"), col("n2"), col("r"),
        expr("""(CAST(r AS DOUBLE) -
                (2.0 * CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE) / CAST(n1 + n2 AS DOUBLE) + 1.0)) /
                sqrt(2.0 * CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE) *
                     (2.0 * CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE) - CAST(n1 + n2 AS DOUBLE)) /
                     (CAST(n1 + n2 AS DOUBLE) * CAST(n1 + n2 AS DOUBLE) *
                      CAST(n1 + n2 - 1 AS DOUBLE)))""").as("z"))
  }

  /** Portable HyperLogLog (b=8, m=256) over the distinct (user, day)
    * active pairs per event type — the mergeable cardinality sketch in
    * its true distributed shape: every row hashes map-side (first 32
    * md5 bits: top 8 = register, next 24 = rank via a generated
    * comparison ladder), duplicates collapse inside `max(rho)` partial
    * aggregation — no DISTINCT shuffle anywhere — and the register sum
    * Σ2^{−ρ} is carried as the INTEGER Σ2^{25−ρ} (every term a dyadic
    * power, so no float accumulation order to disagree on). The raw-HLL
    * estimate and its relative error against the exact count are single
    * oracle-identical double expressions. Production would add linear
    * counting below 2.5·m; the raw estimator keeps the report exact to
    * reproduce.
    */
  def hllDistinct(events: DataFrame): DataFrame = {
    val rhoLadder = (1 to 24)
      .map(r => s"WHEN rem >= ${1L << (24 - r)} THEN $r")
      .mkString("CASE ", " ", " ELSE 25 END")
    val key = "concat(CAST(user_id AS STRING), '-', CAST(CAST(ts AS DATE) AS STRING))"
    val regs = events
      .select(
        col("event_type"),
        expr(Stages.md5BitsSql(key, "1", 8)).as("h"))
      .select(col("event_type"), expr("h >> 24").as("bucket"), expr("h & 16777215").as("rem"))
      .select(col("event_type"), col("bucket"), expr(rhoLadder).as("rho"))
      .groupBy(col("event_type"), col("bucket"))
      .agg(max(col("rho")).as("r"))
    val sketch = regs
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_used"), sum(expr("1 << (25 - r)")).as("s_present"))
      .select(
        col("event_type"), col("n_used"),
        (col("s_present") + (lit(256L) - col("n_used")) * lit(33554432L)).as("s_int"))
    val exact = events
      .select(col("event_type"), expr(key).as("k"))
      .groupBy(col("event_type"))
      .agg(countDistinct(col("k")).as("n_exact"))
    sketch
      .join(exact, Seq("event_type"))
      .select(
        col("event_type"), col("n_used"), col("n_exact"),
        expr("""CAST(0.7213 AS DOUBLE) / (1.0 + CAST(1.079 AS DOUBLE) / 256.0) *
                65536.0 * 33554432.0 / CAST(s_int AS DOUBLE)""")
          .as("hll_est"))
      .withColumn("rel_err", expr("(hll_est - CAST(n_exact AS DOUBLE)) / CAST(n_exact AS DOUBLE)"))
  }

  /** Single-changepoint detection (one step of binary segmentation) on
    * the daily-revenue series: the split minimizing total within-segment
    * squared error, where each segment's SSE folds to Σx² − (Σx)²/n over
    * BIGINT prefix sums (one cumulative window over the calendar-bounded
    * day grid). Candidate costs are doubles from the oracle's exact
    * expression; the argmin breaks ties on the earlier day. Cents² sums
    * stay in BIGINT range through sf1-scale daily totals (~2⁶² headroom
    * at 10⁹-cent days × 10³ days).
    */
  def changepoint(events: DataFrame): DataFrame = {
    val daily = events
      .select(expr("CAST(ts AS DATE)").as("d"), expr(Stages.centsSql("value")).as("c"))
      .groupBy(col("d"))
      .agg(sum(col("c")).as("x"))
    val w = Window
      .partitionBy(lit(1))
      .orderBy(col("d"))
      .rowsBetween(Window.unboundedPreceding, 0)
    // Σx² prefix sums widen to DECIMAL(38,0): one 1e9-cent day squares
    // to ~2^60, so a thousand-day prefix sum wraps BIGINT — the earlier
    // comment's headroom claim bounded one TERM, not the sum (oracle
    // twin: HUGEINT)
    val pre = daily.select(
      col("d"),
      sum(col("x")).over(w).as("sl"),
      sum(expr("CAST(x AS DECIMAL(38,0)) * x")).over(w).as("ql"),
      sum(lit(1L)).over(w).as("nl"))
    val tot = daily.agg(
      count(lit(1)).as("n"), sum(col("x")).as("s"),
      sum(expr("CAST(x AS DECIMAL(38,0)) * x")).as("q"))
    pre
      .crossJoin(broadcast(tot))
      .filter(col("nl") < col("n"))
      .select(
        expr(Stages.epochBucketSql("CAST(d AS TIMESTAMP)", 86400)).as("split_day"),
        col("nl").as("n_left"),
        (col("n") - col("nl")).as("n_right"),
        expr("""(CAST(ql AS DOUBLE) -
                 CAST(sl AS DOUBLE) * CAST(sl AS DOUBLE) / CAST(nl AS DOUBLE)) +
                (CAST(q - ql AS DOUBLE) -
                 CAST(s - sl AS DOUBLE) * CAST(s - sl AS DOUBLE) / CAST(n - nl AS DOUBLE))""")
          .as("cost"))
      .orderBy(col("cost").asc, col("split_day").asc)
      .limit(1)
  }

  /** Theil–Sen robust trend slope of daily revenue: the median of all
    * pairwise slopes over the day grid, with each slope quantized to
    * integer milli-cents/day BEFORE the median (round of one exact
    * division — cross-engine bit-stable, and the interpolated median of
    * integers is exact dyadic arithmetic in both engines, unlike a
    * median over raw quotient doubles). Pair count is calendar-bounded.
    */
  def theilSen(events: DataFrame): DataFrame = {
    val daily = events
      .select(expr("CAST(ts AS DATE)").as("d"), expr(Stages.centsSql("value")).as("c"))
      .groupBy(col("d"))
      .agg(sum(col("c")).as("x"))
      .select(expr(Stages.epochBucketSql("CAST(d AS TIMESTAMP)", 86400)).as("dn"), col("x"))
    daily.as("i")
      .join(daily.as("j"), col("i.dn") < col("j.dn"))
      .select(
        expr("""CAST(round(CAST((j.x - i.x) * 1000 AS DOUBLE) /
                           CAST(j.dn - i.dn AS DOUBLE)) AS BIGINT)""").as("slope_milli"))
      .agg(
        count(lit(1)).as("n_pairs"),
        expr("percentile(slope_milli, 0.5)").as("slope_milli_median"))
  }

  /** Spearman rank correlation between daily revenue and daily active
    * users, tie-aware: doubled tie-averaged ranks (2r = 2·rank_min +
    * ties − 1, integers) feed the Pearson identity
    * (nΣuv − ΣuΣv) / √((nΣu² − (Σu)²)(nΣv² − (Σv)²)) — every moment
    * BIGINT-exact over the calendar-bounded day grid, one final
    * division over one sqrt with oracle-identical text.
    */
  def spearman(events: DataFrame): DataFrame = {
    val daily = events
      .select(
        expr("CAST(ts AS DATE)").as("d"),
        expr(Stages.centsSql("value")).as("c"),
        col("user_id"))
      .groupBy(col("d"))
      .agg(sum(col("c")).as("x"), countDistinct(col("user_id")).as("y"))
    val one = Window.partitionBy(lit(1))
    val ranked = daily.select(
      (lit(2L) * rank().over(one.orderBy(col("x"))) +
        count(lit(1)).over(Window.partitionBy(col("x"))) - lit(1L)).as("u"),
      (lit(2L) * rank().over(one.orderBy(col("y"))) +
        count(lit(1)).over(Window.partitionBy(col("y"))) - lit(1L)).as("v"))
    ranked
      .agg(
        count(lit(1)).as("n"),
        sum(col("u")).as("su"), sum(col("v")).as("sv"),
        sum(col("u") * col("u")).as("suu"), sum(col("v") * col("v")).as("svv"),
        sum(col("u") * col("v")).as("suv"))
      .select(
        col("n"),
        expr("""CAST(n * suv - su * sv AS DOUBLE) /
                nullif(sqrt(CAST(n * suu - su * su AS DOUBLE) * CAST(n * svv - sv * sv AS DOUBLE)), 0.0E0)""")
          .as("rho"))
  }

  /** Distribution-free confidence interval for the per-type median of
    * the value column, by order statistics: the values at ranks
    * n/2 ∓ 1.96·√n/2 bracket the median at ~95% (binomial normal
    * approximation). The rank-r order statistic resolves on the
    * per-type VALUE GRID (first value whose cumulative count reaches
    * r) — a per-type row window would sort corpus/|types| rows in one
    * task — and the bracket VALUES are picked by conditional aggregates,
    * so the output is |types| rows. The brackets rank NULL values
    * lowest, as the rank arithmetic counts every row; the median is the
    * frequency-weighted `percentile` over the same grid, which skips a
    * NULL value as the oracle's `quantile_cont` does.
    */
  def medianCI(events: DataFrame): DataFrame = {
    val loRank = """greatest(CAST(1 AS BIGINT),
                CAST(floor((CAST(n AS DOUBLE) -
                  CAST(1.96 AS DOUBLE) * sqrt(CAST(n AS DOUBLE))) / 2.0) AS BIGINT))"""
    val hiRank = """least(n,
                CAST(ceil((CAST(n AS DOUBLE) + 2.0 +
                  CAST(1.96 AS DOUBLE) * sqrt(CAST(n AS DOUBLE))) / 2.0) AS BIGINT))"""
    def pick(r: String) = Relational.rankPick(expr(r), col("c"))
    Relational
      .gridRunningWeight(
        events
          .groupBy(col("event_type"), expr(Stages.centsSql("value")).as("c"))
          .agg(count(lit(1)).as("cnt")),
        Seq("event_type"), "c", "cnt")
      .groupBy(col("event_type"))
      .agg(
        max(col("n")).as("n"),
        expr("percentile(c, 0.5, cnt)").as("median_cents"),
        pick(loRank).as("lo_cents"),
        pick(hiRank).as("hi_cents"))
      .select(
        col("event_type"), col("n"), col("median_cents"),
        expr(loRank).as("lo_rank"), expr(hiRank).as("hi_rank"), col("lo_cents"), col("hi_cents"))
  }

  /** Sequence-motif census: how many users' chronologically-ordered
    * event-type path contains each behavioural motif (as a substring of
    * type initials, e.g. 'vcp' = view→click→purchase consecutively).
    * The per-user path is built ORDER-FREE inside the aggregation — a
    * sortable composite key (zero-padded epoch ‖ event_id ‖ initial) is
    * collected, array-sorted, and the initials peeled off — the same
    * engine-portable composite-ordering trick as the journey matrix;
    * per-user state is bounded by that user's activity, never the
    * corpus. Motif matching is one `instr` per motif on the path.
    */
  def motifCensus(events: DataFrame, motifs: Seq[String] = Seq("vcp", "cp", "ss")): DataFrame = {
    val paths = events
      .select(
        col("user_id"),
        // +10^11 bias before padding — same negative-value ordering
        // guard (and domain bounds) as [[journeyMatrix]]'s ordKey
        expr(s"""concat(lpad(CAST(${Stages.epochBucketSql("ts", 1)} + 100000000000 AS STRING), 12, '0'),
                       lpad(CAST(event_id + 100000000000 AS STRING), 12, '0'),
                       substring(event_type, 1, 1))""").as("k"))
      .groupBy(col("user_id"))
      .agg(expr("array_join(transform(array_sort(collect_list(k)), x -> right(x, 1)), '')")
        .as("path"))
    val total = paths.agg(count(lit(1)).as("n_users"))
    val hits = motifs
      .map(m =>
        paths.agg(
          lit(m).as("motif"),
          sum(when(expr(s"instr(path, '$m') > 0"), 1L).otherwise(0L)).as("n_matching")))
      .reduce(_ unionAll _)
    hits
      .crossJoin(broadcast(total))
      .select(
        col("motif"), col("n_matching"), col("n_users"),
        expr("CAST(n_matching AS DOUBLE) / CAST(n_users AS DOUBLE)").as("frac"))
  }

  /** Closed-form ridge regression of value-cents on (hour-of-day,
    * portable Monday-1 weekday) with intercept: the 3×3 penalized normal
    * equations are solved by Cramer's rule over [[Stages.det3Sql]] —
    * sufficient statistics accumulate BIGINT-exact in ONE corpus pass
    * (the only distributed work), and the four determinants are fixed
    * IEEE expression trees shared textually with the oracle. λ is added
    * to the two slope diagonals only, the standard no-intercept-penalty
    * convention.
    */
  def ridgeRegression(events: DataFrame, lambda: Double = 1000.0): DataFrame = {
    val base = events.select(
      expr("CAST(hour(ts) AS BIGINT)").as("x1"),
      expr(s"(${Stages.epochBucketSql("ts", 86400)} + 3) % 7 + 1").as("x2"),
      expr(Stages.centsSql("value")).as("y"))
    val det = Stages.det3Sql("a", "b", "c", "b", "e", "f", "c", "f", "i")
    val d1 = Stages.det3Sql("r1", "b", "c", "r2", "e", "f", "r3", "f", "i")
    val d2 = Stages.det3Sql("a", "r1", "c", "b", "r2", "f", "c", "r3", "i")
    val d3 = Stages.det3Sql("a", "b", "r1", "b", "e", "r2", "c", "f", "r3")
    base
      .agg(
        count(lit(1)).as("n"),
        sum(col("x1")).as("s1"), sum(col("x2")).as("s2"), sum(col("y")).as("sy"),
        sum(col("x1") * col("x1")).as("s11"), sum(col("x1") * col("x2")).as("s12"),
        sum(col("x2") * col("x2")).as("s22"),
        sum(col("x1") * col("y")).as("sb1"), sum(col("x2") * col("y")).as("sb2"))
      .select(
        col("n"),
        expr(s"CAST(s11 AS DOUBLE) + CAST($lambda AS DOUBLE)").as("a"),
        expr("CAST(s12 AS DOUBLE)").as("b"),
        expr("CAST(s1 AS DOUBLE)").as("c"),
        expr(s"CAST(s22 AS DOUBLE) + CAST($lambda AS DOUBLE)").as("e"),
        expr("CAST(s2 AS DOUBLE)").as("f"),
        expr("CAST(n AS DOUBLE)").as("i"),
        expr("CAST(sb1 AS DOUBLE)").as("r1"),
        expr("CAST(sb2 AS DOUBLE)").as("r2"),
        expr("CAST(sy AS DOUBLE)").as("r3"))
      .select(
        col("n"),
        expr(s"$d1 / nullif($det, 0.0E0)").as("coef_hour"),
        expr(s"$d2 / nullif($det, 0.0E0)").as("coef_dow"),
        expr(s"$d3 / nullif($det, 0.0E0)").as("intercept"))
  }

  /** Stationary distribution of the event-type Markov chain, two
    * deterministic power steps: the transition matrix quantizes to ppm
    * (round(10⁶·count/rowsum) — one rounded division per cell) so each
    * v·P multiply is a pure BIGINT dot product with no float
    * accumulation order to disagree on, and the iterate re-quantizes to
    * milli scale per step like [[graft.similarity.Similarity.powerIteration]].
    * The matrix is |types|² cells from one map-combined pair count.
    */
  def markovStationary(events: DataFrame): DataFrame = {
    val pairs = events
      .select(
        col("event_type").as("curr"),
        lag(col("event_type"), 1).over(userOrder).as("prev"))
      .filter(col("prev").isNotNull)
      .groupBy(col("prev"), col("curr"))
      .agg(count(lit(1)).as("cnt"))
    val rows = pairs.groupBy(col("prev")).agg(sum(col("cnt")).as("tot"))
    val pppm = pairs
      .join(broadcast(rows), Seq("prev"))
      .select(
        col("prev"), col("curr"),
        expr("CAST(round(1000000.0 * CAST(cnt AS DOUBLE) / CAST(tot AS DOUBLE)) AS BIGINT)")
          .as("p_ppm"))
    def step(v: DataFrame): DataFrame = {
      val w = pppm
        .join(broadcast(v), col("prev") === col("vtype"))
        .groupBy(col("curr"))
        .agg(sum(col("p_ppm") * col("v")).as("w"))
      val mx = w.agg(max(abs(col("w"))).as("mx"))
      w.crossJoin(broadcast(mx))
        .select(
          col("curr").as("vtype"),
          expr("CAST(round(1000.0 * CAST(w AS DOUBLE) / CAST(mx AS DOUBLE)) AS BIGINT)").as("v"))
    }
    val v0 = events
      .select(col("event_type").as("vtype"))
      .distinct()
      .withColumn("v", lit(1000L))
    step(step(v0)).select(col("vtype").as("event_type"), col("v").as("stationary_milli"))
  }

  /** Watermark recommendation from the observed arrival lateness (same
    * synthesized arrival stream as [[latenessAudit]]): p50/p90/p99
    * lateness, the p99 taken as the recommended delay, and the residual
    * drop rate a stream running that watermark would still see. Two
    * aggregates and a broadcast — the lateness table never leaves the
    * executors.
    */
  def watermarkReco(events: DataFrame, batchRows: Long = 250L): DataFrame = {
    val ev = events.select(
      expr(s"""${Stages.epochBucketSql("ts", 1)} - CASE WHEN event_id % 13 = 0 THEN 21600
                                      WHEN event_id % 97 = 0 THEN 86400
                                      ELSE 0 END""").as("ts_sec"),
      expr(s"event_id div $batchRows").as("batch"))
    val wm = ev
      .groupBy(col("batch"))
      .agg(max(col("ts_sec")).as("batch_max"))
      .withColumn(
        "watermark",
        max(col("batch_max")).over(
          Window.partitionBy(lit(1)).orderBy(col("batch"))
            .rowsBetween(Window.unboundedPreceding, -1)))
      .select(col("batch"), col("watermark"))
    val late = ev
      .join(broadcast(wm), Seq("batch"))
      .select(greatest(col("watermark") - col("ts_sec"), lit(0L)).as("late_sec"))
    val pcts = late.agg(
      count(lit(1)).as("n_events"),
      expr("percentile(late_sec, 0.5)").as("p50_sec"),
      expr("percentile(late_sec, 0.9)").as("p90_sec"),
      expr("percentile(late_sec, 0.99)").as("reco_watermark_sec"))
    late
      .crossJoin(broadcast(pcts))
      .agg(
        max(col("n_events")).as("n_events"),
        max(col("p50_sec")).as("p50_sec"),
        max(col("p90_sec")).as("p90_sec"),
        max(col("reco_watermark_sec")).as("reco_watermark_sec"),
        sum(when(expr("CAST(late_sec AS DOUBLE) > reco_watermark_sec"), 1L).otherwise(0L))
          .as("n_dropped_at_reco"))
      .withColumn(
        "drop_frac",
        expr("CAST(n_dropped_at_reco AS DOUBLE) / CAST(n_events AS DOUBLE)"))
  }

  /** Histogram-sketch quantile accuracy: p50/p90/p99 estimated from a
    * 256-equal-width-bin histogram (the mergeable one-pass sketch every
    * monitoring system ships) against the exact percentile, with the
    * estimator fully pinned: target rank ⌈q·n⌉, first bin whose
    * cumulative count reaches it, linear interpolation by rank within
    * the bin. Bin assignment and cumulative counts are BIGINT-exact;
    * the estimate/exact/error columns are fixed double expressions
    * shared with the oracle. Histogram size is `bins` regardless of
    * corpus size — that is the sketch's point.
    */
  def histQuantile(events: DataFrame, bins: Int = 256): DataFrame = {
    val base = events.select(expr(Stages.centsSql("value")).as("c"))
    val ext = base.agg(
      min(col("c")).as("mn"), max(col("c")).as("mx"), count(lit(1)).as("n"),
      expr("percentile(c, 0.5)").as("ex50"),
      expr("percentile(c, 0.9)").as("ex90"),
      expr("percentile(c, 0.99)").as("ex99"))
    val binned = base
      .crossJoin(broadcast(ext))
      .select(expr(s"(c - mn) * $bins div (mx - mn + 1)").as("bin"))
      .groupBy(col("bin"))
      .agg(count(lit(1)).as("cnt"))
    val qs = Seq(("p50", "0.5", "ex50"), ("p90", "0.9", "ex90"), ("p99", "0.99", "ex99"))
    def need(q: String) = s"CAST(ceil($q * CAST(n AS DOUBLE)) AS BIGINT)"
    // one pass over the grid picks all three bins; each becomes one row
    val picks = qs.map { case (lbl, q, _) =>
      Relational.rankPick(expr(need(q)), struct(col("bin"), col("cum"), col("cnt"))).as(lbl)
    }
    Relational
      .gridRunningWeight(binned, Nil, "bin", "cnt")
      .groupBy(col("n"))
      .agg(picks.head, picks.tail: _*)
      .crossJoin(broadcast(ext.drop("n")))
      .select(col("n"), col("mn"), col("mx"), explode(array(qs.map { case (lbl, q, exCol) =>
        struct(lit(lbl).as("q"), expr(need(q)).as("need"), col(lbl).as("b"), col(exCol).as("exact_cents"))
      }: _*)).as("p"))
      .select(
        col("p.q").as("q"),
        col("n"),
        expr(s"""CAST(mn AS DOUBLE) +
                 (CAST(p.b.bin AS DOUBLE) +
                  CAST(p.need - (p.b.cum - p.b.cnt) AS DOUBLE) / CAST(p.b.cnt AS DOUBLE)) *
                 (CAST(mx - mn + 1 AS DOUBLE) / ${bins}.0)""").as("est_cents"),
        col("p.exact_cents").as("exact_cents"))
      .withColumn("err_cents", expr("est_cents - exact_cents"))
  }

  /** Ensemble outlier vote per event type: the three standard detectors
    * — 3σ z-score from exact integer moments, Tukey 1.5·IQR fences, and
    * 3·1.4826·MAD — each flag rows over the same compressed
    * (type, floor-dollar) → count distribution ([[graft.engine.Relational.madOutliers]]'s
    * frequency-percentile trick), and the vote tallies how many rows
    * one, two, or all three agree on. Disagreement width is the
    * robustness signal a curation pipeline actually acts on. Three
    * stat passes over the domain-bounded distribution; thresholds are
    * oracle-identical double expressions.
    */
  def outlierEnsemble(events: DataFrame): DataFrame = {
    val dist = events
      .select(col("event_type"), expr(s"${Stages.centsSql("value")} div 100").as("x"))
      .groupBy(col("event_type"), col("x"))
      .agg(count(lit(1)).as("cnt"))
      .cacheT()
    val moments = dist
      .groupBy(col("event_type"))
      .agg(
        sum(col("cnt")).as("n"),
        sum(col("x") * col("cnt")).as("sx"),
        sum(col("x") * col("x") * col("cnt")).as("sxx"))
    val quart = dist
      .groupBy(col("event_type"))
      .agg(
        expr("percentile(x, 0.25, cnt)").as("q1"),
        expr("percentile(x, 0.75, cnt)").as("q3"))
    val med = dist
      .groupBy(col("event_type"))
      .agg(expr("percentile(x, 0.5, cnt)").as("med"))
    val mad = dist
      .join(broadcast(med), Seq("event_type"))
      .groupBy(col("event_type"), col("med"))
      .agg(expr("percentile(abs(x - med), 0.5, cnt)").as("mad"))
    val flagged = dist
      .join(broadcast(moments), Seq("event_type"))
      .join(broadcast(quart), Seq("event_type"))
      .join(broadcast(mad), Seq("event_type"))
      .select(
        col("event_type"), col("cnt"),
        expr("""CASE WHEN abs(CAST(x AS DOUBLE) - CAST(sx AS DOUBLE) / CAST(n AS DOUBLE)) >
                       3.0 * sqrt((CAST(sxx AS DOUBLE) -
                                   CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) / CAST(n AS DOUBLE)) /
                                  nullif(CAST(n - 1 AS DOUBLE), 0.0E0))
                THEN 1 ELSE 0 END""").as("fz"),
        expr("""CASE WHEN CAST(x AS DOUBLE) < q1 - 1.5 * (q3 - q1)
                       OR CAST(x AS DOUBLE) > q3 + 1.5 * (q3 - q1)
                THEN 1 ELSE 0 END""").as("fi"),
        expr("""CASE WHEN abs(CAST(x AS DOUBLE) - med) >
                       3.0 * CAST(1.4826 AS DOUBLE) * mad
                THEN 1 ELSE 0 END""").as("fm"))
    flagged
      .groupBy(col("event_type"))
      .agg(
        sum(col("cnt")).as("n"),
        sum(col("fz") * col("cnt")).as("n_z"),
        sum(col("fi") * col("cnt")).as("n_iqr"),
        sum(col("fm") * col("cnt")).as("n_mad"),
        sum(when(col("fz") + col("fi") + col("fm") >= 1, col("cnt")).otherwise(0L)).as("n_any"),
        sum(when(col("fz") + col("fi") + col("fm") === 3, col("cnt")).otherwise(0L)).as("n_all"))
  }

  /** Event types of the fixture, pinned for the stump's pivoted class
    * columns (mirrored in the oracle).
    */
  private val StumpTypes = Seq("click", "error", "purchase", "signup", "view")

  /** Decision stump: the single best `value ≤ t` split for predicting
    * event_type, by weighted Gini impurity. The corpus compresses to
    * the (floor-dollar → per-class count) grid; per-class cumulative
    * windows give left/right class counts at every candidate threshold,
    * and Gini folds to L − Σc²/L with Σc² a per-row INTEGER sum over
    * the five pivoted class columns (no float accumulation anywhere
    * before the final two divisions, which share text with the
    * oracle). Argmin breaks ties on the smaller threshold. One shuffle
    * to the domain-bounded grid; everything after is grid-sized.
    */
  def decisionStump(events: DataFrame): DataFrame = {
    val counts = StumpTypes.map(t =>
      sum(when(col("event_type") === t, 1L).otherwise(0L)).as(s"c_$t"))
    val grid = events
      .select(expr(s"${Stages.centsSql("value")} div 100").as("x"), col("event_type"))
      .groupBy(col("x"))
      .agg(counts.head, counts.tail: _*)
    val w = Window
      .partitionBy(lit(1))
      .orderBy(col("x"))
      .rowsBetween(Window.unboundedPreceding, 0)
    val cum = grid.select(
      col("x") +: StumpTypes.map(t => sum(col(s"c_$t")).over(w).as(s"l_$t")): _*)
    val tot = grid.agg(
      StumpTypes.map(t => sum(col(s"c_$t")).as(s"n_$t")).head,
      StumpTypes.map(t => sum(col(s"c_$t")).as(s"n_$t")).tail: _*)
    val lSum = StumpTypes.map(t => s"l_$t").mkString(" + ")
    val rSum = StumpTypes.map(t => s"(n_$t - l_$t)").mkString(" + ")
    val lSq = StumpTypes.map(t => s"l_$t * l_$t").mkString(" + ")
    val rSq = StumpTypes.map(t => s"(n_$t - l_$t) * (n_$t - l_$t)").mkString(" + ")
    cum
      .crossJoin(broadcast(tot))
      .select(
        col("x").as("split_dollars"),
        expr(s"$lSum").as("l_rows"),
        expr(s"$rSum").as("r_rows"),
        expr(s"$lSq").as("l_sq"),
        expr(s"$rSq").as("r_sq"))
      .filter(col("l_rows") > 0 && col("r_rows") > 0)
      .select(
        col("split_dollars"), col("l_rows"), col("r_rows"),
        expr("""(CAST(l_rows AS DOUBLE) - CAST(l_sq AS DOUBLE) / CAST(l_rows AS DOUBLE)) +
                (CAST(r_rows AS DOUBLE) - CAST(r_sq AS DOUBLE) / CAST(r_rows AS DOUBLE))""")
          .as("gini_cost"))
      .orderBy(col("gini_cost").asc, col("split_dollars").asc)
      .limit(1)
  }

  /** Cronbach's α over three per-user engagement items (event count,
    * active days, floor-dollar spend) — the metric-reliability readout:
    * α = k/(k−1) · (1 − Σᵢ SSᵢ / SS_total), with every sum-of-squares
    * an UNNORMALIZED population SS from exact integer sufficient
    * statistics (the shared n cancels in the ratio), so the only floats
    * are the final fixed-text expression. One per-user aggregate, one
    * moment aggregate over |users| rows.
    */
  def cronbachAlpha(events: DataFrame): DataFrame = {
    val items = events
      .groupBy(col("user_id"))
      .agg(
        count(lit(1)).as("x1"),
        countDistinct(expr(Stages.epochBucketSql("ts", 86400))).as("x2"),
        expr(s"sum(${Stages.centsSql("value")}) div 100").as("x3"))
      .withColumn("xt", expr("x1 + x2 + x3"))
    items
      .agg(
        count(lit(1)).as("n"),
        sum(col("x1")).as("s1"), sum(col("x1") * col("x1")).as("q1"),
        sum(col("x2")).as("s2"), sum(col("x2") * col("x2")).as("q2"),
        sum(col("x3")).as("s3"), sum(col("x3") * col("x3")).as("q3"),
        sum(col("xt")).as("st"), sum(col("xt") * col("xt")).as("qt"))
      .select(
        col("n"),
        expr("""(3.0 / 2.0) *
                (1.0 - ((CAST(q1 AS DOUBLE) - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE)) +
                        (CAST(q2 AS DOUBLE) - CAST(s2 AS DOUBLE) * CAST(s2 AS DOUBLE) / CAST(n AS DOUBLE)) +
                        (CAST(q3 AS DOUBLE) - CAST(s3 AS DOUBLE) * CAST(s3 AS DOUBLE) / CAST(n AS DOUBLE))) /
                       nullif(CAST(qt AS DOUBLE) - CAST(st AS DOUBLE) * CAST(st AS DOUBLE) / CAST(n AS DOUBLE), 0.0E0))""")
          .as("alpha"))
  }

  /** Discrete-time life table over user lifetimes: per user, duration =
    * whole days between first and last event; users whose last event
    * falls within `censorSec` of the corpus max are right-censored
    * (still observed alive at window end, not churned). Per duration
    * day: users still at risk, churn exits, censored exits, and the
    * discrete hazard d/n_risk — the survival-analysis readout behind
    * retention forecasting. Two map-combined aggregates (per-user, then
    * per-day) plus a running sum over the ≤|days|-row day table (an
    * aggregate-bounded input, the sanctioned unpartitioned-window
    * shape); the integer counts divide once at the end.
    */
  def lifeTable(events: DataFrame, censorSec: Long = 86400L): DataFrame = {
    val perUser = events
      .groupBy(col("user_id"))
      .agg(
        min(expr(Stages.epochBucketSql("ts", 1))).as("first_s"),
        max(expr(Stages.epochBucketSql("ts", 1))).as("last_s"))
    val maxS = events.agg(max(expr(Stages.epochBucketSql("ts", 1))).as("max_s"))
    val byDay = perUser
      .crossJoin(broadcast(maxS))
      .select(
        expr("(last_s - first_s) div 86400").as("dur_day"),
        (col("last_s") >= col("max_s") - lit(censorSec)).as("censored"))
      .groupBy(col("dur_day"))
      .agg(
        sum(when(col("censored"), 0L).otherwise(1L)).as("d_churn"),
        sum(when(col("censored"), 1L).otherwise(0L)).as("c_censored"))
    val before = Window.orderBy(col("dur_day")).rowsBetween(Window.unboundedPreceding, -1)
    byDay
      .withColumn(
        "exited_before",
        coalesce(sum(col("d_churn") + col("c_censored")).over(before), lit(0L)))
      .crossJoin(broadcast(perUser.agg(count(lit(1)).as("n_users"))))
      .withColumn("n_risk", col("n_users") - col("exited_before"))
      .withColumn("hazard", expr("CAST(d_churn AS DOUBLE) / CAST(n_risk AS DOUBLE)"))
      .select(col("dur_day"), col("n_risk"), col("d_churn"), col("c_censored"), col("hazard"))
  }

  /** The lineitem row key the conformal and cross-validation splits hash. */
  private val lineitemRowKeySql = "concat(cast(l_orderkey as string), '_', cast(l_linenumber as string))"

  /** Split-conformal regression interval, self-calibrated end to end:
    * a 60/20/20 md5-hash split of lineitem (train / calibration / test),
    * an OLS price-vs-quantity fit from exact integer sufficient
    * statistics ([[Stages.linregSql]]; y in whole dollars, the same
    * overflow headroom convention as q_linreg), the conformal quantile
    * q̂ = the ⌈0.9·(n_cal+1)⌉-th smallest calibration |residual| taken
    * from a value→count table (an aggregate-bounded running sum, never a
    * row-scale window), and the empirical coverage of ŷ ± q̂ on the held-
    * out test split — the finite-sample ≥90% guarantee, measured. Three
    * map-combined aggregates and single-row broadcast joins; residuals
    * are the shared fixed IEEE tree of [[Stages.residualSql]], so the
    * split, fit, quantile, and coverage are bit-identical on any engine.
    */
  def conformalInterval(lineitem: DataFrame): DataFrame = {
    val bucket = s"${Stages.md5BitsSql(lineitemRowKeySql, "1", 8)} % 10"
    // PINNED: the split projection (an md5 per row) feeds FOUR branches
    // (train stats; cal count, cal residual histogram, test coverage) with
    // different filters, so exchange reuse cannot deduplicate it — and the
    // split assignment is exactly the table an ML pipeline materializes
    // once per corpus snapshot (re-hashing per run is pure re-pay; the
    // md5 bucket is deterministic, so the pin is semantics-neutral).
    // r10 A/B (single-consumer roster, BASELINE.md): demoting both
    // conformal pins to transients costs q_conformal +2.08 s best-of-2
    // for zero board-wide relief — residency measured as the winner.
    val base = Views.pinned(lineitem, "conformalSplit")(
      _.select(
        expr(s"CASE WHEN $bucket < 6 THEN 'train' WHEN $bucket < 8 THEN 'cal' ELSE 'test' END")
          .as("split"),
        expr(Stages.lineitemQtySql).as("x"),
        expr(s"${Stages.centsSql("l_extendedprice")} div 100").as("y")))
    val sums = Stages.bivariateSums(col("x"), col("y"))
    val stats = base
      .filter(col("split") === "train")
      .agg(sums.head, sums.tail: _*)
    // PINNED (not transient): split fractions and the OLS spec are fixed,
    // so the holdout-with-residuals frame is parameter-free per corpus —
    // the second table the conformal deployment materializes alongside
    // the split. Per run only the three bounded aggregates below execute
    // (cal count / residual histogram / test coverage).
    val holdout = Views.pinned(lineitem, "conformalResiduals")(_ =>
      base
        .filter(col("split") =!= "train")
        .crossJoin(broadcast(stats))
        .withColumn("abs_resid", expr(s"CAST(round(abs(${Stages.residualSql})) AS BIGINT)")))
    val calCounts = holdout
      .filter(col("split") === "cal")
      .groupBy(col("abs_resid"))
      .agg(count(lit(1)).as("cnt"))
    val qhat = Relational
      .gridRunningWeight(calCounts, Nil, "abs_resid", "cnt")
      .agg(
        // an empty calibration split has no grid row and counts 0
        coalesce(max(col("n")), lit(0L)).as("n_cal"),
        Relational.rankPick(expr("(9 * (n + 1) + 9) div 10"), col("abs_resid")).as("qhat_dollars"))
    val testAgg = holdout
      .filter(col("split") === "test")
      .crossJoin(broadcast(qhat))
      .agg(
        count(lit(1)).as("n_test"),
        sum(when(col("abs_resid") <= col("qhat_dollars"), 1L).otherwise(0L)).as("n_covered"))
    val fit = stats.select(
      col("n").as("n_train"),
      expr(Stages.linregSql().toMap.apply("slope")).as("slope"),
      expr(Stages.linregSql().toMap.apply("intercept")).as("intercept"))
    fit
      .crossJoin(broadcast(qhat))
      .crossJoin(broadcast(testAgg))
      .withColumn(
        "coverage", expr("CAST(n_covered AS DOUBLE) / CAST(n_test AS DOUBLE)"))
      .select(
        col("n_train"), col("n_cal"), col("n_test"),
        col("slope"), col("intercept"), col("qhat_dollars"), col("coverage"))
  }

  /** Apdex score per event type — the SRE satisfaction index over a
    * latency-like value: satisfied ≤ T, tolerating ≤ 4T, apdex =
    * (satisfied + tolerating/2) / n, computed as the exact rational
    * (2·sat + tol) / (2n) so the only float op is one final division of
    * exact integers. Thresholds compare in integer cents (no float
    * boundary ambiguity); one map-combined aggregate, |event types|
    * rows out.
    */
  def apdex(events: DataFrame, tDollars: Long = 50L): DataFrame = {
    val cents = Stages.centsSql("value")
    events
      .groupBy(col("event_type"))
      .agg(
        count(lit(1)).as("n"),
        sum(when(expr(s"$cents <= ${tDollars * 100}"), 1L).otherwise(0L)).as("n_satisfied"),
        sum(when(
          expr(s"$cents > ${tDollars * 100} AND $cents <= ${4 * tDollars * 100}"),
          1L).otherwise(0L)).as("n_tolerating"))
      .withColumn(
        "apdex",
        expr("CAST(2 * n_satisfied + n_tolerating AS DOUBLE) / CAST(2 * n AS DOUBLE)"))
  }

  /** One-way ANOVA of event value across the five event types, from
    * exact integer sufficient statistics only: per-type count and cents
    * sum plus the global squared-cents sum. Between-group and total sum
    * of squares expand divisions-first ((s/n)·(s/n)·n — never s², which
    * leaves binary64 exactness once sums pass 2^53) and the five
    * per-type terms are written out in fixed alphabetical order, so the
    * whole F statistic and η² are ONE fixed IEEE expression tree over
    * exact integers — bit-identical on any engine, where a float
    * `sum()` over group terms would be partition-order nondeterministic.
    * One map-combined aggregate; Q = Σcents² stays under 2^53 to ~10⁹
    * rows of 4-digit values (past that, quantize to whole dollars).
    */
  def anovaByType(events: DataFrame, types: Seq[String] = AnovaTypes): DataFrame = {
    val cents = Stages.centsSql("value")
    val perType = types.zipWithIndex.flatMap { case (t, i) =>
      Seq(
        sum(when(col("event_type") === t, 1L).otherwise(0L)).as(s"n_$i"),
        sum(when(col("event_type") === t, expr(cents)).otherwise(lit(0L))).as(s"s_$i"))
    }
    val aggs = Seq(
      count(lit(1)).as("n"),
      sum(expr(cents)).as("s"),
      sum(expr(s"$cents * $cents")).as("q")) ++ perType
    val ssb = anovaSsbSql(types.length)
    val sst = anovaSstSql
    val k = types.length
    events
      // grand moments over the SAME population as the strata: without
      // the filter, a caller passing a subset of types gets n/s/q over
      // all events but SSB over the subset only — SSB can go negative
      // and F/η² are meaningless (no-op for the default full type list)
      .filter(col("event_type").isin(types: _*))
      .agg(aggs.head, aggs.tail: _*)
      .withColumn("ssb", expr(ssb))
      .withColumn("sst", expr(sst))
      .select(
        col("n"), lit(k.toLong).as("k"),
        col("ssb"), (col("sst") - col("ssb")).as("ssw"),
        expr(s"(ssb / ${k - 1}.0) / nullif((sst - ssb) / nullif(CAST(n - $k AS DOUBLE), 0.0E0), 0.0E0)").as("f_stat"),
        expr("ssb / nullif(sst, 0.0E0)").as("eta2"))
  }

  /** The fixed stratum order [[anovaByType]] writes its expression in —
    * alphabetical, matching the oracle text position for position.
    */
  val AnovaTypes: Seq[String] = Seq("click", "error", "purchase", "signup", "view")

  /** Between-group sum-of-squares text over per-stratum integer columns
    * `n_i, s_i` plus global `n, s` — shared verbatim with the oracle.
    */
  def anovaSsbSql(k: Int): String =
    // an EMPTY stratum contributes zero between-group mass (its n·mean²
    // term is vacuous), so the guard is a 0-yielding CASE, not nullif —
    // nullif would poison the whole SSB over one absent type; the bare
    // s/n was an ANSI 0/0 throw (r10 degenerate probe). The grand term
    // keeps nullif: n = 0 means no population at all.
    (0 until k)
      .map(i => s"(CASE WHEN n_$i > 0 THEN (CAST(s_$i AS DOUBLE) / CAST(n_$i AS DOUBLE)) * " +
        s"(CAST(s_$i AS DOUBLE) / CAST(n_$i AS DOUBLE)) * CAST(n_$i AS DOUBLE) ELSE 0.0E0 END)")
      .mkString("(", " + ", ")") +
      " - (CAST(s AS DOUBLE) / nullif(CAST(n AS DOUBLE), 0.0E0)) * (CAST(s AS DOUBLE) / nullif(CAST(n AS DOUBLE), 0.0E0)) * CAST(n AS DOUBLE)"

  /** Total sum-of-squares text over global `n, s, q` — shared verbatim
    * with the oracle.
    */
  val anovaSstSql: String =
    "CAST(q AS DOUBLE) - (CAST(s AS DOUBLE) / CAST(n AS DOUBLE)) * " +
      "(CAST(s AS DOUBLE) / CAST(n AS DOUBLE)) * CAST(n AS DOUBLE)"

  /** Welch's unequal-variance t-test between two event types' values,
    * from exact integer moments (n, Σcents, Σcents² per side): sample
    * variance expands divisions-first ((q − (s/n)·s)/(n−1)), the t
    * statistic and Welch–Satterthwaite degrees of freedom are fixed IEEE
    * trees over those exact integers, and sqrt is correctly rounded — so
    * the result is bit-identical on any engine (the ln-based p-value is
    * exactly what this library never emits; t and df are the portable
    * part). One map-combined aggregate, one output row.
    */
  def welchTTest(events: DataFrame, typeA: String = "purchase", typeB: String = "view"): DataFrame = {
    val aggs = twoSampleMomentAggs(typeA, typeB)
    events
      .agg(aggs.head, aggs.tail: _*)
      .select(
        col("n1"), col("n2"),
        expr("(CAST(s1 AS DOUBLE) / nullif(CAST(n1 AS DOUBLE), 0.0E0)) / 100.0").as("mean1"),
        expr("(CAST(s2 AS DOUBLE) / nullif(CAST(n2 AS DOUBLE), 0.0E0)) / 100.0").as("mean2"),
        expr(welchTSql).as("t_stat"),
        expr(welchDfSql).as("df"))
  }

  /** Welch sample-variance fragment over `n<sfx>, s<sfx>, q<sfx>`.
    * Denominators ride `nullif`: a side with n < 2 has no sample
    * variance — NULL, not an ANSI DIVIDE_BY_ZERO (Spark ANSI throws on
    * DOUBLE/0 where DuckDB emits ±inf; the shared guard is the
    * cross-engine alignment — r10 degenerate probe).
    */
  private[engine] def welchVarSql(sfx: String): String =
    s"(${Stages.sampleCmomSql(s"q$sfx", s"s$sfx", s"s$sfx", s"n$sfx", nonZero = true)})"

  private def welchSe2Sql: String =
    s"(${welchVarSql("1")} / CAST(n1 AS DOUBLE) + ${welchVarSql("2")} / CAST(n2 AS DOUBLE))"

  /** The six two-sample integer moments (n, Σcents, Σcents² per side,
    * suffixes 1/2) every two-sample test reads — ONE spelling shared by
    * [[welchTTest]], [[graft.engine.Inference.cohensD]] and
    * [[graft.engine.Inference.tost]], so a change to the cents
    * expression or null handling cannot silently diverge between tests.
    */
  private[engine] def twoSampleMomentAggs(typeA: String, typeB: String): Seq[Column] = {
    val cents = Stages.centsSql("value")
    def side(t: String, sfx: String) = Seq(
      sum(when(col("event_type") === t, 1L).otherwise(0L)).as(s"n$sfx"),
      sum(when(col("event_type") === t, expr(cents)).otherwise(lit(0L))).as(s"s$sfx"),
      sum(when(col("event_type") === t, expr(s"$cents * $cents")).otherwise(lit(0L))).as(s"q$sfx"))
    side(typeA, "1") ++ side(typeB, "2")
  }

  /** Welch t text over the six integer moment columns — shared verbatim
    * with the oracle.
    */
  def welchTSql: String =
    s"""(CAST(s1 AS DOUBLE) / nullif(CAST(n1 AS DOUBLE), 0.0E0) - CAST(s2 AS DOUBLE) / nullif(CAST(n2 AS DOUBLE), 0.0E0))
              / nullif(sqrt($welchSe2Sql), 0.0E0)"""

  /** Welch–Satterthwaite df text — shared verbatim with the oracle. */
  def welchDfSql: String =
    s"""($welchSe2Sql * $welchSe2Sql) /
              nullif((${welchVarSql("1")} / CAST(n1 AS DOUBLE)) * (${welchVarSql("1")} / CAST(n1 AS DOUBLE)) / nullif(CAST(n1 - 1 AS DOUBLE), 0.0E0)
               + (${welchVarSql("2")} / CAST(n2 AS DOUBLE)) * (${welchVarSql("2")} / CAST(n2 AS DOUBLE)) / nullif(CAST(n2 - 1 AS DOUBLE), 0.0E0), 0.0E0)"""

  /** Cumulative Poisson(1) inverse-CDF thresholds on the 32-bit md5
    * bucket scale — floor(CDF(k)·2³²) for k = 0..4, multiplicities past
    * 5 collapse into 5 (P ≈ 0.04%). The SAME literals are interpolated
    * into the oracle text, so resampling is reproducible anywhere.
    */
  val PoissonThresholds: Seq[Long] = {
    val e1 = math.exp(-1.0)
    val fact = Seq(1.0, 1.0, 2.0, 6.0, 24.0)
    val cdf = fact.indices.map(k => (0 to k).map(j => e1 / fact(j)).sum)
    cdf.map(c => math.floor(c * 4294967296.0).toLong)
  }

  /** The Poisson(1) multiplicity of a row whose 32-bit hash is the SQL text
    * `h` (engine and oracle pass their own dialect's): the first k with `h`
    * under [[PoissonThresholds]](k), else 5. */
  def poissonMultiplierSql(h: String): String =
    PoissonThresholds.zipWithIndex
      .map { case (t, k) => s"WHEN $h < $t THEN $k" }
      .mkString("CASE ", " ", s" ELSE ${PoissonThresholds.length} END")

  /** Both Poisson bootstraps' hash of a row's (event_id, resample r). */
  private val resampleHashSql =
    Stages.md5BitsSql("concat(cast(event_id as string), '_', cast(r as string))", "1", 8)

  /** Distributed (Poisson) bootstrap of the mean event value: resample
    * `b` draws each row with multiplicity m ~ Poisson(1), decided by a
    * deterministic md5 hash of (event_id, resample) against the
    * [[PoissonThresholds]] — the bootstrap that needs NO global n and no
    * row materialization, which is why it is the only bootstrap that
    * runs at 100 TB (each row contributes m·x to a partial sum,
    * map-side). `numResamples` output rows of exact integer (n_eff,
    * Σm·cents) with one final division; the spread across rows IS the
    * bootstrap standard error of the mean.
    */
  def poissonBootstrap(events: DataFrame, numResamples: Int = 20): DataFrame = {
    val mult = poissonMultiplierSql(resampleHashSql)
    events
      .select(col("event_id"), expr(Stages.centsSql("value")).as("cents"))
      .withColumn("r", explode(expr(s"sequence(0, ${numResamples - 1})")))
      .withColumn("m", expr(mult))
      .groupBy(col("r").cast("long").as("resample"))
      .agg(sum(col("m")).as("n_eff"), sum(col("m") * col("cents")).as("s_cents"))
      .withColumn(
        "mean_dollars",
        expr("CASE WHEN n_eff = 0 THEN NULL ELSE " +
          "(CAST(s_cents AS DOUBLE) / CAST(n_eff AS DOUBLE)) / 100.0 END"))
      .select(col("resample"), col("n_eff"), col("s_cents"), col("mean_dollars"))
  }

  /** Paired pre/post shift test: per user, mean event value in the first
    * half of the month (day ≤ 15) vs the second, the difference
    * quantized to whole cents (the per-user means are fixed IEEE
    * divisions of exact integers, so the rounded difference is
    * bit-identical anywhere — and once integer, the cross-user moment
    * sums are order-free). Over users active in BOTH halves: n, mean
    * shift in dollars, and the paired t statistic from the quantized
    * moments — the within-subject design that removes between-user
    * variance a two-sample test would drown in. Two map-combined
    * aggregates, one self-join at user grain, one output row.
    */
  def pairedShift(events: DataFrame): DataFrame = {
    val cents = Stages.centsSql("value")
    val halves = events
      .groupBy(col("user_id"), (dayofmonth(col("ts")) <= 15).as("first_half"))
      .agg(count(lit(1)).as("n"), sum(expr(cents)).as("s"))
    val a = halves.filter(col("first_half"))
      .select(col("user_id"), col("n").as("n1"), col("s").as("s1"))
    val b = halves.filter(!col("first_half"))
      .select(col("user_id"), col("n").as("n2"), col("s").as("s2"))
    val d = a.join(b, Seq("user_id"))
      .select(
        expr("CAST(round(CAST(s2 AS DOUBLE) / CAST(n2 AS DOUBLE) - " +
          "CAST(s1 AS DOUBLE) / CAST(n1 AS DOUBLE)) AS BIGINT)").as("d"))
    d.agg(
        count(lit(1)).as("n"),
        sum(col("d")).as("s"),
        sum(col("d") * col("d")).as("q"))
      .select(
        col("n").as("n_users"),
        expr("(CAST(s AS DOUBLE) / CAST(n AS DOUBLE)) / 100.0").as("mean_shift_dollars"),
        expr(
          s"""CASE WHEN n < 2 OR $pairedShiftVarSql <= 0 THEN NULL
              ELSE (CAST(s AS DOUBLE) / CAST(n AS DOUBLE)) / nullif(sqrt($pairedShiftVarSql / CAST(n AS DOUBLE)), 0.0E0) END""")
          .as("t_stat"))
  }

  /** Sample variance of the per-user shifts over (n, s, q) — shared
    * verbatim with the oracle; its CASE tests n < 2 before dividing.
    */
  def pairedShiftVarSql: String = s"(${Stages.centredSumSql("q", "s", "s")} / CAST(n - 1 AS DOUBLE))"

  /** Effective sample size and design effect of a weighted sample
    * (weights = order quantities), per return flag: ESS = (Σw)²/Σw²
    * and deff = n/ESS — how many equal-weight rows the weighted rows are
    * actually worth, the first thing to check before trusting a
    * weighted estimate. Both expand divisions-first ((Σw/Σw²)·Σw — the
    * squared sums themselves would leave binary64 exactness at corpus
    * scale). One map-combined aggregate, |flags| rows.
    */
  def effectiveSampleSize(lineitem: DataFrame): DataFrame =
    lineitem
      .select(col("l_returnflag"), expr(Stages.lineitemQtySql).as("w"))
      .groupBy(col("l_returnflag"))
      .agg(
        count(lit(1)).as("n"),
        sum(col("w")).as("sum_w"),
        sum(col("w") * col("w")).as("sum_w2"))
      // nullif: all-zero (or sign-cancelled) weights zero either sum —
      // NULL in DuckDB's bare division, ANSI throw in Spark (extreme-
      // fixture sweep, r10).
      .withColumn(
        "ess",
        expr("(CAST(sum_w AS DOUBLE) / nullif(CAST(sum_w2 AS DOUBLE), 0.0)) * CAST(sum_w AS DOUBLE)"))
      .withColumn(
        "deff",
        expr("(CAST(n AS DOUBLE) * (CAST(sum_w2 AS DOUBLE) / nullif(CAST(sum_w AS DOUBLE), 0.0))) / nullif(CAST(sum_w AS DOUBLE), 0.0)"))

  /** Absorption probabilities of the event-type Markov chain: with
    * 'purchase' and 'error' as absorbing states, the probability that a
    * walk starting from each transient state (click / signup / view)
    * reaches purchase first. The transition matrix is the same
    * ppm-quantized bigram table as [[markovStationary]]; the 3×3 linear
    * system (10⁶·I − Q_ppm)·x = b_ppm is solved in closed form by
    * Cramer's rule over [[Stages.det3Sql]] — the [[ridgeRegression]]
    * convention, four fixed IEEE determinant trees over exact integers
    * shared textually with the oracle. One corpus pass for the bigram
    * counts; everything after is a 12-cell pivot on one row.
    */
  def absorptionProbabilities(events: DataFrame): DataFrame = {
    val trans = Seq("click", "signup", "view")
    val pairs = events
      .select(
        col("event_type").as("curr"),
        lag(col("event_type"), 1).over(userOrder).as("prev"))
      .filter(col("prev").isNotNull)
      .groupBy(col("prev"), col("curr"))
      .agg(count(lit(1)).as("cnt"))
    val rows = pairs.groupBy(col("prev")).agg(sum(col("cnt")).as("tot"))
    val det = Stages.det3Sql("a", "b", "c", "d", "e", "f", "g", "h", "i")
    val d1 = Stages.det3Sql("r1", "b", "c", "r2", "e", "f", "r3", "h", "i")
    val d2 = Stages.det3Sql("a", "r1", "c", "d", "r2", "f", "g", "r3", "i")
    val d3 = Stages.det3Sql("a", "b", "r1", "d", "e", "r2", "g", "h", "r3")
    val withCnt = pairs.join(broadcast(rows), Seq("prev"))
      .select(col("prev"), col("curr"), col("cnt"),
        expr("CAST(round(1000000.0 * CAST(cnt AS DOUBLE) / CAST(tot AS DOUBLE)) AS BIGINT)")
          .as("p_ppm"))
    withCnt
      .agg(
        sum(col("cnt")).as("n_transitions"),
        (for { i <- trans; j <- trans } yield
          sum(when(col("prev") === i && col("curr") === j, col("p_ppm")).otherwise(0L))
            .as(s"q_${i}_$j")) ++
          trans.map(i =>
            sum(when(col("prev") === i && col("curr") === "purchase", col("p_ppm")).otherwise(0L))
              .as(s"b_$i")): _*)
      .select(
        col("n_transitions"),
        expr("CAST(1000000 - q_click_click AS DOUBLE)").as("a"),
        expr("CAST(0 - q_click_signup AS DOUBLE)").as("b"),
        expr("CAST(0 - q_click_view AS DOUBLE)").as("c"),
        expr("CAST(0 - q_signup_click AS DOUBLE)").as("d"),
        expr("CAST(1000000 - q_signup_signup AS DOUBLE)").as("e"),
        expr("CAST(0 - q_signup_view AS DOUBLE)").as("f"),
        expr("CAST(0 - q_view_click AS DOUBLE)").as("g"),
        expr("CAST(0 - q_view_signup AS DOUBLE)").as("h"),
        expr("CAST(1000000 - q_view_view AS DOUBLE)").as("i"),
        expr("CAST(b_click AS DOUBLE)").as("r1"),
        expr("CAST(b_signup AS DOUBLE)").as("r2"),
        expr("CAST(b_view AS DOUBLE)").as("r3"))
      .select(
        col("n_transitions"),
        expr(s"$d1 / nullif($det, 0.0E0)").as("p_click"),
        expr(s"$d2 / nullif($det, 0.0E0)").as("p_signup"),
        expr(s"$d3 / nullif($det, 0.0E0)").as("p_view"))
  }

  /** Nearest-neighbor matching estimator (ATT) for the effect of being
    * error-prone: treated users (error share ≥ 25% of their events — an
    * integer cross-multiplication, no float boundary) each match the
    * control user with the closest first-half spend, and the average
    * treated-minus-matched second-half spend difference estimates the
    * effect with the spend confounder matched away. The 1-D
    * nearest-neighbor is two IGNORE-NULLS window passes (previous /
    * closer-of-next control by (x, user_id) order — the LOCF shape, no
    * pair join); per-user covariates are one map-combined aggregate, and
    * the matched differences are exact integer cents (order-free sum,
    * one final division). The window runs at user grain over an
    * aggregate — at corpus scale it range-partitions on x like any
    * global sort.
    */
  def nnMatchAtt(events: DataFrame): DataFrame = {
    val cents = Stages.centsSql("value")
    val users = events
      .groupBy(col("user_id"))
      .agg(
        sum(when(dayofmonth(col("ts")) <= 15, expr(cents)).otherwise(lit(0L))).as("x"),
        sum(when(dayofmonth(col("ts")) > 15, expr(cents)).otherwise(lit(0L))).as("y"),
        when(
          lit(100L) * sum(when(col("event_type") === "error", 1L).otherwise(0L)) >=
            lit(25L) * count(lit(1)),
          1L).otherwise(0L).as("treated"))
    val ord = Window.orderBy(col("x").asc, col("user_id").asc)
    val prevF = ord.rowsBetween(Window.unboundedPreceding, -1)
    // "Nearest control strictly AFTER" via a growing frame over the
    // exact reverse order — first(...).over(rowsBetween(1, ∞)) is a
    // shrinking frame Spark recomputes from scratch per row, O(|users|²)
    // at corpus scale (same fix and rationale as [[gapInterpolate]]).
    val nextF = Window.orderBy(col("x").desc, col("user_id").desc)
      .rowsBetween(Window.unboundedPreceding, -1)
    val ctrl = when(col("treated") === 0L, col("x"))
    val ctry = when(col("treated") === 0L, col("y"))
    val matched = users
      .withColumn("px", last(ctrl, ignoreNulls = true).over(prevF))
      .withColumn("py", last(ctry, ignoreNulls = true).over(prevF))
      .withColumn("nx", last(ctrl, ignoreNulls = true).over(nextF))
      .withColumn("ny", last(ctry, ignoreNulls = true).over(nextF))
      .filter(col("treated") === 1L)
      .withColumn(
        "cy",
        when(col("px").isNull, col("ny"))
          .when(col("nx").isNull, col("py"))
          .when(col("x") - col("px") <= col("nx") - col("x"), col("py"))
          .otherwise(col("ny")))
      .filter(col("cy").isNotNull)
    matched
      .agg(
        count(lit(1)).as("n_treated"),
        sum(col("y") - col("cy")).as("s_diff"))
      .crossJoin(broadcast(
        users.agg(sum(when(col("treated") === 0L, 1L).otherwise(0L)).as("n_controls"))))
      .select(
        col("n_treated"), col("n_controls"),
        expr("(CAST(s_diff AS DOUBLE) / CAST(n_treated AS DOUBLE)) / 100.0")
          .as("att_dollars"))
  }

  /** Held-out evaluation of the bigram next-event predictor: transition
    * counts from the first half of the month (split on the CURRENT
    * event's day) train an argmax table (count desc, event-type asc on
    * ties — a deterministic total order), and accuracy is measured on
    * the second-half transitions. Per previous-state rows: n_eval, hits,
    * accuracy — integer counts, one division. The train/test loop of a
    * sequence model collapsed to two map-combined aggregates, a 25-row
    * rank, and one broadcast join back to the eval pairs.
    */
  def bigramEval(events: DataFrame): DataFrame = {
    val pairs = events
      .select(
        col("event_type").as("curr"),
        lag(col("event_type"), 1).over(userOrder).as("prev"),
        (dayofmonth(col("ts")) <= 15).as("is_train"))
      .filter(col("prev").isNotNull)
    val trainCounts = pairs
      .filter(col("is_train"))
      .groupBy(col("prev"), col("curr"))
      .agg(count(lit(1)).as("cnt"))
    val pred = Relational
      .topKPerGroup(trainCounts, 1, Seq(col("prev")), col("cnt").desc, col("curr").asc)
      .select(col("prev"), col("curr").as("pred"))
    pairs
      .filter(!col("is_train"))
      .join(broadcast(pred), Seq("prev"), "left")
      .groupBy(col("prev").as("event_type"))
      .agg(
        first(col("pred")).as("pred"),
        count(lit(1)).as("n_eval"),
        sum(when(col("curr") === col("pred"), 1L).otherwise(0L)).as("n_hit"))
      .withColumn(
        "accuracy", expr("CAST(n_hit AS DOUBLE) / CAST(n_eval AS DOUBLE)"))
  }

  /** Partial correlation of event value with hour-of-day, controlling
    * for weekday: r_xy·z = (r_xy − r_xz·r_yz)/√((1−r_xz²)(1−r_yz²)),
    * each pairwise r the divisions-first closed form over one pass of
    * exact integer moments (the [[ridgeRegression]] design triple:
    * y = cents, x = hour, z = portable Monday-1 weekday). The
    * seasonality question "does the hour effect survive the weekday
    * confound" answered with zero float accumulation — one map-combined
    * aggregate, one fixed IEEE tree, one row.
    */
  def partialCorrelation(events: DataFrame): DataFrame = {
    val base = events.select(
      expr("CAST(hour(ts) AS BIGINT)").as("x"),
      expr(s"(${Stages.epochBucketSql("ts", 86400)} + 3) % 7 + 1").as("z"),
      expr(Stages.centsSql("value")).as("y"))
    val (rxy, rxz, ryz) =
      (pairwiseCorrSql("x", "y"), pairwiseCorrSql("x", "z"), pairwiseCorrSql("y", "z"))
    base
      .agg(
        count(lit(1)).as("n"),
        sum(col("x")).as("s_x"), sum(col("y")).as("s_y"), sum(col("z")).as("s_z"),
        sum(col("x") * col("x")).as("s_xx"), sum(col("y") * col("y")).as("s_yy"),
        sum(col("z") * col("z")).as("s_zz"),
        sum(col("x") * col("y")).as("s_xy"), sum(col("x") * col("z")).as("s_xz"),
        sum(col("y") * col("z")).as("s_yz"))
      .select(
        col("n"),
        expr(rxy).as("r_xy"),
        expr(rxz).as("r_xz"),
        expr(ryz).as("r_yz"),
        expr(s"($rxy - $rxz * $ryz) / nullif(sqrt((1 - $rxz * $rxz) * (1 - $ryz * $ryz)), 0.0E0)")
          .as("r_xy_given_z"))
  }

  /** Pairwise divisions-first correlation text over the moment columns
    * `n, s_<a>, s_<b>, s_<a><b>, s_<a><a>, s_<b><b>` — shared verbatim
    * with the oracle (note s_ab means Σa·b; the a<b naming order of the
    * caller's aggregate must match).
    */
  def pairwiseCorrSql(a: String, b: String): String = {
    val n = Stages.divisorSql(nonZero = false)
    val varA = cmomSql(s"s_$a$a", s"s_$a", s"s_$a", n)
    val varB = cmomSql(s"s_$b$b", s"s_$b", s"s_$b", n)
    val cov = cmomSql(s"s_$a$b", s"s_$a", s"s_$b", n)
    s"($cov / nullif(sqrt($varA * $varB), 0.0E0))"
  }

  /** Intraclass correlation ICC(1) of event value within users — how
    * much of the spend variance is BETWEEN users (the clustering that
    * decides whether you can treat events as independent or must
    * cluster-correct): (MSB − MSW)/(MSB + (k̄−1)·MSW) with the unequal-
    * size k̄ correction. The between-group sum Σ(s_g/n_g)²·n_g crosses
    * groups, so each per-user term — a fixed IEEE tree over that user's
    * exact integers — is quantized to centi-cents² and the cross-user
    * sums run as order-free BIGINTs; everything after is one closed
    * form. Two map-combined aggregates, one row.
    */
  def intraclassCorrelation(events: DataFrame): DataFrame = {
    val cents = Stages.centsSql("value")
    val perUser = events
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("ng"), sum(expr(cents)).as("sg"), sum(expr(s"$cents * $cents")).as("qg"))
    perUser
      .agg(
        count(lit(1)).as("k"),
        sum(col("ng")).as("n"),
        sum(col("ng") * col("ng")).as("n2"),
        sum(col("sg")).as("s"),
        sum(col("qg")).as("q"),
        sum(expr(
          """CAST(round((CAST(sg AS DOUBLE) / CAST(ng AS DOUBLE))
              * (CAST(sg AS DOUBLE) / CAST(ng AS DOUBLE)) * CAST(ng AS DOUBLE) / 100.0) AS BIGINT)"""))
          .as("ssb_centi"))
      .select(
        col("k"), col("n"),
        expr("""(CAST(ssb_centi AS DOUBLE) * 100.0
                - (CAST(s AS DOUBLE) / CAST(n AS DOUBLE)) * CAST(s AS DOUBLE))""").as("ssb"),
        expr("""(CAST(q AS DOUBLE) - CAST(ssb_centi AS DOUBLE) * 100.0)""").as("ssw"),
        expr("""(CAST(n AS DOUBLE) - CAST(n2 AS DOUBLE) / CAST(n AS DOUBLE))
                / nullif(CAST(k - 1 AS DOUBLE), 0.0E0)""").as("k_bar"))
      .select(
        col("k"), col("n"),
        expr("ssb / nullif(CAST(k - 1 AS DOUBLE), 0.0E0)").as("msb"),
        expr("ssw / nullif(CAST(n - k AS DOUBLE), 0.0E0)").as("msw"),
        col("k_bar"))
      .select(
        col("k"), col("n"), col("msb"), col("msw"), col("k_bar"),
        expr("(msb - msw) / nullif(msb + (k_bar - 1) * msw, 0.0E0)").as("icc1"))
  }

  /** 5-fold cross-validated OLS by sufficient-statistic subtraction:
    * per-fold integer moments come from ONE corpus pass, each fold's
    * TRAINING stats are global − fold (mergeable aggregates run
    * backwards — no second scan, the identity that makes CV free at
    * 100 TB), the fit is [[Stages.linregSql]]'s fixed tree, and the
    * held-out MSE quantizes each squared residual to whole dollars² so
    * the per-fold error sums are order-free BIGINTs. Per fold: train/
    * test sizes, coefficients, test MSE.
    */
  def crossValidatedLinreg(lineitem: DataFrame): DataFrame = {
    val bucket = s"${Stages.md5BitsSql(lineitemRowKeySql, "1", 8)} % 5"
    // cache: the fold projection (an md5 per row) feeds both the moment
    // aggregation and the residual probe — uncached the corpus is hashed
    // twice
    val base = lineitem.select(
      expr(bucket).as("fold"),
      expr(Stages.lineitemQtySql).as("x"),
      expr(s"${Stages.centsSql("l_extendedprice")} div 100").as("y"))
      .cacheT()
    val perFold = base
      .groupBy(col("fold"))
      .agg(
        count(lit(1)).as("fn"),
        sum(col("x")).as("fsx"), sum(col("y")).as("fsy"),
        sum(col("x") * col("y")).as("fsxy"),
        sum(col("x") * col("x")).as("fsxx"),
        sum(col("y") * col("y")).as("fsyy"))
    val global = perFold.agg(
      sum(col("fn")).as("gn"), sum(col("fsx")).as("gsx"), sum(col("fsy")).as("gsy"),
      sum(col("fsxy")).as("gsxy"), sum(col("fsxx")).as("gsxx"), sum(col("fsyy")).as("gsyy"))
    val train = perFold
      .crossJoin(broadcast(global))
      .select(
        col("fold"), col("fn").as("n_test"),
        (col("gn") - col("fn")).as("n"),
        (col("gsx") - col("fsx")).as("sx"), (col("gsy") - col("fsy")).as("sy"),
        (col("gsxy") - col("fsxy")).as("sxy"), (col("gsxx") - col("fsxx")).as("sxx"),
        (col("gsyy") - col("fsyy")).as("syy"))
    val linreg = Stages.linregSql().toMap
    base
      .join(broadcast(train), Seq("fold"))
      .withColumn("r2q", expr(s"CAST(round(${Stages.residualSql} * ${Stages.residualSql}) AS BIGINT)"))
      .groupBy(col("fold"))
      .agg(
        max(col("n")).as("n_train"),
        max(col("n_test")).as("n_test2"),
        max(col("sx")).as("sx"), max(col("sy")).as("sy"), max(col("sxy")).as("sxy"),
        max(col("sxx")).as("sxx"), max(col("syy")).as("syy"),
        sum(col("r2q")).as("sr2"))
      .withColumn("n", col("n_train"))
      .select(
        col("fold"), col("n_train"), col("n_test2").as("n_test"),
        expr(linreg("slope")).as("slope"),
        expr(linreg("intercept")).as("intercept"),
        expr("CAST(sr2 AS DOUBLE) / nullif(CAST(n_test2 AS DOUBLE), 0.0E0)").as("test_mse"))
  }

  /** Sequence predictability per state, log-free: for each previous
    * event type, the collision probability Σc²/n² of its next-event
    * distribution (the Gini–Simpson complement — Σc² is ONE exact
    * BIGINT, so unlike entropy there is no cross-category float sum to
    * order) and the effective branching factor n²/Σc² — how many
    * equally-likely successors the state behaves as having. One
    * map-combined bigram count, |types| rows.
    */
  def sequencePredictability(events: DataFrame): DataFrame =
    events
      .select(
        col("event_type").as("curr"),
        lag(col("event_type"), 1).over(userOrder).as("prev"))
      .filter(col("prev").isNotNull)
      .groupBy(col("prev"), col("curr"))
      .agg(count(lit(1)).as("c"))
      .groupBy(col("prev"))
      .agg(count(lit(1)).as("n_successors"), sum(col("c")).as("n"), sum(col("c") * col("c")).as("s2"))
      .select(
        col("prev").as("event_type"), col("n_successors"), col("n"),
        expr("CAST(s2 AS DOUBLE) / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE))").as("collision_prob"),
        expr("(CAST(n AS DOUBLE) * CAST(n AS DOUBLE)) / CAST(s2 AS DOUBLE)").as("eff_branching"))

  /** A user's A/B arm, 0 or 1: the parity of the user's md5 hash. */
  val userArmSql: String = s"${Stages.md5BitsSql("cast(user_id as string)", "1", 8)} % 2"

  /** Power analysis from the observed A/B rates: the per-arm sample
    * size that would detect the purchase-rate difference between the
    * two md5-hash arms at α = 0.05 / power = 0.80 —
    * n = (z_α/2+z_β)²·(p₁q₁+p₂q₂)/Δ², with 1.96 and 0.8416 as pinned
    * literals (the one place a normal quantile enters, as a constant,
    * not a computed `ln`). Rates are divisions of exact integers, the
    * whole formula one fixed IEEE tree; NULL when the observed Δ is
    * zero. The experiment-design readout that pairs with the q_abtest
    * z-score.
    */
  def abPowerAnalysis(events: DataFrame): DataFrame = {
    val p1 = "(CAST(c1 AS DOUBLE) / nullif(CAST(n1 AS DOUBLE), 0.0E0))"
    val p2 = "(CAST(c2 AS DOUBLE) / nullif(CAST(n2 AS DOUBLE), 0.0E0))"
    events
      .groupBy(col("user_id"))
      .agg(max(when(col("event_type") === "purchase", 1L).otherwise(0L)).as("converted"))
      .select(col("converted"), expr(userArmSql).as("arm"))
      .agg(
        sum(when(col("arm") === 0, 1L).otherwise(0L)).as("n1"),
        sum(when(col("arm") === 0, col("converted")).otherwise(lit(0L))).as("c1"),
        sum(when(col("arm") === 1, 1L).otherwise(0L)).as("n2"),
        sum(when(col("arm") === 1, col("converted")).otherwise(lit(0L))).as("c2"))
      .select(
        col("n1"), col("c1"), col("n2"), col("c2"),
        expr(p1).as("rate1"),
        expr(p2).as("rate2"),
        expr(
          s"""CASE WHEN $p1 = $p2 THEN NULL ELSE
              (1.96 + 0.8416) * (1.96 + 0.8416)
              * ($p1 * (1 - $p1) + $p2 * (1 - $p2))
              / nullif(($p1 - $p2) * ($p1 - $p2), 0.0E0) END""").as("n_per_arm"))
  }

  /** Log-rank test comparing churn timing between error-prone users
    * (error share ≥ 25%, the [[nnMatchAtt]] treatment) and the rest:
    * per churn day, observed-minus-expected group-A churns and the
    * hypergeometric variance, each a fixed IEEE tree over that day's
    * exact at-risk/churn integers, QUANTIZED to micro so the cross-day
    * sums run as order-free BIGINTs; χ² = (ΣO−E)²/ΣV divides once at
    * the end. The day table is the [[lifeTable]] aggregate (≤|days|
    * rows), so nothing user-scale ever enters a window.
    */
  def logRankTest(events: DataFrame, censorSec: Long = 86400L): DataFrame = {
    val perUser = events
      .groupBy(col("user_id"))
      .agg(
        min(expr(Stages.epochBucketSql("ts", 1))).as("first_s"),
        max(expr(Stages.epochBucketSql("ts", 1))).as("last_s"),
        when(
          lit(100L) * sum(when(col("event_type") === "error", 1L).otherwise(0L)) >=
            lit(25L) * count(lit(1)),
          1L).otherwise(0L).as("grp_a"))
    val maxS = events.agg(max(expr(Stages.epochBucketSql("ts", 1))).as("max_s"))
    val u = perUser
      .crossJoin(broadcast(maxS))
      .select(
        expr("(last_s - first_s) div 86400").as("dur_day"),
        (col("last_s") >= col("max_s") - lit(censorSec)).as("censored"),
        col("grp_a"))
    val totals = u.agg(
      sum(col("grp_a")).as("na"),
      sum(lit(1L) - col("grp_a")).as("nb"))
    val byDay = u
      .groupBy(col("dur_day"))
      .agg(
        sum(when(!col("censored") && col("grp_a") === 1L, 1L).otherwise(0L)).as("da"),
        sum(when(!col("censored") && col("grp_a") === 0L, 1L).otherwise(0L)).as("db"),
        sum(when(col("grp_a") === 1L, 1L).otherwise(0L)).as("xa"),
        sum(when(col("grp_a") === 0L, 1L).otherwise(0L)).as("xb"))
    val before = Window.orderBy(col("dur_day")).rowsBetween(Window.unboundedPreceding, -1)
    val terms = byDay
      .withColumn("exa", coalesce(sum(col("xa")).over(before), lit(0L)))
      .withColumn("exb", coalesce(sum(col("xb")).over(before), lit(0L)))
      .crossJoin(broadcast(totals))
      .withColumn("n1", col("na") - col("exa"))
      .withColumn("n2", col("nb") - col("exb"))
      .filter(col("da") + col("db") > 0 && col("n1") + col("n2") > 1)
      .withColumn(
        "oe_micro",
        expr("""CAST(round((CAST(da AS DOUBLE)
                 - CAST(da + db AS DOUBLE) * CAST(n1 AS DOUBLE) / CAST(n1 + n2 AS DOUBLE)) * 1000000.0) AS BIGINT)"""))
      .withColumn(
        "v_micro",
        expr("""CAST(round(CAST(da + db AS DOUBLE)
                 * (CAST(n1 AS DOUBLE) / CAST(n1 + n2 AS DOUBLE))
                 * (CAST(n2 AS DOUBLE) / CAST(n1 + n2 AS DOUBLE))
                 * (CAST(n1 + n2 - da - db AS DOUBLE) / CAST(n1 + n2 - 1 AS DOUBLE)) * 1000000.0) AS BIGINT)"""))
    terms
      .agg(
        sum(col("da")).as("o_a"),
        sum(col("oe_micro")).as("oe_sum"),
        sum(col("v_micro")).as("v_sum"))
      .crossJoin(broadcast(totals))
      .select(
        col("na").as("n_a"), col("nb").as("n_b"), col("o_a"),
        expr("CAST(oe_sum AS DOUBLE) / 1000000.0").as("o_minus_e"),
        expr("CAST(v_sum AS DOUBLE) / 1000000.0").as("variance"),
        expr("""CASE WHEN v_sum = 0 THEN NULL ELSE
                (CAST(oe_sum AS DOUBLE) / 1000000.0) * (CAST(oe_sum AS DOUBLE) / 1000000.0)
                / (CAST(v_sum AS DOUBLE) / 1000000.0) END""").as("chi2"))
  }

  /** Durbin–Watson statistic of the hourly-revenue trend residuals: one
    * map-combined pass builds the ≤|hours| series and its exact integer
    * OLS moments, residuals quantize to whole cents (the shared
    * [[Stages.residualSql]] tree, then one round), and
    * DW = Σ(e_t − e_{t−1})²/Σe_t² is a ratio of two exact BIGINTs. The
    * serial-correlation alarm for any forecast built on this series;
    * the lag window runs over the aggregate-bounded hour table only.
    */
  def durbinWatson(events: DataFrame): DataFrame = {
    val hourly = events
      .groupBy(expr(Stages.epochBucketSql("ts", 3600)).as("h"))
      .agg(expr(s"sum(${Stages.centsSql("value")})").as("cents"))
      .select(col("h"), col("cents"))
    val idx = hourly.agg(min(col("h")).as("h0"))
    val series = hourly
      .crossJoin(broadcast(idx))
      .select((col("h") - col("h0")).as("x"), col("cents").as("y"))
    val sums = Stages.bivariateSums(col("x"), col("y"))
    val stats = series.agg(sums.head, sums.tail: _*)
    val resid = series
      .crossJoin(broadcast(stats))
      .withColumn("e", expr(s"CAST(round(${Stages.residualSql}) AS BIGINT)"))
      .select(col("x"), col("e"))
    val lagW = Window.orderBy(col("x"))
    resid
      .withColumn("e_prev", lag(col("e"), 1).over(lagW))
      .agg(
        count(lit(1)).as("n_hours"),
        // DECIMAL(38,0) — squared cents-scale residuals wrap BIGINT at
        // scale (oracle twin: HUGEINT)
        sum(expr("CAST(e AS DECIMAL(38,0)) * e")).as("see"),
        sum(expr("""CASE WHEN e_prev IS NOT NULL
              THEN CAST(e - e_prev AS DECIMAL(38,0)) * (e - e_prev)
              ELSE CAST(0 AS DECIMAL(38,0)) END"""))
          .as("sdd"))
      .select(
        col("n_hours"),
        expr("CAST(sdd AS DOUBLE) / nullif(CAST(see AS DOUBLE), 0.0E0)").as("dw"))
  }

  /** Top-k most influential lineitem rows by Cook's distance under the
    * price-vs-quantity OLS: leverage, residual, and D_i are all fixed
    * IEEE trees over the one-pass global integer moments broadcast back
    * to the rows, and the ranking is a distributed TakeOrdered (D desc,
    * key asc — never a corpus-scale window). The regression-diagnostics
    * pass that finds the rows steering the fit at any scale.
    */
  def cooksDistanceTopK(lineitem: DataFrame, k: Int = 20): DataFrame = {
    val base = lineitem.select(
      col("l_orderkey"), col("l_linenumber"),
      expr(Stages.lineitemQtySql).as("x"),
      expr(s"${Stages.centsSql("l_extendedprice")} div 100").as("y"))
    val sums = Stages.bivariateSums(col("x"), col("y"))
    val stats = base.agg(sums.head, sums.tail: _*)
    // nD rides nullif: the broadcast side evaluates even when the fact
    // side is empty, and n = 0 would 0/0 under ANSI (the r10 probe's
    // empty variant); passthrough for any real corpus
    val nD = Stages.divisorSql()
    val cxx = cmomSql("sxx", "sx", "sx")
    val cyy = cmomSql("syy", "sy", "sy")
    val cxy = cmomSql("sxy", "sx", "sy")
    // The ROW-INDEPENDENT scalars (slope, the intercept's two terms, n,
    // mean-x, n·var(x), s²) are factored into the broadcast 1-row frame:
    // inlined per row, the composite D_i expression (residual² · h with
    // every moment ratio and its r10 degenerate-input nullif repeated
    // inside) crossed Spark's whole-stage-codegen size cliff and the
    // query fell to interpreted evaluation — 0.74 → 5.4 s at sf0.1.
    // Factoring is value-identical: each named column carries the SAME
    // IEEE subtree, evaluated once instead of per row, and the per-row
    // residual keeps residualSql's exact association
    // (slope·x + ȳ − slope·x̄, guarded by the same varX = 0 CASE).
    val scal = stats.select(
      col("n"), col("sx"), col("sy"),
      expr(nD).as("nd"),
      expr(s"(${Stages.meanSql("sx", nD)})").as("mx"),
      expr(s"(${Stages.meanSql("sy", nD)})").as("myn"),
      expr(cxx).as("var_x"),
      // slope's own nullif: the column evaluates eagerly even though
      // the row CASE only reads it when var_x ≠ 0
      expr(s"($cxy / nullif($cxx, 0.0E0))").as("slope"),
      expr(s"nullif($nD * $cxx, 0.0E0)").as("hden"),
      expr(s"(($cyy - $cxy * $cxy / nullif($cxx, 0.0E0)) * $nD / nullif($nD - 2, 0.0E0))")
        .as("s2v"))
    val residRow =
      """CASE WHEN var_x = 0 THEN NULL
         ELSE (CAST(y AS DOUBLE) - (slope * CAST(x AS DOUBLE) + myn - slope * mx))
         END"""
    val hRow = "(1.0 / nd + (CAST(x AS DOUBLE) - mx) * (CAST(x AS DOUBLE) - mx) / hden)"
    // nullif: a perfect fit (s² = 0) or a full-leverage row (h = 1,
    // the single-observation shape) leaves D_i undefined
    val cooks =
      s"(($residRow * $residRow) / nullif(2.0 * s2v, 0.0E0) * $hRow / nullif((1.0 - $hRow) * (1.0 - $hRow), 0.0E0))"
    Relational.rankedTopK(
      base.crossJoin(broadcast(scal)).withColumn("cooks_d", expr(cooks)),
      k, col("cooks_d").desc, col("l_orderkey").asc, col("l_linenumber").asc)
      .select(
        col("rank"), col("l_orderkey"), col("l_linenumber"),
        col("x"), col("y"), col("cooks_d"))
  }

  /** Autocorrelation ladder (lags 1..`maxLag`) of daily revenue, exact
    * to the final division: daily totals demean by the SCALED residual
    * d_t = n·y_t − Σy (an integer — no float mean ever enters), and
    * r_k = Σ d_t·d_{t+k} / Σ d_t² is a ratio of two exact BIGINTs per
    * lag. The seasonality fingerprint (weekly data shows the lag-7
    * echo) off one ≤|days|-row aggregate; the lag joins run on that
    * bounded table.
    */
  def acfLadder(events: DataFrame, maxLag: Int = 7): DataFrame = {
    val daily = dailyCents(events)
    val tot = daily.agg(count(lit(1)).as("n"), sum(col("y")).as("s"))
    val dm = daily
      .crossJoin(broadcast(tot))
      .select(col("d"), (col("n") * col("y") - col("s")).as("e"))
    // e = n·y − Σy amplifies by n, so e² carries an n² factor: a year of
    // 1e9-cent days puts Σe² near 2^66 — the products widen to
    // DECIMAL(38,0) (oracle twin: HUGEINT), BIGINT keeps only e itself
    val den = dm.agg(sum(expr("CAST(e AS DECIMAL(38,0)) * e")).as("see"))
    val lags = dm.sparkSession
      .range(1, maxLag + 1)
      .select(col("id").as("lag"))
    dm.as("a")
      .crossJoin(broadcast(lags))
      .join(
        broadcast(dm.select(col("d").as("d2"), col("e").as("e2"))),
        col("a.d") + col("lag") === col("d2"))
      .groupBy(col("lag"))
      .agg(count(lit(1)).as("n_pairs"), sum(expr("CAST(e AS DECIMAL(38,0)) * e2")).as("num"))
      .crossJoin(broadcast(den))
      .select(
        col("lag"), col("n_pairs"),
        expr("CAST(num AS DOUBLE) / nullif(CAST(see AS DOUBLE), 0.0E0)").as("acf"))
  }

  /** One-row ACF sufficient statistics of daily revenue: day count `n`,
    * scaled-residual energy `see` = Σd², and per-lag cross products
    * `num1..num{maxLag}` — the same integer construction as
    * [[acfLadder]] (d_t = n·y_t − Σy, so no float mean enters), pivoted
    * wide by a conditional integer aggregate (order-free). Everything
    * downstream ([[pacf]], [[ljungBox]]) is a fixed IEEE tree over this
    * one row; all joins run on the calendar-bounded daily table.
    */
  def acfSuffStats(events: DataFrame, maxLag: Int): DataFrame = {
    val daily = dailyCents(events)
    val tot = daily.agg(count(lit(1)).as("n"), sum(col("y")).as("s"))
    val dm = daily
      .crossJoin(broadcast(tot))
      .select(col("d"), col("n"), (col("n") * col("y") - col("s")).as("e"))
    // DECIMAL(38,0) products — see [[acfLadder]]: the n-scaled residual
    // squares carry an n² factor that wraps BIGINT at one year of
    // realistic daily revenue (oracle twin: HUGEINT)
    val den = dm.agg(
      max(col("n")).as("n"), sum(expr("CAST(e AS DECIMAL(38,0)) * e")).as("see"))
    val lags = dm.sparkSession.range(1, maxLag + 1).select(col("id").as("lag"))
    val nums = dm.as("a")
      .crossJoin(broadcast(lags))
      .join(
        broadcast(dm.select(col("d").as("d2"), col("e").as("e2"))),
        col("a.d") + col("lag") === col("d2"))
      .groupBy(col("lag"))
      .agg(sum(expr("CAST(e AS DECIMAL(38,0)) * e2")).as("num"))
    val wide = (1 to maxLag).map(k =>
      coalesce(sum(when(col("lag") === k.toLong, col("num"))), expr("CAST(0 AS DECIMAL(38,0))"))
        .as(s"num$k"))
    den.crossJoin(broadcast(nums.agg(wide.head, wide.tail: _*)))
  }

  /** Partial autocorrelation at lags 1–3 by the Durbin–Levinson
    * recursion in closed form over the [[acfSuffStats]] row — each φ_kk
    * one shared-text IEEE tree over the exact BIGINT ratios
    * r_k = num_k/see (NULL where a denominator degenerates). PACF is
    * the AR-order fingerprint the ACF ladder can't show (an AR(1)'s ACF
    * decays forever; its PACF cuts off after lag 1).
    */
  def pacf(events: DataFrame): DataFrame =
    acfSuffStats(events, 3)
      .select(
        // the wide integer stats REPORT as exact-from-integer doubles:
        // the internal DECIMAL(38,0) keeps the arithmetic exact, but as
        // an output type it has no cross-engine pandas rendering (DuckDB
        // maps >18-digit DECIMAL/HUGEINT to float64 anyway)
        col("n").as("n_days"), expr("CAST(see AS DOUBLE)").as("see"),
        expr("CAST(num1 AS DOUBLE)").as("num1"),
        expr("CAST(num2 AS DOUBLE)").as("num2"),
        expr("CAST(num3 AS DOUBLE)").as("num3"),
        expr(s"${rSql(1)}").as("pacf1"),
        expr(pacf2Sql).as("pacf2"),
        expr(pacf3Sql).as("pacf3"))

  /** r_k as DOUBLE — shared verbatim with the oracle. */
  def rSql(k: Int): String = s"(CAST(num$k AS DOUBLE) / nullif(CAST(see AS DOUBLE), 0.0E0))"

  /** φ22 = (r2 − r1²)/(1 − r1²). */
  def pacf2Sql: String = {
    val (r1, r2) = (rSql(1), rSql(2))
    s"""CASE WHEN 1.0 - $r1 * $r1 = 0 THEN NULL
             ELSE ($r2 - $r1 * $r1) / (1.0 - $r1 * $r1) END"""
  }

  /** φ33 = (r3 − φ21·r2 − φ22·r1)/(1 − φ21·r1 − φ22·r2) with
    * φ21 = r1·(1 − φ22) — the lag-3 Durbin–Levinson step expanded to
    * one expression.
    */
  def pacf3Sql: String = {
    val (r1, r2, r3) = (rSql(1), rSql(2), rSql(3))
    val p2 = s"(($r2 - $r1 * $r1) / (1.0 - $r1 * $r1))"
    val p21 = s"($r1 * (1.0 - $p2))"
    s"""CASE WHEN 1.0 - $r1 * $r1 = 0
              OR 1.0 - $p21 * $r1 - $p2 * $r2 = 0 THEN NULL
             ELSE ($r3 - $p21 * $r2 - $p2 * $r1)
                  / (1.0 - $p21 * $r1 - $p2 * $r2) END"""
  }

  /** Ljung–Box portmanteau statistic over lags 1..7 of the daily
    * revenue ACF: Q = n(n+2)·Σ r_k²/(n−k), the "is there ANY serial
    * structure" gate run before fitting a forecaster. The Σ is a
    * FIXED-ORDER seven-term expression over the [[acfSuffStats]] row
    * (never a float aggregate an engine could reorder); the χ² p-value
    * needs exp and is deliberately not emitted, like the rest of
    * [[graft.engine.Inference]].
    */
  def ljungBox(events: DataFrame, maxLag: Int = 7): DataFrame =
    acfSuffStats(events, maxLag)
      .withColumnRenamed("n", "n_days")
      .select(
        // see reports as an exact-from-integer double (see [[pacf]])
        col("n_days"), expr("CAST(see AS DOUBLE)").as("see"),
        expr(ljungBoxSql(maxLag)).as("q_lb"))

  /** Holt linear-trend exponential smoothing of daily revenue with
    * α = 1/2, β = 1/4, run entirely on the quarter-cent integer grid:
    * level/trend live as BIGINTs scaled ×4, each update is
    * l' = (2·4y + 2(l+b)) div 4, b' = (l'−l+3b) div 4 — truncating
    * integer division, identical on any engine, so the whole recursion
    * is bit-exact with no shared-text discipline needed. The recursion
    * is inherently sequential, but its domain is the CALENDAR (the
    * daily rollup is map-combined and |days|-bounded at any corpus
    * size), so one `aggregate` fold over the collected day array is the
    * honest distributed shape — the corpus never serializes, only the
    * bounded series does. The only float is the final forecast
    * division, shared verbatim with the oracle.
    */
  def holtLinear(events: DataFrame): DataFrame = {
    dailyCents(events)
      .agg(sort_array(collect_list(struct(col("d"), col("y")))).as("xs"))
      // empty series → zero rows (the oracle twin's CTE chain is empty;
      // unguarded, slice(xs, 2, -1) throws on the empty array — r10
      // degenerate probe)
      .filter(expr("size(xs) > 0"))
      .select(expr("CAST(size(xs) AS BIGINT)").as("n_days"), expr(holtFoldSql).as("st"))
      .select(
        col("n_days"),
        col("st.l").as("level_q"),
        col("st.b").as("trend_q"),
        expr("CAST(st.l + 7 * st.b AS DOUBLE) / 400.0").as("forecast7_dollars"))
  }

  /** The Holt fold: init (l, b) = (4·y₁, 0), then the α=1/2, β=1/4
    * integer update over the day-sorted tail.
    */
  def holtFoldSql: String =
    """aggregate(
         slice(xs, 2, size(xs) - 1),
         named_struct('l', element_at(xs, 1).y * 4, 'b', CAST(0 AS BIGINT)),
         (acc, x) -> named_struct(
           'l', (2 * x.y * 4 + 2 * (acc.l + acc.b)) div 4,
           'b', ((2 * x.y * 4 + 2 * (acc.l + acc.b)) div 4 - acc.l + 3 * acc.b) div 4))"""

  /** n(n+2)·(((t1 + t2) + ...) + tm), t_k = r_k²/(n−k). Shared verbatim
    * with the oracle; uses output column name n_days.
    */
  def ljungBoxSql(maxLag: Int): String = {
    val terms = (1 to maxLag)
      .map { k =>
        val r = s"(CAST(num$k AS DOUBLE) / nullif(CAST(see AS DOUBLE), 0.0E0))"
        s"($r * $r / nullif(CAST(n_days - $k AS DOUBLE), 0.0E0))"
      }
      .reduce((a, b) => s"($a + $b)")
    s"CAST(n_days AS DOUBLE) * CAST(n_days + 2 AS DOUBLE) * $terms"
  }

  /** Skewness and excess kurtosis of event value per type, from ONE
    * pass of exact integer power sums (whole-dollar grid — Σy⁴ stays
    * inside BIGINT to ~10⁹ rows of 3-digit values; past that the next
    * coarser grid buys 10⁴× headroom per step): central moments expand
    * divisions-first from Σy..Σy⁴ and g1 = m3/m2^1.5,
    * g2 = m4/m2² − 3 are fixed IEEE trees — the shape audit that says
    * which metrics need a robust estimator, bit-identical anywhere.
    */
  def skewKurtosis(events: DataFrame): DataFrame = {
    val y = "CAST(round(value) AS BIGINT)"
    val (mu, m2, m3, m4) = Stages.centralMomentsSql
    events
      .groupBy(col("event_type"))
      .agg(
        count(lit(1)).as("n"),
        sum(expr(y)).as("s1"),
        sum(expr(s"$y * $y")).as("s2"),
        sum(expr(s"$y * $y * $y")).as("s3"),
        sum(expr(s"$y * $y * $y * $y")).as("s4"))
      .select(
        col("event_type"), col("n"),
        expr(s"$mu").as("mean_dollars"),
        expr(s"CASE WHEN $m2 <= 0 THEN NULL ELSE $m3 / ($m2 * sqrt($m2)) END").as("skewness"),
        expr(s"CASE WHEN $m2 <= 0 THEN NULL ELSE $m4 / ($m2 * $m2) - 3 END").as("excess_kurtosis"))
  }

  /** Jarque–Bera normality statistic per event type, from the same
    * whole-dollar integer power sums as [[skewKurtosis]] (cents⁴ would
    * overflow BIGINT; dollars⁴ keeps 100× headroom): JB = n/6·(S² +
    * K²/4) over the sample skewness and excess kurtosis. The statistic
    * is the portable part — its χ²₂ p-value needs exp and is deliberately
    * not emitted (see [[Inference]]). One map-combined pass, k rows.
    */
  def jarqueBera(events: DataFrame): DataFrame = {
    val y = "CAST(round(value) AS BIGINT)"
    val (mu, m2, m3, m4) = Stages.centralMomentsSql
    val skew = s"($m3 / ($m2 * sqrt($m2)))"
    val exk = s"($m4 / ($m2 * $m2) - 3)"
    events
      .groupBy(col("event_type"))
      .agg(
        count(lit(1)).as("n"),
        sum(expr(y)).as("s1"),
        sum(expr(s"$y * $y")).as("s2"),
        sum(expr(s"$y * $y * $y")).as("s3"),
        sum(expr(s"$y * $y * $y * $y")).as("s4"))
      .select(
        col("event_type"), col("n"),
        expr(s"CASE WHEN $m2 <= 0 THEN NULL ELSE $skew END").as("skewness"),
        expr(s"CASE WHEN $m2 <= 0 THEN NULL ELSE $exk END").as("excess_kurtosis"),
        expr(s"CASE WHEN $m2 <= 0 THEN NULL ELSE ${Stages.divisorSql(nonZero = false)} / 6.0 * ($skew * $skew + $exk * $exk / 4.0) END")
          .as("jb"))
  }

  /** Murphy decomposition of the Brier score for the in-sample
    * hour-of-day purchase predictor: with p̂ₖ = each hour-bin's observed
    * purchase rate, reliability is zero BY CONSTRUCTION and the score
    * splits as brier = uncertainty − resolution — the calibration
    * identity this query exhibits (and the spec asserts). Per-bin terms
    * are micro-quantized BIGINTs before the cross-bin sums (order-free
    * rule); the whole thing is one 24-row aggregate over map-combined
    * counts.
    */
  def brierDecomposition(events: DataFrame): DataFrame = {
    val bins = events
      .groupBy(hour(col("ts")).as("hr"))
      .agg(
        count(lit(1)).as("nk"),
        sum(when(col("event_type") === "purchase", 1L).otherwise(0L)).as("yk"))
    val tot = bins.agg(
      sum(col("nk")).as("n"), sum(col("yk")).as("y"), count(lit(1)).as("nb"))
    val pk = "(CAST(yk AS DOUBLE) / CAST(nk AS DOUBLE))"
    val ybar = "(CAST(y AS DOUBLE) / CAST(n AS DOUBLE))"
    val resTerm =
      s"CAST(round(CAST(nk AS DOUBLE) * ($pk - $ybar) * ($pk - $ybar) * 1000000) AS BIGINT)"
    val brierTerm =
      s"""CAST(round((CAST(yk AS DOUBLE) * (1.0 - $pk) * (1.0 - $pk)
           + CAST(nk - yk AS DOUBLE) * $pk * $pk) * 1000000) AS BIGINT)"""
    bins
      .crossJoin(broadcast(tot))
      .agg(
        max(col("nb")).as("n_bins"),
        max(col("n")).as("n"),
        max(col("y")).as("y"),
        sum(expr(resTerm)).as("res_micro"),
        sum(expr(brierTerm)).as("brier_micro"))
      .select(
        col("n_bins"), col("n"),
        expr("CAST(y AS DOUBLE) / CAST(n AS DOUBLE)").as("ybar"),
        expr("CAST(res_micro AS DOUBLE) / 1000000.0 / CAST(n AS DOUBLE)").as("res"),
        expr("""(CAST(y AS DOUBLE) / CAST(n AS DOUBLE))
                * (1.0 - CAST(y AS DOUBLE) / CAST(n AS DOUBLE))""").as("unc"),
        expr("CAST(brier_micro AS DOUBLE) / 1000000.0 / CAST(n AS DOUBLE)").as("brier"))
  }

  /** Decile lift / gains table for "does event value predict purchase":
    * rows rank by (value, id) descending into ten equal-count deciles,
    * and each decile reports its purchase rate, lift over the base rate,
    * and the cumulative gains share. The global rank is the ONE op class
    * that needs a total order (same as q_global_rank); deciles then
    * reduce to a 10-row table, and the cumulative column windows over
    * those 10 rows only. Rates expand from integer counts.
    */
  def liftDeciles(events: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val cents = Stages.centsSql("value")
    // the total-order rank comes from the distributed range-sort
    // (scalableGlobalRank), NOT a single-partition row_number window —
    // the ranked input here is the CORPUS, not an aggregate
    val ranked = Relational
      .scalableGlobalRank(
        events.select(
          (col("event_type") === "purchase").cast("long").as("y"),
          expr(cents).as("c"), col("event_id")),
        col("c").desc, col("event_id").asc)
      .withColumnRenamed("rank", "rn")
      // cacheT, per quantileTransform's documented rule for this exact
      // pattern: ranked feeds BOTH the n_total aggregate and the decile
      // aggregation — uncached, the range shuffle and the sequence
      // numbering would run twice per run
      .cacheT()
    // corpus size from the rank's own max via a broadcast scalar (the
    // [[decileStats]] convention) — a driver-side events.count() would
    // cost an extra full corpus job and bake a per-corpus literal into
    // the plan text
    val nTot = ranked.agg(max(col("rn")).as("n_total"))
    val dec = ranked
      .crossJoin(broadcast(nTot))
      .withColumn("decile", expr("CAST(CAST(rn - 1 AS BIGINT) * 10 div n_total AS BIGINT) + 1"))
      .groupBy(col("decile"))
      .agg(count(lit(1)).as("n_rows"), sum(col("y")).as("n_pos"))
    val tot = dec.agg(sum(col("n_rows")).as("nn"), sum(col("n_pos")).as("pp"))
    val wCum = Window.partitionBy(lit(1)).orderBy(col("decile").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    dec
      .crossJoin(broadcast(tot))
      .withColumn("cum_pos", sum(col("n_pos")).over(wCum))
      .select(
        col("decile"), col("n_rows"), col("n_pos"),
        expr("CAST(n_pos AS DOUBLE) / CAST(n_rows AS DOUBLE)").as("rate"),
        expr("""(CAST(n_pos AS DOUBLE) / CAST(n_rows AS DOUBLE))
                / nullif(CAST(pp AS DOUBLE) / CAST(nn AS DOUBLE), 0.0E0)""").as("lift"),
        expr("CAST(cum_pos AS DOUBLE) / nullif(CAST(pp AS DOUBLE), 0.0E0)").as("cum_gain"))
  }

  /** Burstiness index per event type: B = (σ−μ)/(σ+μ) of the
    * inter-arrival gaps (−1 = perfectly regular, 0 = Poisson, →1 =
    * bursty), from integer second gaps and one moment pass. The lag is
    * HOUR-SEGMENTED: consecutive-event gaps resolve inside (type, hour)
    * window partitions — each task holds one hour of one type's
    * timeline, never the type's whole history — and the hour-boundary
    * gaps stitch from a per-(type, hour) first/last aggregate whose own
    * lag window is aggregate-bounded (|hours| rows per type). The gap
    * multiset is identical to a full per-type timeline lag. The
    * temporal-clumpiness readout next to [[Analytics]]'s interarrival
    * histogram.
    */
  def burstiness(events: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val base = events
      .select(col("event_type"), expr(Stages.epochBucketSql("ts", 1)).as("t"), col("event_id"))
      .withColumn("_hr", expr("t div 3600"))
    val inHour = base
      .withColumn(
        "gap",
        col("t") - lag(col("t"), 1).over(
          Window.partitionBy(col("event_type"), col("_hr"))
            .orderBy(col("t").asc, col("event_id").asc)))
      .filter(col("gap").isNotNull)
      .select(col("event_type"), col("gap"))
    val boundary = base
      .groupBy(col("event_type"), col("_hr"))
      .agg(min(col("t")).as("first_t"), max(col("t")).as("last_t"))
      .withColumn(
        "gap",
        col("first_t") - lag(col("last_t"), 1).over(
          Window.partitionBy(col("event_type")).orderBy(col("_hr").asc)))
      .filter(col("gap").isNotNull)
      .select(col("event_type"), col("gap"))
    inHour
      .unionAll(boundary)
      .groupBy(col("event_type"))
      .agg(
        count(lit(1)).as("n_gaps"),
        sum(col("gap")).as("s"),
        sum(col("gap") * col("gap")).as("q"))
      .select(
        col("event_type"), col("n_gaps"),
        expr("CAST(s AS DOUBLE) / CAST(n_gaps AS DOUBLE)").as("mean_gap_s"),
        expr(burstSdSql).as("sd_gap_s"),
        // nullif: sd+mean = 0 (all gaps zero — the duplicate-timestamp
        // shape) leaves B undefined (r10 degenerate probe; oracle same)
        expr(s"($burstSdSql - CAST(s AS DOUBLE) / CAST(n_gaps AS DOUBLE)) / nullif($burstSdSql + CAST(s AS DOUBLE) / CAST(n_gaps AS DOUBLE), 0.0E0)")
          .as("burstiness"))
  }

  /** Sample SD of gaps over (n_gaps, s, q) — shared verbatim. nullif:
    * one gap has no sample SD. */
  def burstSdSql: String = s"sqrt(${Stages.sampleCmomSql("q", "s", "s", "n_gaps")})"

  /** Weighted least squares of line-item unit economics: dollars on
    * quantity with quantity itself as the weight (bigger lots count
    * proportionally), from one pass of exact integer weighted moments —
    * slope/intercept expand divisions-first through Σw (the same
    * overflow discipline as [[Stages.linregSql]]), so the fit is one
    * fixed IEEE tree over BIGINTs. The heteroscedasticity-aware
    * companion to q_linreg.
    */
  def weightedLinreg(lineitem: DataFrame): DataFrame = {
    // the weighted moments: Σw is the divisor
    val sw = Stages.divisorSql("sw", nonZero = false)
    val mx = s"(${Stages.meanSql("swx", sw)})"
    val my = s"(${Stages.meanSql("swy", sw)})"
    val cxx = cmomSql("swxx", "swx", "swx", sw)
    val cxy = cmomSql("swxy", "swx", "swy", sw)
    lineitem
      .select(
        expr(Stages.lineitemQtySql).as("x"),
        expr(s"${Stages.centsSql("l_extendedprice")} div 100").as("y"))
      .withColumn("w", col("x"))
      .agg(
        count(lit(1)).as("n"),
        sum(col("w")).as("sw"),
        sum(col("w") * col("x")).as("swx"),
        sum(col("w") * col("y")).as("swy"),
        sum(col("w") * col("x") * col("x")).as("swxx"),
        sum(col("w") * col("x") * col("y")).as("swxy"))
      .select(
        col("n"), col("sw"),
        expr(s"CASE WHEN $cxx = 0 THEN NULL ELSE $cxy / $cxx END").as("slope"),
        expr(s"CASE WHEN $cxx = 0 THEN NULL ELSE $my - ($cxy / $cxx) * $mx END")
          .as("intercept"))
  }

  /** Quantile treatment effects between the two md5-hash arms: the
    * exact d/10-quantile of event value per arm (the ⌈d·n/10⌉-th order
    * statistic off a value→count table — a per-arm-bounded cumulative,
    * never a row-scale sort) and the per-decile shift. Where a mean
    * test collapses the distribution to one number, this shows WHERE
    * the arms differ; every quantile is an exact integer cents value,
    * the shift a subtraction.
    */
  def quantileTreatmentEffects(events: DataFrame): DataFrame = {
    val vals = events.select(expr(userArmSql).as("arm"), expr(Stages.centsSql("value")).as("v"))
    val counts = vals.groupBy(col("arm"), col("v")).agg(count(lit(1)).as("cnt"))
    val deciles = events.sparkSession.range(1, 10).select(col("id").as("decile"))
    val qs = Relational
      .gridRunningWeight(counts, Seq("arm"), "v", "cnt")
      .crossJoin(broadcast(deciles))
      .groupBy(col("arm"), col("decile"))
      .agg(Relational.rankPick(expr("(decile * n + 9) div 10"), col("v")).as("q"))
    qs.filter(col("arm") === 0).select(col("decile"), col("q").as("q_a"))
      .join(
        qs.filter(col("arm") === 1).select(col("decile"), col("q").as("q_b")),
        Seq("decile"))
      .select(
        col("decile"),
        expr("CAST(q_a AS DOUBLE) / 100.0").as("q_a_dollars"),
        expr("CAST(q_b AS DOUBLE) / 100.0").as("q_b_dollars"),
        expr("CAST(q_b - q_a AS DOUBLE) / 100.0").as("shift_dollars"))
  }

  /** Seasonal-naive forecast backtest: predict each hour's revenue by
    * the same hour one week earlier (f_t = y_{t−168}) and score MAPE
    * and sMAPE over every hour with a seasonal ancestor — the baseline
    * any real forecaster must beat, measured with zero model state.
    * Per-hour error ratios quantize to micro so the cross-hour means
    * are order-free integer sums; the lag join runs on the
    * ≤|hours|-row aggregate.
    */
  def seasonalNaiveBacktest(events: DataFrame, seasonHours: Long = 168L): DataFrame = {
    val hourly = events
      .groupBy(expr(Stages.epochBucketSql("ts", 3600)).as("h"))
      .agg(expr(s"sum(${Stages.centsSql("value")})").as("y"))
    val joined = hourly.as("t")
      .join(
        hourly.select((col("h") + lit(seasonHours)).as("h"), col("y").as("f")),
        Seq("h"))
    joined
      .select(
        expr("CAST(round(1000000.0 * abs(CAST(y - f AS DOUBLE)) / CAST(y AS DOUBLE)) AS BIGINT)")
          .as("ape_micro"),
        expr("""CAST(round(1000000.0 * 2.0 * abs(CAST(y - f AS DOUBLE))
                 / CAST(y + f AS DOUBLE)) AS BIGINT)""").as("sape_micro"))
      .agg(
        count(lit(1)).as("n_eval"),
        sum(col("ape_micro")).as("sa"),
        sum(col("sape_micro")).as("ss"))
      .select(
        col("n_eval"),
        expr("(CAST(sa AS DOUBLE) / CAST(n_eval AS DOUBLE)) / 1000000.0").as("mape"),
        expr("(CAST(ss AS DOUBLE) / CAST(n_eval AS DOUBLE)) / 1000000.0").as("smape"))
  }

  /** Theil's U₂ forecast-skill ratio: seasonal-naive (lag-168) forecast
    * error against the persistence (lag-1) baseline over hours where
    * both exist — U < 1 means the weekly pattern genuinely beats "same
    * as last hour". Both error terms are squared integer differences of
    * exact hourly cents, so U is √(BIGINT/BIGINT) with one correctly-
    * rounded sqrt; the lag joins run on the ≤|hours| aggregate.
    */
  def theilU(events: DataFrame, seasonHours: Long = 168L): DataFrame = {
    val hourly = events
      .groupBy(expr(Stages.epochBucketSql("ts", 3600)).as("h"))
      .agg(expr(s"sum(${Stages.centsSql("value")})").as("y"))
    hourly.as("t")
      .join(hourly.select((col("h") + lit(seasonHours)).as("h"), col("y").as("fs")), Seq("h"))
      .join(hourly.select((col("h") + lit(1L)).as("h"), col("y").as("fp")), Seq("h"))
      .agg(
        count(lit(1)).as("n_eval"),
        sum((col("y") - col("fs")) * (col("y") - col("fs"))).as("se_seasonal"),
        sum((col("y") - col("fp")) * (col("y") - col("fp"))).as("se_persist"))
      .select(
        col("n_eval"), col("se_seasonal"), col("se_persist"),
        expr("""CASE WHEN se_persist = 0 THEN NULL
                ELSE sqrt(CAST(se_seasonal AS DOUBLE) / CAST(se_persist AS DOUBLE)) END""")
          .as("theil_u"))
  }

  /** Segmented (two-piece) price-vs-quantity regression split at the
    * median quantity: independent OLS fits on each side from one pass
    * of CONDITIONAL integer moments (the split point is the exact
    * order statistic, computed first from a value→count table), plus
    * the slope difference — the cheapest test for a kinked
    * relationship. Every fit is the [[Stages.linregSql]] fixed tree
    * over per-side sums; two map-combined aggregates total.
    */
  def segmentedRegression(lineitem: DataFrame): DataFrame = {
    val base = lineitem.select(
      expr(Stages.lineitemQtySql).as("x"),
      expr(s"${Stages.centsSql("l_extendedprice")} div 100").as("y"))
    val split = Relational
      .gridRunningWeight(base.groupBy(col("x")).agg(count(lit(1)).as("cnt")), Nil, "x", "cnt")
      .agg(Relational.rankPick(expr(Stages.lowerMedianRankSql("n")), col("x")).as("x_split"))
    def sideAggs(sfx: String, cond: Column) = Seq(
      sum(when(cond, 1L).otherwise(0L)).as(s"n_$sfx"),
      sum(when(cond, col("x")).otherwise(lit(0L))).as(s"sx_$sfx"),
      sum(when(cond, col("y")).otherwise(lit(0L))).as(s"sy_$sfx"),
      sum(when(cond, col("x") * col("y")).otherwise(lit(0L))).as(s"sxy_$sfx"),
      sum(when(cond, col("x") * col("x")).otherwise(lit(0L))).as(s"sxx_$sfx"),
      sum(when(cond, col("y") * col("y")).otherwise(lit(0L))).as(s"syy_$sfx"))
    val aggs = sideAggs("lo", col("x") <= col("x_split")) ++
      sideAggs("hi", col("x") > col("x_split"))
    def fit(sfx: String, name: String) = expr(linregSideSql(name, sfx))
    base
      .crossJoin(broadcast(split))
      .agg(aggs.head, aggs.tail: _*)
      .crossJoin(broadcast(split))
      .select(
        col("x_split"), col("n_lo"), col("n_hi"),
        fit("lo", "slope").as("slope_lo"),
        fit("hi", "slope").as("slope_hi"),
        (fit("hi", "slope") - fit("lo", "slope")).as("slope_diff"))
  }

  /** [[Stages.linregSql]] fragment over the suffixed moment columns
    * `n_<sfx>, sx_<sfx>, …` — shared verbatim between
    * [[segmentedRegression]] and its oracle so both engines evaluate
    * the identical per-side expression text.
    */
  def linregSideSql(name: String, sfx: String): String =
    Stages.linregSql(s"_$sfx").toMap.apply(name)

  /** Cross-correlation ladder between the daily purchase and click
    * revenue series at leads/lags −3..3 — the lead–lag discovery pass
    * (does click volume anticipate purchases?). Both series demean by
    * the scaled-integer residual of [[acfLadder]] (n·y − Σy), and each
    * lag's correlation is Σda·db / √(Σda²·Σdb²) over exact BIGINTs with
    * one sqrt. Bounded day-table joins only.
    */
  def crossCorrelationLadder(events: DataFrame, maxLag: Int = 3): DataFrame = {
    def series(t: String) = {
      val daily = dailyCents(events.filter(col("event_type") === t))
      val tot = daily.agg(count(lit(1)).as("n"), sum(col("y")).as("s"))
      daily.crossJoin(broadcast(tot)).select(col("d"), (col("n") * col("y") - col("s")).as("e"))
    }
    val a = series("purchase")
    val b = series("click")
    // DECIMAL(38,0) products — the n-scaled residuals square with an n²
    // factor (see [[acfLadder]]); oracle twin widens to HUGEINT
    val da = a.agg(sum(expr("CAST(e AS DECIMAL(38,0)) * e")).as("saa"))
    val db = b.agg(sum(expr("CAST(e AS DECIMAL(38,0)) * e")).as("sbb"))
    val lags = events.sparkSession
      .range(-maxLag, maxLag + 1)
      .select(col("id").as("lag"))
    a.crossJoin(broadcast(lags))
      .join(
        broadcast(b.select(col("d").as("d2"), col("e").as("e2"))),
        col("d") + col("lag") === col("d2"))
      .groupBy(col("lag"))
      .agg(count(lit(1)).as("n_pairs"), sum(expr("CAST(e AS DECIMAL(38,0)) * e2")).as("sab"))
      .crossJoin(broadcast(da))
      .crossJoin(broadcast(db))
      .select(
        col("lag"), col("n_pairs"),
        expr("CAST(sab AS DOUBLE) / nullif(sqrt(CAST(saa AS DOUBLE) * CAST(sbb AS DOUBLE)), 0.0E0)")
          .as("ccf"))
  }

  /** Hodges–Lehmann pseudo-median of the daily revenue series: the exact
    * median of all n(n+1)/2 Walsh averages (yᵢ+yⱼ)/2, i ≤ j. The robust
    * location estimate behind the Wilcoxon signed-rank test — unlike the
    * plain median it has ~96% Gaussian efficiency while keeping a 29%
    * breakdown point. Everything is integer until one shared final
    * division: Walsh sums s = yᵢ+yⱼ are 2× the average, and the median
    * is spelled as explicit order statistics (lower+upper middle of the
    * sorted multiset, summed → 4× the pseudo-median), so both engines
    * agree bit-for-bit. The corpus collapses to the |days|-bounded daily
    * rollup before the O(days²) pair join — calendar-bounded at any
    * corpus scale, and the Walsh sums collapse again to their value
    * grid before the one single-partition running-weight window.
    */
  def hodgesLehmann(events: DataFrame): DataFrame = {
    val daily = dailyCents(events)
    val a = daily.select(col("d").as("d1"), col("y").as("y1"))
    val b = daily.select(col("d").as("d2"), col("y").as("y2"))
    val walsh = a
      .join(b, col("d1") <= col("d2"))
      .groupBy((col("y1") + col("y2")).as("s"))
      .agg(count(lit(1)).as("c"))
    val nDays = daily.agg(count(lit(1)).cast("long").as("n_days"))
    Relational
      .gridRunningWeight(walsh, Nil, "s", "c")
      .agg(
        max(col("n")).as("m_pairs"),
        Relational.rankPick(expr(Stages.lowerMedianRankSql("n")), col("s")).as("v1"),
        Relational.rankPick(expr(Stages.upperMedianRankSql("n")), col("s")).as("v2"))
      .crossJoin(nDays)
      .select(
        col("n_days"),
        col("m_pairs"),
        (col("v1") + col("v2")).as("hl_x4"),
        expr("CAST(v1 + v2 AS DOUBLE) / 400.0").as("hl_dollars"))
  }

  /** Mandelbrot's rescaled-range statistic R/S of the daily revenue
    * series — the single-window building block of Hurst-exponent
    * estimation (long-range dependence audit for time-series features).
    * The range of mean-centred prefix sums is kept integer by scaling
    * by n: z_k = n·P_k − k·T is BIGINT-exact (P_k the k-day prefix sum,
    * T the total), and R = (max z − min z)/n with z₀ = 0 included per
    * the classical definition. S is the population σ from one pass of
    * integer moments (divide-first form — the n·sxx−sx² product
    * overflows at scale). The corpus reduces map-side to the
    * calendar-bounded daily rollup; the prefix window runs over that
    * bounded series only.
    */
  def rescaledRange(events: DataFrame): DataFrame = {
    val daily = dailyCents(events)
    val w = Window.partitionBy(lit(1)).orderBy(col("d").asc)
    val prefixed = daily
      .withColumn("k", row_number().over(w).cast("long"))
      .withColumn("p", sum(col("y")).over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .withColumn("n", count(lit(1)).over(Window.partitionBy(lit(1))).cast("long"))
      .withColumn("t", sum(col("y")).over(Window.partitionBy(lit(1))))
      .withColumn("z", col("n") * col("p") - col("k") * col("t"))
    val sigma = s"sqrt(${cmomSql("sxx", "sx", "sx", Stages.divisorSql("n_days", nonZero = false))})"
    prefixed
      .agg(
        max(col("n")).as("n_days"),
        expr("greatest(max(z), CAST(0 AS BIGINT)) - least(min(z), CAST(0 AS BIGINT))").as("r_scaled"),
        // DECIMAL(38,0) — Σ(daily cents)² wraps BIGINT at a thousand
        // 1e9-cent days (oracle twin: HUGEINT)
        sum(expr("CAST(y AS DECIMAL(38,0)) * y")).as("sxx"),
        max(col("t")).as("sx"))
      .select(
        col("n_days"),
        col("r_scaled"),
        expr(sigma).as("sigma"),
        // R = r_scaled / n (z is the n-SCALED centred prefix sum, so ONE
        // division by n undoes the scaling); R/S divides that by sigma
        expr(s"(CAST(r_scaled AS DOUBLE) / CAST(n_days AS DOUBLE)) / nullif($sigma, 0.0E0)")
          .as("rs_stat"))
  }

  /** Friedman's block rank test plus Page's L trend statistic over the
    * (day × event_type) design: each complete day is a block, the k
    * event types are treatments, and the daily revenue cells are ranked
    * within each day. Ranks use `row_number` with the (value,
    * event_type) tie-break — the deterministic rank variant, documented
    * rather than mid-rank averaging, so every rank is an integer and the
    * rank sums R_j, ΣR_j² and L = Σ j·R_j are BIGINT-exact (j is the
    * treatment's alphabetical index, the fixed hypothesized ordering).
    * Only complete blocks (days observing all k treatments) enter, per
    * the test's definition. The within-day ranking partitions by day —
    * fully distributed; the final aggregate is k rows.
    */
  def friedmanPage(events: DataFrame): DataFrame = {
    val cells = events
      .groupBy(expr(Stages.epochBucketSql("ts", 86400)).as("d"), col("event_type"))
      .agg(expr(s"sum(${Stages.centsSql("value")})").as("y"))
    val k = cells.agg(countDistinct(col("event_type")).cast("long").as("k_treatments"))
    val complete = cells
      .withColumn("day_n", count(lit(1)).over(Window.partitionBy(col("d"))).cast("long"))
      .crossJoin(k)
      .filter(col("day_n") === col("k_treatments"))
      .withColumn(
        "rank",
        row_number()
          .over(Window.partitionBy(col("d")).orderBy(col("y").asc, col("event_type").asc))
          .cast("long"))
    val perTreatment = complete
      .groupBy(col("event_type"))
      .agg(sum(col("rank")).as("rj"), count(lit(1)).cast("long").as("n_blocks"))
      .withColumn(
        "j",
        row_number().over(Window.partitionBy(lit(1)).orderBy(col("event_type").asc)).cast("long"))
    perTreatment
      .crossJoin(k)
      .agg(
        max(col("n_blocks")).as("n_blocks"),
        max(col("k_treatments")).as("k_treatments"),
        sum(col("rj") * col("rj")).as("sum_r2"),
        sum(col("j") * col("rj")).as("page_l"))
      .select(
        col("n_blocks"),
        col("k_treatments"),
        col("sum_r2"),
        expr(
          """CAST(12 * sum_r2 AS DOUBLE)
             / CAST(n_blocks * k_treatments * (k_treatments + 1) AS DOUBLE)
             - CAST(3 * n_blocks * (k_treatments + 1) AS DOUBLE)""").as("friedman_stat"),
        col("page_l"))
  }

  /** Isotonic regression of the daily revenue series on the day index,
    * by the exact minimax characterization of the PAVA solution:
    * ŷᵢ = max_{j≤i} min_{k≥i} avg(y[j..k]). Averages come from integer
    * prefix sums (avg = (P_k − P_{j−1})/(k−j+1), one shared double
    * division), and min/max over IEEE doubles are order-free — so the
    * O(days³) triple enumeration is bit-exact on both engines with no
    * sequential pooling loop. The corpus collapses map-side to the
    * calendar-bounded daily rollup before any join; the cubic epilogue
    * is constant-bound (days ≤ tens of thousands even at a century of
    * data, and the monotone fit is usually wanted at coarse grain).
    * This is the monotone-calibration primitive (score→probability
    * calibration, dose-response fits) of the training pipeline.
    */
  def isotonicDaily(events: DataFrame): DataFrame = {
    val daily = dailyCents(events)
    val w = Window.partitionBy(lit(1)).orderBy(col("d").asc)
    val idx = daily
      .withColumn("i", row_number().over(w).cast("long"))
      .withColumn("p", sum(col("y")).over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    val jk = idx.select(col("i").as("j"), (col("p") - col("y")).as("pj1"))
      .join(idx.select(col("i").as("k"), col("p").as("pk")), col("j") <= col("k"))
      .select(
        col("j"),
        col("k"),
        expr("CAST(pk - pj1 AS DOUBLE) / CAST(k - j + 1 AS DOUBLE)").as("avg_jk"))
    val fitted = jk
      .join(idx.select(col("i"), col("d"), col("y")), col("j") <= col("i") && col("k") >= col("i"))
      .groupBy(col("i"), col("d"), col("y"), col("j"))
      .agg(min(col("avg_jk")).as("mn"))
      .groupBy(col("i"), col("d"), col("y"))
      .agg(max(col("mn")).as("fitted_cents"))
    fitted.select(
      col("i").as("day_idx"),
      col("d").as("day_epoch"),
      col("y").as("y_cents"),
      col("fitted_cents"),
      expr("fitted_cents / 100.0").as("fitted_dollars"))
  }

  /** Deming (orthogonal, δ=1) total-least-squares fit of daily revenue
    * against daily event count — the errors-in-both-variables regression
    * (major-axis slope of the centred scatter). Raw moments are one
    * exact integer pass; centering happens in the divide-first double
    * form (the n·syy − sy² product overflows BIGINT at scale), and the
    * closed form slope = (cyy − cxx + √((cyy−cxx)² + 4c²xy)) / (2cxy)
    * is a fixed expression tree shared verbatim with the oracle.
    */
  def demingDaily(events: DataFrame): DataFrame = {
    val daily = events
      .groupBy(expr(Stages.epochBucketSql("ts", 86400)).as("d"))
      .agg(
        count(lit(1)).cast("long").as("x"),
        expr(s"sum(${Stages.centsSql("value")})").as("y"))
    // DECIMAL(38,0) products — Σ(daily cents)² wraps BIGINT at scale
    // (oracle twin: HUGEINT)
    val sums = Stages.momentSums(Map('x' -> col("x"), 'y' -> col("y")), wide = true)(
      "n_days", "sx", "sy", "sxx", "syy", "sxy")
    val n = Stages.divisorSql("n_days", nonZero = false)
    daily
      .agg(sums.head, sums.tail: _*)
      .select(
        col("n_days"),
        expr(demingSlopeSql).as("slope"),
        expr(s"${Stages.meanSql("sy", n)} - ($demingSlopeSql) * (${Stages.meanSql("sx", n)})").as("intercept"))
  }

  /** Shared text with the oracle: centred moments in divide-first form,
    * then the positive-root major-axis slope.
    */
  def demingSlopeSql: String = {
    val n = Stages.divisorSql("n_days", nonZero = false)
    val cxx = cmomSql("sxx", "sx", "sx", n)
    val cyy = cmomSql("syy", "sy", "sy", n)
    val cxy = cmomSql("sxy", "sx", "sy", n)
    s"(($cyy - $cxx + sqrt(($cyy - $cxx) * ($cyy - $cxx) + 4.0 * $cxy * $cxy)) / nullif(2.0 * $cxy, 0.0E0))"
  }

  /** Gumbel extreme-value fit of the daily block maxima by the method of
    * moments, and the 30-day return level — the tail-risk readout
    * (capacity planning / anomaly thresholds) of the daily series.
    * Block maxima are exact integer cents; their mean and σ come from
    * one integer-moment pass (divide-first). The Gumbel constants √6/π,
    * Euler's γ, and −ln(−ln(1−1/30)) enter as shared decimal literals —
    * `ln` is not correctly rounded across engines, but a literal is
    * parsed to the same IEEE double by both — so β = σ·√6/π,
    * μ = mean − γβ, and x₃₀ = μ + β·k₃₀ are bit-exact.
    */
  def gumbelReturnLevel(events: DataFrame): DataFrame = {
    val daily = events
      .groupBy(expr(Stages.epochBucketSql("ts", 86400)).as("d"))
      .agg(expr(s"max(${Stages.centsSql("value")})").as("m"))
    daily
      .agg(
        count(lit(1)).cast("long").as("n_blocks"),
        sum(col("m")).as("sm"),
        sum(col("m") * col("m")).as("smm"))
      .select(
        col("n_blocks"),
        expr(s"$gumbelMeanSql / 100.0").as("mean_max_dollars"),
        expr(s"$gumbelSigmaSql / 100.0").as("sigma_max_dollars"),
        expr(s"($gumbelMeanSql - 0.5772156649015329 * ($gumbelSigmaSql * 0.779696801233676)) / 100.0")
          .as("gumbel_mu_dollars"),
        expr(s"($gumbelSigmaSql * 0.779696801233676) / 100.0").as("gumbel_beta_dollars"),
        expr(
          s"""(($gumbelMeanSql - 0.5772156649015329 * ($gumbelSigmaSql * 0.779696801233676))
              + ($gumbelSigmaSql * 0.779696801233676) * 3.3842944934992527) / 100.0""")
          .as("return_level30_dollars"))
  }

  def gumbelMeanSql: String = s"(${Stages.meanSql("sm", Stages.divisorSql("n_blocks", nonZero = false))})"
  def gumbelSigmaSql: String =
    s"sqrt(${cmomSql("smm", "sm", "sm", Stages.divisorSql("n_blocks", nonZero = false))})"

  /** Siegel's repeated-median slope of the daily revenue series — the
    * 50%-breakdown robust trend (vs 29% for Theil–Sen): the median over
    * days i of the median over j≠i of pairwise slopes, plus the matching
    * repeated-median intercept (median of yᵢ − slope·i). Medians use the
    * LOWER-median order statistic (rank ⌈m/2⌉), the deterministic rule
    * both engines spell identically — order statistics over IEEE doubles
    * whose values come from one shared division of exact integers, so
    * selection is bit-exact even under tied sort orders. The inner
    * median partitions by i (distributed); the outer passes run on the
    * |days|-bounded series.
    */
  def siegelSlope(events: DataFrame): DataFrame = {
    val daily = dailyCents(events)
    val idx = daily
      .withColumn("i", row_number().over(Window.partitionBy(lit(1)).orderBy(col("d").asc)).cast("long"))
    val a = idx.select(col("i").as("i1"), col("y").as("y1"))
    val b = idx.select(col("i").as("i2"), col("y").as("y2"))
    val slopes = a
      .join(b, col("i1") =!= col("i2"))
      .select(col("i1").as("i"), expr("CAST(y2 - y1 AS DOUBLE) / CAST(i2 - i1 AS DOUBLE)").as("s"))
    // per-row ranks, not a value grid: grouping on a double folds −0.0
    // into 0.0, and a slope over a negative index gap can be −0.0
    def lowerMedianRow(df: DataFrame, part: Column, v: String): DataFrame = {
      val w = Window.partitionBy(part)
      df.withColumn("r", row_number().over(w.orderBy(col(v).asc)))
        .withColumn("c", count(lit(1)).over(w))
        .filter(expr(s"r = ${Stages.lowerMedianRankSql("c")}"))
    }
    val inner = lowerMedianRow(slopes, col("i"), "s").select(col("i"), col("s").as("med"))
    val outer = lowerMedianRow(inner, lit(1), "med").select(col("med").as("slope"))
    val resid = idx
      .crossJoin(outer)
      .select(col("slope"), expr("CAST(y AS DOUBLE) - slope * CAST(i AS DOUBLE)").as("res"))
    val interceptRow = lowerMedianRow(resid, lit(1), "res")
    val n = daily.agg(count(lit(1)).cast("long").as("n_days"))
    interceptRow
      .crossJoin(n)
      .select(col("n_days"), col("slope"), col("res").as("intercept"))
  }

  /** Tukey median polish of the (day-of-week × week) revenue matrix —
    * the robust two-way decomposition (seasonality row effects × weekly
    * level column effects) that median-based STL variants build on.
    * Two full iterations of (row sweep, column sweep), each sweep
    * subtracting the LOWER median of the current residuals — and because
    * lower medians of integers are integers, the whole polish runs in
    * exact BIGINT cents: no float discipline needed anywhere. Effects
    * are emitted long-form (component, key, effect); the grid is 7×weeks
    * — calendar-bounded — so every sweep is a tiny partitioned window
    * over an already map-combined aggregate.
    */
  def medianPolish(events: DataFrame): DataFrame = {
    val cells0 = events
      .groupBy(
        expr(s"${Stages.epochBucketSql("ts", 86400)} % 7").as("i"),
        expr(s"${Stages.epochBucketSql("ts", 86400)} div 7").as("j"))
      .agg(expr(s"sum(${Stages.centsSql("value")})").as("r"))
      .withColumn("a", lit(0L))
      .withColumn("b", lit(0L))
    def lowerMed(df: DataFrame, part: String): DataFrame = df
      .withColumn("arr", sort_array(collect_list(col("r")).over(Window.partitionBy(col(part)))))
      .withColumn("m", expr(sortedLowerMedianSql("arr")))
    def rowSweep(df: DataFrame): DataFrame = lowerMed(df, "i")
      .select(col("i"), col("j"), (col("r") - col("m")).as("r"), (col("a") + col("m")).as("a"), col("b"))
    def colSweep(df: DataFrame): DataFrame = lowerMed(df, "j")
      .select(col("i"), col("j"), (col("r") - col("m")).as("r"), col("a"), (col("b") + col("m")).as("b"))
    val polished = colSweep(rowSweep(colSweep(rowSweep(cells0))))
    val rowEff = polished.groupBy(col("i").as("key")).agg(max(col("a")).as("effect_cents"))
      .select(lit("row_dow").as("component"), col("key"), col("effect_cents"))
    val colEff = polished.groupBy(col("j").as("key")).agg(max(col("b")).as("effect_cents"))
      .select(lit("col_week").as("component"), col("key"), col("effect_cents"))
    rowEff
      .unionAll(colEff)
      .select(
        col("component"),
        col("key"),
        col("effect_cents"),
        expr("CAST(effect_cents AS DOUBLE) / 100.0").as("effect_dollars"))
  }

  /** Lower median of the sorted array column `arr`. collect_list skips
    * NULLs, so an all-null frame is EMPTY and element_at(_, 0) throws
    * under ANSI (r10 degenerate probe) — a null median is the aligned
    * degenerate answer.
    */
  private def sortedLowerMedianSql(arr: String): String =
    s"CASE WHEN size($arr) > 0 THEN element_at($arr, CAST(${Stages.lowerMedianRankSql(s"size($arr)")} AS INT)) END"

  /** Hampel filter over the daily revenue series: 7-day centred rolling
    * LOWER median and rolling MAD (both exact integers — medians of
    * integer cents), flagging days where |y − med| > 3·MAD. The robust
    * despiking pass that survives level shifts where z-scores don't.
    * Frames truncate identically at the series edges on both engines
    * (ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING). Daily grain — the
    * window runs over the calendar-bounded rollup, and at stream time
    * the same frame is a sliding event-time window.
    */
  def hampelFilter(events: DataFrame): DataFrame = {
    val w = Window.partitionBy(lit(1)).orderBy(col("d").asc).rowsBetween(-3, 3)
    dailyCents(events)
      .withColumn("arr", sort_array(collect_list(col("y")).over(w)))
      .withColumn("med7", expr(sortedLowerMedianSql("arr")))
      .withColumn("devs", expr("sort_array(transform(arr, x -> abs(x - med7)))"))
      .withColumn("mad7", expr(sortedLowerMedianSql("devs")))
      .select(
        col("d").as("day_epoch"),
        col("y").as("y_cents"),
        col("med7"),
        col("mad7"),
        (abs(col("y") - col("med7")) > lit(3) * col("mad7")).as("is_outlier"))
  }

  /** Grubbs' statistic for the daily revenue series: the maximum
    * studentized deviation G = max|y − ȳ|/σ and the day attaining it
    * (ties broken by earliest day — selection over shared-text doubles
    * derived from exact integer moments, so the argmax is bit-portable).
    * Emitted without the t-based critical value by design — erf/t
    * quantiles are not cross-engine bit-portable; G itself is.
    */
  def grubbsOutlier(events: DataFrame): DataFrame = {
    val daily = dailyCents(events)
    // DECIMAL(38,0) — Σ(daily cents)² wraps BIGINT at scale (oracle
    // twin: HUGEINT)
    val sums = Stages.momentSums(Map('x' -> col("y")), wide = true)("n_days", "sx", "sxx")
    val moments = daily.agg(sums.head, sums.tail: _*)
    // G is computed on every day, before the top-1: its projection does
    // not merge with the ones under it, and a limit over a stack of
    // projections plans as a global sort plus CollectLimit instead of a
    // TakeOrderedAndProject
    val scored = daily
      .crossJoin(moments)
      .withColumn(
        "dev",
        expr("abs(CAST(y AS DOUBLE) - CAST(sx AS DOUBLE) / CAST(n_days AS DOUBLE))"))
      .select(
        col("n_days"),
        col("d").as("day_epoch"),
        col("y").as("y_cents"),
        col("dev").as("abs_dev"),
        expr(grubbsGSql).as("grubbs_g"))
    Relational.rankedTopK(scored, 1, col("abs_dev").desc, col("day_epoch").asc).drop("rank")
  }

  /** Grubbs' G over (dev, n_days, sx, sxx) — shared verbatim with the
    * oracle. G is defined over the SAMPLE standard deviation (n−1): the
    * population-sd spelling understated s and inflated G by
    * sqrt(n/(n−1)) — systematically over-eager against the published
    * critical values that are this statistic's only use. Divide-first
    * form (Stages.cmomSql), n/(n−1) applied as a final factor.
    */
  def grubbsGSql: String = {
    val n = Stages.divisorSql("n_days", nonZero = false)
    s"""dev / nullif(sqrt(${cmomSql("sxx", "sx", "sx", n)}
       * $n / nullif($n - 1.0, 0.0E0)), 0.0E0)"""
  }

  /** Dickey–Fuller unit-root regression (lag 0, with intercept) on the
    * daily revenue series: Δy_t = α + γ·y_{t−1} + ε. Emits γ̂ and its
    * t-statistic (the DF test statistic — compared against DF critical
    * values, not t; no p-value by the library's no-ln/no-erf rule).
    * Pairs come from the |days|-bounded daily rollup joined to itself on
    * d+1; all sums are one exact integer pass, every double a
    * shared-text expression.
    */
  def dickeyFuller(events: DataFrame): DataFrame = {
    val daily = dailyCents(events)
    val pairs = daily.select(col("d").as("d1"), col("y").as("l"))
      .join(daily.select((col("d") - 1).as("d1"), col("y").as("cur")), Seq("d1"))
      .select(col("l"), (col("cur") - col("l")).as("dy"))
    val cxx = cmomSql("sxx", "sx", "sx")
    val cxy = cmomSql("sxy", "sx", "sy")
    val cyy = cmomSql("syy", "sy", "sy")
    val gamma = s"($cxy / nullif($cxx, 0.0E0))"
    val sums = Stages.momentSums(Map('x' -> col("l"), 'y' -> col("dy")))("n", "sx", "sy", "sxx", "sxy", "syy")
    pairs
      .agg(sums.head, sums.tail: _*)
      .select(
        col("n").as("n_pairs"),
        expr(gamma).as("gamma"),
        expr(
          s"""$gamma / sqrt((($cyy - $gamma * $cxy) * CAST(n AS DOUBLE) / CAST(n - 2 AS DOUBLE))
              / nullif(CAST(n AS DOUBLE) * $cxx, 0.0E0))""").as("t_stat"))
  }

  /** Granger-causality F test (lag 1) of daily click counts on daily
    * purchase revenue: the restricted model y_t ~ y_{t−1} against the
    * unrestricted y_t ~ y_{t−1} + x_{t−1}, F = (RSS_r − RSS_u)·(n−3) /
    * RSS_u with both residual sums in closed form (Cramer's rule on the
    * 2×2 centred-moment system — determinants of shared-text doubles).
    * The two daily series come from ONE map-combined pass over events
    * (conditional aggregates), then a |days|-bounded self-join builds
    * the lag triples.
    */
  def grangerF(events: DataFrame): DataFrame = {
    val daily = dailyClickPurchase(events)
    val triples = daily.select(col("d").as("d1"), col("y").as("l"), col("x").as("xl"))
      .join(
        daily.select((col("d") - 1).as("d1"), col("y").as("cur")),
        Seq("d1"))
    val cll = cmomSql("sll", "sl", "sl")
    val clx = cmomSql("slx", "sl", "sx")
    val cxx = cmomSql("sxx", "sx", "sx")
    val cly = cmomSql("sly", "sl", "sy")
    val cxy = cmomSql("sxy", "sx", "sy")
    val cyy = cmomSql("syy", "sy", "sy")
    val det = s"($cll * $cxx - $clx * $clx)"
    val b1 = s"(($cly * $cxx - $cxy * $clx) / nullif($det, 0.0E0))"
    val b2 = s"(($cll * $cxy - $clx * $cly) / nullif($det, 0.0E0))"
    val rssU = s"($cyy - $b1 * $cly - $b2 * $cxy)"
    val rssR = s"($cyy - $cly * $cly / nullif($cll, 0.0E0))"
    val sums = Stages.momentSums(Map('l' -> col("l"), 'x' -> col("xl"), 'y' -> col("cur")))(
      "n", "sl", "sx", "sy", "sll", "slx", "sxx", "sly", "sxy", "syy")
    triples
      .agg(sums.head, sums.tail: _*)
      .select(
        col("n").as("n_triples"),
        expr(b1).as("b_lag"),
        expr(b2).as("b_click"),
        expr(rssU).as("rss_u_over_n"),
        expr(rssR).as("rss_r_over_n"),
        expr(s"(($rssR - $rssU) * CAST(n - 3 AS DOUBLE)) / nullif($rssU, 0.0E0)").as("f_stat"))
  }

  /** Baron–Kenny mediation decomposition on the daily grid: does the
    * click→revenue effect route through view volume? a = slope(m ~ x),
    * total = slope(y ~ x), and from the two-predictor OLS y ~ x + m the
    * direct effect and b path; indirect = a·b, and OLS guarantees
    * total = direct + indirect EXACTLY — the identity the spec pins
    * (up to shared-expression rounding). Same Cramer-on-centred-moments
    * machinery as [[grangerF]]; x = clicks, m = views, y = purchase
    * revenue cents, all three series from one conditional-aggregate
    * pass.
    */
  def mediation(events: DataFrame): DataFrame = {
    val daily = events
      .groupBy(expr(Stages.epochBucketSql("ts", 86400)).as("d"))
      .agg(
        sum(when(col("event_type") === "click", 1L).otherwise(0L)).as("x"),
        sum(when(col("event_type") === "view", 1L).otherwise(0L)).as("m"),
        sum(when(col("event_type") === "purchase", expr(Stages.centsSql("value"))).otherwise(0L))
          .as("y"))
    val cxx = cmomSql("sxx", "sx", "sx")
    val cxm = cmomSql("sxm", "sx", "sm")
    val cmm = cmomSql("smm", "sm", "sm")
    val cxy = cmomSql("sxy", "sx", "sy")
    val cmy = cmomSql("smy", "sm", "sy")
    val aPath = s"($cxm / nullif($cxx, 0.0E0))"
    val total = s"($cxy / nullif($cxx, 0.0E0))"
    val det = s"($cxx * $cmm - $cxm * $cxm)"
    val direct = s"(($cxy * $cmm - $cmy * $cxm) / nullif($det, 0.0E0))"
    val bPath = s"(($cxx * $cmy - $cxm * $cxy) / nullif($det, 0.0E0))"
    val sums = Stages.momentSums(Map('x' -> col("x"), 'm' -> col("m"), 'y' -> col("y")))(
      "n", "sx", "sm", "sy", "sxx", "sxm", "smm", "sxy", "smy")
    daily
      .agg(sums.head, sums.tail: _*)
      .select(
        col("n").as("n_days"),
        expr(aPath).as("a_path"),
        expr(bPath).as("b_path"),
        expr(total).as("total_effect"),
        expr(direct).as("direct_effect"),
        expr(s"($aPath * $bPath)").as("indirect_effect"))
  }

  /** Longest increasing and longest decreasing subsequence lengths of
    * the daily revenue series — the monotone-run complexity features
    * (trend persistence vs churn) of a sequence. The O(n²) DP runs as
    * one `aggregate` fold over the day-sorted array: state is the list
    * of (value, best-length-ending-here) pairs, and each step takes
    * 1 + max length over smaller (resp. larger) predecessors. Like
    * [[holtLinear]], the fold's domain is the CALENDAR — the corpus
    * reduces map-side to the bounded daily series, which alone is
    * collected into the fold. Pure integer arithmetic: bit-exact with
    * no float discipline.
    */
  def monotoneSubseq(events: DataFrame): DataFrame = {
    val daily = dailyCents(events)
    def foldSql(cmp: String): String =
      s"""array_max(transform(
            aggregate(
              transform(xs, p -> p.y),
              CAST(array() AS ARRAY<STRUCT<y: BIGINT, l: BIGINT>>),
              (acc, x) -> array_append(acc, named_struct(
                'y', x,
                'l', 1 + coalesce(array_max(transform(filter(acc, p -> p.y $cmp x), p -> p.l)), CAST(0 AS BIGINT))))),
            p -> p.l))"""
    daily
      .agg(sort_array(collect_list(struct(col("d"), col("y")))).as("xs"))
      .select(
        expr("CAST(size(xs) AS BIGINT)").as("n_days"),
        expr(foldSql("<")).as("lis_len"),
        expr(foldSql(">")).as("lds_len"))
  }

  /** Seasonal Mann–Kendall trend test: the MK statistic computed WITHIN
    * each day-of-week series (so weekly seasonality cannot masquerade as
    * trend), seasons then combined by S = Σ S_g and Var = Σ Var_g
    * (Hirsch–Slack without the cross-season covariance term, the
    * standard independent-seasons form). Everything to the final z is
    * BIGINT-exact: per-season sign sums from a day-pair join partitioned
    * by season (each side calendar-bounded), per-season tie terms, and
    * the 18·Var sums. Same continuity correction and shared expression
    * text as [[mannKendall]].
    */
  def seasonalMannKendall(events: DataFrame): DataFrame = {
    val daily = events
      .groupBy(expr(Stages.epochBucketSql("ts", 86400)).as("d"))
      .agg(expr(s"sum(${Stages.centsSql("value")})").as("x"))
      .withColumn("g", expr("d % 7"))
    val s = daily.as("i")
      .join(daily.as("j"), col("i.g") === col("j.g") && col("i.d") < col("j.d"))
      .agg(coalesce(sum(expr("CAST(sign(j.x - i.x) AS BIGINT)")), lit(0L)).as("s_stat"))
    val perSeason = daily
      .groupBy(col("g"), col("x"))
      .agg(count(lit(1)).as("t"))
      .groupBy(col("g"))
      .agg(
        // n_g = Σt (the season's DAY count, not its distinct-value
        // count) — see the identical fix note in [[mannKendall]]
        sum(col("t")).as("n_g"),
        sum(col("t") * (col("t") - 1L) * (lit(2L) * col("t") + 5L)).as("tie_g"))
      .agg(
        count(lit(1)).cast("long").as("n_seasons"),
        sum(col("n_g")).as("n_days"),
        sum(col("n_g") * (col("n_g") - 1L) * (lit(2L) * col("n_g") + 5L) - col("tie_g"))
          .as("var18"))
    s.crossJoin(broadcast(perSeason))
      .select(
        col("n_days"),
        col("n_seasons"),
        col("s_stat"),
        expr("""CASE WHEN s_stat > 0 THEN CAST(s_stat - 1 AS DOUBLE)
                     WHEN s_stat < 0 THEN CAST(s_stat + 1 AS DOUBLE)
                     ELSE 0.0 END / nullif(sqrt(CAST(var18 AS DOUBLE) / 18.0), 0.0E0)""").as("z"))
  }

  /** White's heteroskedasticity statistic n·R² for the daily trend
    * regression: squared residuals of y ~ day-index, regressed on
    * (i, i²). The residual e is a shared-text double from the
    * first-stage integer moments; e² is quantized PER ROW to the 1e9-
    * cents² grid (deterministic — both engines apply the identical
    * round), so the second-stage sums are order-free BIGINTs (raw Σe⁴
    * would overflow any integer; a float Σe² would be partition-order-
    * dependent). The auxiliary R² is then Cramer's rule on centred
    * moments, divide-first, shared text — the same machinery as
    * [[grangerF]].
    */
  def whiteTest(events: DataFrame): DataFrame = {
    val daily = dailyCents(events)
      .withColumn(
        "i",
        row_number().over(Window.partitionBy(lit(1)).orderBy(col("d").asc)).cast("long"))
    val sums = Stages.momentSums(Map('x' -> col("i"), 'y' -> col("y")))("n", "sx", "sy", "sxx", "sxy")
    val first = daily.agg(sums.head, sums.tail: _*)
    val cxx = cmomSql("sxx", "sx", "sx")
    val cxy = cmomSql("sxy", "sx", "sy")
    val bTxt = s"($cxy / nullif($cxx, 0.0E0))"
    val n = Stages.divisorSql(nonZero = false)
    val aTxt = s"(${Stages.meanSql("sy", n)} - $bTxt * (${Stages.meanSql("sx", n)}))"
    val eTxt = s"(CAST(y AS DOUBLE) - ($aTxt + $bTxt * CAST(i AS DOUBLE)))"
    val resid = daily
      .crossJoin(first)
      .withColumn("w", expr(s"CAST(round(($eTxt * $eTxt) / 1000000000.0) AS BIGINT)"))
      .select(col("i"), col("w"))
    val cuu = cmomSql("suu", "su", "su")
    val cuv = cmomSql("suv", "su", "sv")
    val cvv = cmomSql("svv", "sv", "sv")
    val cuw = cmomSql("suw", "su", "sw")
    val cvw = cmomSql("svw", "sv", "sw")
    val cww = cmomSql("sww", "sw", "sw")
    val det = s"($cuu * $cvv - $cuv * $cuv)"
    val b1 = s"(($cuw * $cvv - $cvw * $cuv) / nullif($det, 0.0E0))"
    val b2 = s"(($cuu * $cvw - $cuv * $cuw) / nullif($det, 0.0E0))"
    val r2 = s"(($b1 * $cuw + $b2 * $cvw) / nullif($cww, 0.0E0))"
    resid
      .agg(
        count(lit(1)).cast("long").as("n"),
        sum(col("i")).as("su"),
        sum(col("i") * col("i")).as("sv"),
        sum(col("w")).as("sw"),
        sum(col("i") * col("i")).as("suu"),
        sum(col("i") * col("i") * col("i")).as("suv"),
        sum(col("i") * col("i") * col("i") * col("i")).as("svv"),
        sum(col("i") * col("w")).as("suw"),
        sum(col("i") * col("i") * col("w")).as("svw"),
        sum(col("w") * col("w")).as("sww"))
      .select(
        col("n").as("n_days"),
        expr(r2).as("r2_aux"),
        expr(s"CAST(n AS DOUBLE) * $r2").as("white_stat"))
  }

  /** Turning-point test for randomness of the daily revenue series: T =
    * #{i : (yᵢ−yᵢ₋₁)(yᵢ₊₁−yᵢ) < 0} (strict local extrema), with the
    * exact null moments E[T] = 2(n−2)/3 and Var[T] = (16n−29)/90.
    * Everything is integer until the z — the sign product comes from
    * lag/lead over the calendar-bounded daily rollup.
    */
  def turningPoints(events: DataFrame): DataFrame = {
    val w = Window.partitionBy(lit(1)).orderBy(col("d").asc)
    dailyCents(events)
      .withColumn("pv", lag(col("y"), 1).over(w))
      .withColumn("nx", lead(col("y"), 1).over(w))
      .agg(
        count(lit(1)).cast("long").as("n_days"),
        sum(
          when(col("pv").isNotNull && col("nx").isNotNull
            && (col("y") - col("pv")) * (col("nx") - col("y")) < 0, 1L).otherwise(0L))
          .as("t_stat"))
      .select(
        col("n_days"),
        col("t_stat"),
        expr("CAST(2 * (n_days - 2) AS DOUBLE) / 3.0").as("e_t"),
        expr(
          """CASE WHEN 16 * n_days - 29 > 0 THEN
               (CAST(t_stat AS DOUBLE) - CAST(2 * (n_days - 2) AS DOUBLE) / 3.0)
               / sqrt(CAST(16 * n_days - 29 AS DOUBLE) / 90.0) END""").as("z"))
  }

  /** Discrete-Fourier power of the daily revenue series at the weekly
    * frequency (period 7): A = Σ yₜ·cos(2πt/7), B = Σ yₜ·sin(2πt/7),
    * P₇ = (A² + B²)/n, plus P₇'s share of n·Var(y) — the spectral
    * seasonality readout. cos/sin enter as SEVEN fixed decimal literals
    * (both engines parse them to identical doubles; the angle only
    * depends on t mod 7), so A and B are integer residue-class sums ×
    * literals in a FIXED 7-term expression — order-free and bit-exact.
    */
  val cos7: Seq[String] = Seq(
    "1.0", "0.6234898018587336", "-0.22252093395631434", "-0.900968867902419",
    "-0.9009688679024191", "-0.2225209339563146", "0.6234898018587334")
  val sin7: Seq[String] = Seq(
    "0.0", "0.7818314824680298", "0.9749279121818236", "0.43388373911755823",
    "-0.433883739117558", "-0.9749279121818236", "-0.7818314824680299")

  /** Shared DFT texts over residue-class sums s0..s6. */
  def periodogram7ATxt: String =
    (0 until 7).map(r => s"CAST(s$r AS DOUBLE) * ${cos7(r)}").mkString("(", " + ", ")")
  def periodogram7BTxt: String =
    (0 until 7).map(r => s"CAST(s$r AS DOUBLE) * ${sin7(r)}").mkString("(", " + ", ")")

  def periodogram7(events: DataFrame): DataFrame = {
    val daily = dailyCents(events)
    val aggCols =
      (0 until 7).map(r => sum(when(expr(s"d % 7 = $r"), col("y")).otherwise(0L)).as(s"s$r")) ++
        // DECIMAL(38,0) — Σ(daily cents)² wraps BIGINT at scale (oracle
        // twin: HUGEINT)
        Stages.momentSums(Map('y' -> col("y")), wide = true)("n", "sy", "syy")
    val aTxt = periodogram7ATxt
    val bTxt = periodogram7BTxt
    val cssTxt = Stages.centredSumSql("syy", "sy", "sy")
    daily
      .agg(aggCols.head, aggCols.tail: _*)
      .select(
        col("n").as("n_days"),
        expr(aTxt).as("a_re"),
        expr(bTxt).as("b_im"),
        expr(s"($aTxt * $aTxt + $bTxt * $bTxt) / CAST(n AS DOUBLE)").as("power7"),
        expr(s"(($aTxt * $aTxt + $bTxt * $bTxt) / CAST(n AS DOUBLE)) / nullif($cssTxt, 0.0E0)").as("share7"))
  }

  /** Matrix profile (window m=5, exclusion zone 2) of the daily revenue
    * series: for every 5-day window, the z-normalized Euclidean distance
    * to its nearest non-trivial match and that match's index — the
    * motif/discord primitive of time-series mining. Window arrays are
    * collected IN TIME ORDER (struct-sort, since collect_list frames
    * are unordered), dots are BIGINT-exact folds, and the distance
    * d² = 2m(1 − (dot/m − μμ')/(σσ')) is one shared expression over
    * integer window moments, so the argmin (tie → smaller index) is
    * bit-portable. The O(days²) pair join runs on the calendar-bounded
    * daily rollup, not the corpus.
    */
  def matrixProfile(events: DataFrame): DataFrame = {
    val daily = dailyCents(events)
    val ord = Window.partitionBy(lit(1)).orderBy(col("d").asc)
    val frame = ord.rowsBetween(0, 4)
    // built twice (def, not val): the pair join below is a self-join, and
    // two independently constructed plans carry distinct attribute ids —
    // sharing one `val` can misresolve the join sides
    // all frame aggregates BEFORE the cnt filter — a window computed on
    // the filtered rows would see truncated frames near the series end
    def prepared(): DataFrame = daily
      .withColumn("i", row_number().over(ord).cast("long"))
      .withColumn("arr0", sort_array(collect_list(struct(col("d"), col("y"))).over(frame)))
      .withColumn("cnt", count(lit(1)).over(frame))
      .withColumn("s", sum(col("y")).over(frame))
      .withColumn("ss", sum(col("y") * col("y")).over(frame))
      .filter(col("cnt") === 5)
      .select(
        col("i"),
        col("d"),
        expr("transform(arr0, p -> p.y)").as("arr"),
        col("s"),
        col("ss"))
    val a = prepared().select(
      col("i").as("ia"), col("d").as("da"), col("arr").as("aa"),
      col("s").as("sa"), col("ss").as("ssa"))
    val b = prepared().select(
      col("i").as("ib"), col("arr").as("ab"),
      col("s").as("sb"), col("ss").as("ssb"))
    val ma = "(CAST(sa AS DOUBLE) / 5.0)"
    val mb = "(CAST(sb AS DOUBLE) / 5.0)"
    val sda = s"sqrt(CAST(ssa AS DOUBLE) / 5.0 - $ma * $ma)"
    val sdb = s"sqrt(CAST(ssb AS DOUBLE) / 5.0 - $mb * $mb)"
    val d2 =
      s"(10.0 * (1.0 - ((CAST(dot AS DOUBLE) / 5.0 - $ma * $mb) / ($sda * $sdb))))"
    val pairs = a
      .join(b, abs(col("ia") - col("ib")) > 2)
      .withColumn(
        "dot", // native codegen'd integer loop (HOF lambdas stay interpreted)
        graft.functions.VectorFunctions.dotMilli(col("aa"), col("ab")))
      .withColumn("d2", expr(d2))
    Relational.topKPerGroup(pairs, 1, Seq(col("ia")), col("d2").asc, col("ib").asc)
      .select(
        col("ia").as("day_idx"),
        col("da").as("day_epoch"),
        expr("sqrt(greatest(d2, 0.0))").as("mp_dist"),
        col("ib").as("match_idx"))
  }

  /** Engle–Granger cointegration screen for the daily (click count,
    * purchase revenue) pair: stage 1 regresses y on x (closed-form OLS
    * over integer moments), stage 2 runs the Dickey–Fuller regression on
    * the cointegrating residuals. Residuals are quantized PER ROW to
    * whole cents (identical round on both engines) so the second-stage
    * moments are order-free BIGINTs — the same two-stage discipline as
    * [[whiteTest]]. Emits the stage-1 slope and the DF t on residuals
    * (compare against Engle–Granger critical values; no p by the no-ln
    * rule).
    */
  def cointegration(events: DataFrame): DataFrame = {
    val daily = dailyClickPurchase(events)
    val sums = Stages.momentSums(Map('x' -> col("x"), 'y' -> col("y")))("n", "sx", "sy", "sxx", "sxy")
    val first = daily.agg(sums.head, sums.tail: _*)
    val cxx = cmomSql("sxx", "sx", "sx")
    val cxy = cmomSql("sxy", "sx", "sy")
    val bTxt = s"($cxy / nullif($cxx, 0.0E0))"
    val n = Stages.divisorSql(nonZero = false)
    val aTxt = s"(${Stages.meanSql("sy", n)} - $bTxt * (${Stages.meanSql("sx", n)}))"
    val resid = daily
      .crossJoin(first)
      .select(
        col("d"),
        expr(s"CAST(round(CAST(y AS DOUBLE) - ($aTxt + $bTxt * CAST(x AS DOUBLE))) AS BIGINT)")
          .as("e"),
        expr(bTxt).as("beta"))
    val pairs = resid.select(col("d").as("d1"), col("e").as("l"), col("beta"))
      .join(resid.select((col("d") - 1).as("d1"), col("e").as("cur")), Seq("d1"))
      .select(col("l"), (col("cur") - col("l")).as("dy"), col("beta"))
    val rxx = cmomSql("sxx", "sx", "sx")
    val rxy = cmomSql("sxy", "sx", "sy")
    val ryy = cmomSql("syy", "sy", "sy")
    val gamma = s"($rxy / nullif($rxx, 0.0E0))"
    val pairSums =
      Stages.momentSums(Map('x' -> col("l"), 'y' -> col("dy")))("n", "sx", "sy", "sxx", "sxy", "syy")
    pairs
      .agg(pairSums.head, max(col("beta")).as("beta") +: pairSums.tail: _*)
      .select(
        col("n").as("n_pairs"),
        col("beta").as("coint_beta"),
        expr(gamma).as("gamma"),
        expr(
          s"""$gamma / sqrt((($ryy - $gamma * $rxy) * CAST(n AS DOUBLE) / CAST(n - 2 AS DOUBLE))
              / nullif(CAST(n AS DOUBLE) * $rxx, 0.0E0))""").as("eg_t_stat"))
  }

  /** Top-k multivariate outlier days by Mahalanobis distance in the
    * (click count, purchase revenue) plane: the 2×2 covariance inverts
    * in closed form (divide-first centred moments, shared text), so
    * d²(v) = [cyy(x−μx)² − 2cxy(x−μx)(y−μy) + cxx(y−μy)²] / det needs
    * no linear-algebra library and stays bit-portable. Ranking is a
    * distributed TakeOrdered (desc d², day asc tie-break), not a global
    * window.
    */
  def mahalanobisOutliers(events: DataFrame, k: Int = 10): DataFrame = {
    val daily = dailyClickPurchase(events)
    val sums = Stages.momentSums(Map('x' -> col("x"), 'y' -> col("y")))("n", "sx", "sy", "sxx", "sxy", "syy")
    val m = daily.agg(sums.head, sums.tail: _*)
    val cxx = cmomSql("sxx", "sx", "sx")
    val cxy = cmomSql("sxy", "sx", "sy")
    val cyy = cmomSql("syy", "sy", "sy")
    val n = Stages.divisorSql(nonZero = false)
    val mx = s"(${Stages.meanSql("sx", n)})"
    val my = s"(${Stages.meanSql("sy", n)})"
    val det = s"($cxx * $cyy - $cxy * $cxy)"
    val dx = s"(CAST(x AS DOUBLE) - $mx)"
    val dy = s"(CAST(y AS DOUBLE) - $my)"
    val d2 = s"(($cyy * $dx * $dx - 2.0 * $cxy * $dx * $dy + $cxx * $dy * $dy) / nullif($det, 0.0E0))"
    val scored = daily.crossJoin(m).withColumn("md2", expr(d2))
    Relational
      .rankedTopK(scored, k, col("md2").desc, col("d").asc)
      .select(
        col("rank"),
        col("d").as("day_epoch"),
        col("x").as("clicks"),
        col("y").as("purchase_cents"),
        col("md2"))
  }

  /** Dynamic-time-warping distance between the purchase and click
    * weekly profiles (7 day-of-week buckets, each value the per-bucket
    * total scaled to per-mille of its series total so the two series
    * are comparable): the classic 7×7 DP with |a−b| cost, run as ONE
    * aggregate fold over the collected row sequence carrying the
    * previous DP row as array state — all integers, bit-exact. The
    * profiles are DOMAIN-bounded (7 cells each) however large the
    * corpus; only they enter the fold.
    */
  def dtwWeekly(events: DataFrame): DataFrame = {
    val profiles = events
      .groupBy(expr(s"${Stages.epochBucketSql("ts", 86400)} % 7").as("r"))
      .agg(
        sum(when(col("event_type") === "purchase", expr(Stages.centsSql("value"))).otherwise(0L))
          .as("pa"),
        sum(when(col("event_type") === "click", expr(Stages.centsSql("value"))).otherwise(0L))
          .as("pb"))
    val scaled = profiles
      .crossJoin(profiles.agg(sum(col("pa")).as("ta"), sum(col("pb")).as("tb")))
      .select(
        col("r"),
        // nullif: an absent series (total mass 0) has no profile to
        // normalize — Spark ANSI throws on the integer div where
        // DuckDB's `// 0` yields NULL (r10 degenerate probe)
        expr("(pa * 1000) div nullif(ta, 0)").as("a"),
        expr("(pb * 1000) div nullif(tb, 0)").as("b"))
    scaled
      .agg(sort_array(collect_list(struct(col("r"), col("a"), col("b")))).as("xs"))
      .select(
        expr("CAST(size(xs) AS BIGINT)").as("n_buckets"),
        // empty profile grid → no alignment to cost (duck's recursive
        // CTE goes quiet; the fold would emit the 0-cost seed)
        // two sequential WHENs, not one OR: ANSI element_at(xs, 1)
        // throws on the empty array, and Or does not short-circuit
        expr(s"""CASE WHEN size(xs) = 0 THEN NULL
                      WHEN element_at(xs, 1).a IS NULL
                        OR element_at(xs, 1).b IS NULL THEN NULL
                 ELSE $dtwFoldSql END""").as("dtw_permille"))
  }

  /** The DTW fold: state = previous DP row (array of BIGINT, 1-indexed
    * over the b-profile); row i computes cell-by-cell with an inner
    * fold carrying (previous row, current row prefix). Initialization
    * row 0 is the standard +∞ band encoded as a large sentinel (the
    * per-mille grid keeps real costs ≤ 7000, so 10⁹ is safely inert).
    */
  def dtwFoldSql: String =
    """element_at(
         aggregate(
           xs,
           transform(sequence(0, size(xs)), j -> IF(j = 0, CAST(0 AS BIGINT), CAST(1000000000 AS BIGINT))),
           (prev, xrow) -> aggregate(
             xs,
             CAST(array(CAST(1000000000 AS BIGINT)) AS ARRAY<BIGINT>),
             (cur, yrow) -> array_append(
               cur,
               abs(xrow.a - yrow.b) + least(
                 element_at(prev, size(cur)),
                 element_at(prev, size(cur) + 1),
                 element_at(cur, size(cur))))),
           final -> final),
         -1)"""

  /** VAR(1) fit of the daily (clicks x, purchase-revenue y) system:
    * each equation is the same 2-predictor closed-form OLS as
    * [[grangerF]] (Cramer on centred moments, both regressors the two
    * lags), giving the 2×2 transition matrix A, plus its spectral
    * radius in closed form — real branch (tr²−4det ≥ 0) takes
    * max|eigenvalue|, complex branch √det — and the stability verdict
    * radius < 1. One lag join on the calendar-bounded daily rollup, one
    * integer moment pass, every double shared text.
    */
  def var1(events: DataFrame): DataFrame = {
    val daily = dailyClickPurchase(events)
    val triples = daily.select(col("d").as("d1"), col("y").as("ly"), col("x").as("lx"))
      .join(
        daily.select((col("d") - 1).as("d1"), col("y").as("cy"), col("x").as("cx")),
        Seq("d1"))
    val cll = cmomSql("sll", "sl", "sl")
    val clx = cmomSql("slx", "sl", "sx")
    val cxx = cmomSql("sxx", "sx", "sx")
    val det0 = s"($cll * $cxx - $clx * $clx)"
    def eq(cy: String, cxy: String): (String, String) = {
      // coefficients on (ly, lx) for target column with centred moments cy (vs ly), cxy (vs lx)
      val b1 = s"(($cy * $cxx - $cxy * $clx) / nullif($det0, 0.0E0))"
      val b2 = s"(($cll * $cxy - $clx * $cy) / nullif($det0, 0.0E0))"
      (b1, b2)
    }
    val cyl = cmomSql("syl", "sl", "sy")
    val cyx = cmomSql("syx", "sx", "sy")
    val czl = cmomSql("szl", "sl", "sz")
    val czx = cmomSql("szx", "sx", "sz")
    val (a11, a12) = eq(cyl, cyx) // y_t ~ y_{t-1}, x_{t-1}
    val (a21, a22) = eq(czl, czx) // x_t ~ y_{t-1}, x_{t-1}
    val tr = s"($a11 + $a22)"
    val dA = s"($a11 * $a22 - $a12 * $a21)"
    val disc = s"($tr * $tr - 4.0 * $dA)"
    val radius =
      s"""(CASE WHEN $disc >= 0.0
            THEN greatest(abs(($tr + sqrt($disc)) / 2.0), abs(($tr - sqrt($disc)) / 2.0))
            ELSE sqrt($dA)
          END)"""
    triples
      .agg(
        count(lit(1)).cast("long").as("n"),
        sum(col("ly")).as("sl"),
        sum(col("lx")).as("sx"),
        sum(col("cy")).as("sy"),
        sum(col("cx")).as("sz"),
        sum(col("ly") * col("ly")).as("sll"),
        sum(col("ly") * col("lx")).as("slx"),
        sum(col("lx") * col("lx")).as("sxx"),
        sum(col("ly") * col("cy")).as("syl"),
        sum(col("lx") * col("cy")).as("syx"),
        sum(col("ly") * col("cx")).as("szl"),
        sum(col("lx") * col("cx")).as("szx"))
      .select(
        col("n").as("n_triples"),
        expr(a11).as("a11"),
        expr(a12).as("a12"),
        expr(a21).as("a21"),
        expr(a22).as("a22"),
        expr(radius).as("spectral_radius"),
        expr(s"$radius < 1.0").as("stable"))
  }

  /** Total-variation distance between the hour-of-day distributions of
    * purchase and click events: TV = ½·Σₕ|p₁ₕ − p₂ₕ|, kept EXACT as the
    * integer Σ|c₁ₕ·n₂ − c₂ₕ·n₁| over the common denominator 2·n₁·n₂
    * (the log-free, rational twin of KL/JS divergence — pairs with the
    * existing Hellinger op). One conditional aggregate over the
    * 24-bucket grid; one shared final division.
    */
  def tvDistance(events: DataFrame): DataFrame = {
    val hours = events
      .filter(col("event_type").isin("purchase", "click"))
      .groupBy(expr(s"${Stages.epochBucketSql("ts", 3600)} % 24").as("h"))
      .agg(
        sum(when(col("event_type") === "purchase", 1L).otherwise(0L)).as("c1"),
        sum(when(col("event_type") === "click", 1L).otherwise(0L)).as("c2"))
    hours
      .crossJoin(broadcast(hours.agg(sum(col("c1")).as("n1"), sum(col("c2")).as("n2"))))
      .agg(
        max(col("n1")).as("n1"),
        max(col("n2")).as("n2"),
        sum(abs(col("c1") * col("n2") - col("c2") * col("n1"))).as("tv_num"))
      .select(
        col("n1"),
        col("n2"),
        col("tv_num"),
        // nullif: one side absent zeroes n1·n2 — NULL in DuckDB's bare
        // division, ANSI throw in Spark (extreme-fixture sweep, r10).
        expr("CAST(tv_num AS DOUBLE) / nullif(2.0 * CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE), 0.0)").as("tv"))
  }

  /** Pinball (quantile) loss of the seasonal-naive forecast at τ = 0.9,
    * scaled ×10 so it stays an exact integer: per evaluation day the
    * loss is 9·(y−f) when under-forecast, 1·(f−y) when over — the
    * asymmetric score quantile forecasts are graded with. Forecast =
    * the value 7 days earlier (join on d−7 over the bounded daily
    * rollup). Integer total; one shared division for the mean.
    */
  def pinballLoss(events: DataFrame): DataFrame = {
    val daily = dailyCents(events)
    val joined = daily.select(col("d").as("d1"), col("y").as("f"))
      .join(daily.select((col("d") - 7).as("d1"), col("y")), Seq("d1"))
    joined
      .agg(
        count(lit(1)).cast("long").as("n_eval"),
        sum(
          when(col("y") >= col("f"), lit(9L) * (col("y") - col("f")))
            .otherwise(col("f") - col("y")))
          .as("loss10_total"))
      .select(
        col("n_eval"),
        col("loss10_total"),
        expr("(CAST(loss10_total AS DOUBLE) / CAST(n_eval AS DOUBLE)) / 10.0 / 100.0")
          .as("mean_pinball_dollars"))
  }

  /** Map-column higher-order-function battery: per event type, the
    * hour-of-day count map built with `map_from_entries` over a SORTED
    * entry array (map building is order-sensitive — the sort pins it),
    * doubled with `transform_values`, thresholded with `map_filter`,
    * then exploded back to rows with the per-type surviving-key count.
    * Exercises the MapType HOF surface the array battery doesn't; all
    * values exact integers, the output a plain sorted row set any
    * engine can reproduce.
    */
  def mapFuncs(events: DataFrame): DataFrame = {
    val hourly = events
      .groupBy(col("event_type"), expr(s"${Stages.epochBucketSql("ts", 3600)} % 24").as("h"))
      .agg(count(lit(1)).as("c"))
      // a null hour (null ts) cannot be a map key — map_from_entries
      // throws NULL_MAP_KEY (r10 degenerate probe). Dropping the null-
      // hour group is the shared semantic; the oracle twin carries the
      // same `WHERE h IS NOT NULL`.
      .filter(col("h").isNotNull)
    hourly
      .groupBy(col("event_type"))
      .agg(sort_array(collect_list(struct(col("h"), col("c")))).as("entries"))
      .withColumn("m", expr("map_from_entries(entries)"))
      .withColumn("doubled", expr("transform_values(m, (k, v) -> v * 2)"))
      .withColumn("kept", expr("map_filter(doubled, (k, v) -> v >= 20)"))
      .select(
        col("event_type"),
        expr("CAST(size(kept) AS BIGINT)").as("n_kept"),
        explode(col("kept")).as(Seq("h", "doubled_count")))
      .select(col("event_type"), col("h"), col("doubled_count"), col("n_kept"))
  }

  /** l-diversity audit over the (order priority × order year)
    * quasi-identifier grid with order status as the sensitive
    * attribute: per QI group the row count and the number of DISTINCT
    * sensitive values l, plus the l ≥ 2 verdict — the release-safety
    * check that k-anonymity alone misses (a large group whose sensitive
    * value is constant still leaks). Two map-combined aggregates.
    */
  def lDiversity(orders: DataFrame): DataFrame =
    orders
      .groupBy(
        col("o_orderpriority").as("priority"),
        year(col("o_orderdate")).cast("long").as("o_year"))
      .agg(
        count(lit(1)).cast("long").as("n_rows"),
        countDistinct(col("o_orderstatus")).cast("long").as("l_div"))
      .select(
        col("priority"),
        col("o_year"),
        col("n_rows"),
        col("l_div"),
        (col("l_div") >= 2).as("is_diverse"))

  /** t-closeness audit over the same (order priority × order year)
    * quasi-identifier grid as [[lDiversity]], sensitive attribute =
    * order status: per QI group the total-variation distance between
    * the group's sensitive-value distribution and the GLOBAL one,
    * TV = ½ Σ_v |c_gv/n_g − c_v/n| — the release-safety bound
    * l-diversity misses (a group can be diverse yet skewed toward one
    * sensitive value). All mass terms are EXACT DECIMAL(38)
    * cross-products (|c_gv·n − c_v·n_g| — counts up to ~10¹² square to
    * ~10²⁴, past BIGINT but inside decimal38 on both engines); the one
    * division is at the output, and the t ≤ 0.2 verdict is decided by
    * integer cross-multiplication (5·num ≤ 2·n_g·n), never a float
    * compare. Plan: one (QI, status) count cube, a broadcast of the
    * |statuses|-bounded global marginal expanded over the QI grid, a
    * left join to zero-fill absent statuses, one grouped sum.
    */
  def tCloseness(orders: DataFrame): DataFrame = {
    val cell = orders
      .groupBy(
        col("o_orderpriority").as("priority"),
        year(col("o_orderdate")).cast("long").as("o_year"),
        col("o_orderstatus").as("status"))
      .agg(count(lit(1)).as("c_gv"))
    val group = cell.groupBy(col("priority"), col("o_year")).agg(sum(col("c_gv")).as("n_g"))
    val global = cell.groupBy(col("status")).agg(sum(col("c_gv")).as("c_v"))
    val total = global.agg(sum(col("c_v")).as("n"))
    group
      .crossJoin(broadcast(global.crossJoin(total)))
      .join(cell, Seq("priority", "o_year", "status"), "left")
      .withColumn("c_gv", coalesce(col("c_gv"), lit(0L)))
      .groupBy(col("priority"), col("o_year"))
      .agg(
        max(col("n_g")).as("n_g"),
        max(col("n")).as("n"),
        sum(expr("abs(CAST(c_gv AS DECIMAL(38,0)) * n - CAST(c_v AS DECIMAL(38,0)) * n_g)"))
          .as("tv_num"))
      .select(
        col("priority"),
        col("o_year"),
        col("n_g").as("n_rows"),
        expr("CAST(tv_num AS DOUBLE) / (2.0 * CAST(n_g AS DOUBLE) * CAST(n AS DOUBLE))")
          .as("tv_dist"),
        expr("5 * tv_num <= CAST(2 AS DECIMAL(38,0)) * n_g * n").as("is_close"))
  }

  /** Session-duration distribution: 30-minute-gap sessions per user
    * (the [[sessionizeBatch]] shape), durations in whole seconds, then
    * exact p50/p90 order statistics (lower rule) over the duration
    * value→count grid — corpus-scale sessions reduce to a bounded
    * distribution before any ranking — plus count and a shared-division
    * mean.
    */
  def sessionPercentiles(events: DataFrame): DataFrame = {
    val durations = events
      .withColumn("is_new", newSessionFlag(1800L))
      .withColumn(
        "session_id",
        sum(col("is_new")).over(userOrder.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy(col("user_id"), col("session_id"))
      .agg((max(expr(Stages.epochBucketSql("ts", 1))) - min(expr(Stages.epochBucketSql("ts", 1)))).as("dur"))
    def pick(p: Int) = Relational.rankPick(expr(Stages.type1RankSql(p.toString, "n")), col("dur"))
    Relational
      .gridRunningWeight(durations.groupBy(col("dur")).agg(count(lit(1)).as("c")), Nil, "dur", "c")
      .groupBy(col("n"))
      .agg(pick(50).as("p50_seconds"), pick(90).as("p90_seconds"), sum(col("dur") * col("c")).as("sd"))
      .select(
        col("n").as("n_sessions"),
        col("p50_seconds"),
        col("p90_seconds"),
        expr("CAST(sd AS DOUBLE) / CAST(n AS DOUBLE)").as("mean_seconds"))
  }

  /** Deterministic Poisson bootstrap of the MEDIAN: the same
    * hash-thresholded Poisson(1) multiplicities as [[poissonBootstrap]]
    * (the only bootstrap that runs at 100 TB — no global n, no
    * sampling-without-replacement state), but the per-replica statistic
    * is the exact LOWER-median over the replica's weighted value→count
    * grid, found by a cumulative window PARTITIONED BY replica (each
    * replica's grid is value-domain-bounded). The spread of the
    * replica medians is the nonparametric CI the mean bootstrap can't
    * give for skewed values.
    */
  def poissonBootstrapMedian(events: DataFrame, numResamples: Int = 8): DataFrame = {
    val mult = poissonMultiplierSql(resampleHashSql)
    val grid = events
      .select(col("event_id"), expr(Stages.centsSql("value")).as("x"))
      .withColumn("r", explode(expr(s"sequence(0, ${numResamples - 1})")))
      .withColumn("m", expr(mult))
      .groupBy(col("r").cast("long").as("resample"), col("x"))
      .agg(sum(col("m")).as("w"))
      .filter(col("w") > 0)
    Relational
      .gridRunningWeight(grid, Seq("resample"), "x", "w")
      .groupBy(col("resample"))
      .agg(
        max(col("n")).as("n_eff"),
        Relational.rankPick(expr(Stages.lowerMedianRankSql("n")), col("x")).as("median_cents"))
      .withColumn("median_dollars", expr("CAST(median_cents AS DOUBLE) / 100.0"))
  }

  /** Content-defined chunking (CDC) storage-dedup audit over the
    * document payloads: chunk boundaries fall where an 8-byte rolling
    * polynomial hash (Σ c[p−k]·31ᵏ over char codes) is ≡ 0 mod 64 —
    * content-keyed, so identical passages chunk identically whatever
    * their offset, which is what makes CDC dedup-stable where
    * fixed-size chunking isn't. Per-document chunking is one
    * array-lambda pass (char codes computed once); the corpus-level
    * readout counts distinct chunk hashes vs total — the storage dedup
    * ratio. Everything integer/hash; no floats but two shared
    * divisions.
    */
  def cdcChunking(documents: DataFrame): DataFrame = {
    // Boundary scan = native codegen kernel (graft_cdc_boundaries), not
    // the HOF spelling `filter(sequence(8, len), p -> Σ element_at(ch,
    // p−k)·31ᵏ % 64 = 0)`: higher-order lambdas evaluate interpreted —
    // an 8-term element_at sum per CHARACTER of the corpus — which was
    // this query's entire tail standing (r10 isolated best-of-2 at
    // sf0.1/32: 1.71/1.50 → 0.42/0.40 s, −73%). Bit-identical by
    // construction (codepoint positions, exact long arithmetic,
    // non-negative %; kernel-vs-HOF equivalence pinned in
    // BootCdcMerkleSpec incl. non-BMP/short/empty texts); the DuckDB
    // oracle twin is untouched.
    val chunks = documents
      .select(col("doc_id"), col("text"), expr("length(text)").cast("int").as("len"))
      .withColumn("bl", graft.functions.VectorFunctions.cdcBoundaries(col("text")))
      .withColumn("starts", expr("concat(array(1), transform(bl, p -> p + 1))"))
      .withColumn("ends", expr("concat(bl, array(len))"))
      .select(
        col("doc_id"),
        explode(expr("filter(zip_with(starts, ends, (s, e) -> struct(s AS s, e AS e)), z -> z.e >= z.s)"))
          .as("z"),
        col("text"))
      .select(
        col("doc_id"),
        (col("z.e") - col("z.s") + 1).cast("long").as("chunk_len"),
        md5(expr("substring(text, z.s, z.e - z.s + 1)")).as("chunk_md5"))
    chunks.agg(
      countDistinct(col("doc_id")).cast("long").as("n_docs"),
      count(lit(1)).cast("long").as("total_chunks"),
      countDistinct(col("chunk_md5")).cast("long").as("distinct_chunks"),
      sum(col("chunk_len")).as("total_chars"))
      .select(
        col("n_docs"),
        col("total_chunks"),
        col("distinct_chunks"),
        col("total_chars"),
        expr("CAST(distinct_chunks AS DOUBLE) / nullif(CAST(total_chunks AS DOUBLE), 0.0E0)").as("unique_ratio"),
        expr("CAST(total_chars AS DOUBLE) / nullif(CAST(total_chunks AS DOUBLE), 0.0E0)").as("mean_chunk_len"))
  }

  /** Two-level Merkle digest of the documents table: leaf = md5(text),
    * 16 buckets by doc_id mod 16, bucket hash = md5 of the SORTED
    * concatenated leaves (sorting makes the digest content-defined, not
    * order-defined), root = md5 of the sorted concatenated bucket
    * hashes. The incremental-verification primitive: a changed doc
    * flips exactly one bucket hash, so replicas compare 16 hashes
    * instead of the table. Bucket hashing is a map-combined
    * collect+sort per bucket (buckets are corpus/16-sized — the sort is
    * the one honest cost, same as any content-addressed digest).
    */
  def merkleDigest(documents: DataFrame): DataFrame = {
    val buckets = documents
      .select(expr("doc_id % 16").as("bucket"), md5(col("text")).as("leaf"))
      .groupBy(col("bucket"))
      .agg(
        count(lit(1)).cast("long").as("n_docs"),
        md5(expr("CAST(concat_ws('', sort_array(collect_list(leaf))) AS BINARY)")).as("bucket_hash"))
    val root = buckets
      .agg(md5(expr("CAST(concat_ws('', sort_array(collect_list(bucket_hash))) AS BINARY)")).as("root_hash"))
    buckets.crossJoin(broadcast(root))
  }

  /** Additive Holt–Winters (period 7) on the daily revenue series with
    * the same ×4 integer quantization as [[holtLinear]] (α=½, β=¼ on the
    * trend, γ=½ on the seasonal): the recursion is bit-exact with no
    * float anywhere — level/trend/seasonal updates are integer
    * divisions — and the fold's domain is the calendar (the corpus
    * reduces map-side to the day-sorted array). State carries the
    * 7-slot seasonal array; the one-step-ahead forecast adds the next
    * day's seasonal slot. Initialization: l=4·y₁, b=0, s≡0, documented
    * as part of the operator's contract.
    */
  def holtWinters(events: DataFrame): DataFrame = {
    dailyCents(events)
      .agg(sort_array(collect_list(struct(col("d"), col("y")))).as("xs"))
      // empty series → zero rows (element_at(xs, 0) throws; see holtLinear)
      .filter(expr("size(xs) > 0"))
      .select(expr("CAST(size(xs) AS BIGINT)").as("n_days"), expr(hwFoldSql).as("st"),
        expr("element_at(xs, size(xs)).d").as("last_d"))
      .select(
        col("n_days"),
        col("st.l").as("level_q"),
        col("st.b").as("trend_q"),
        col("st.s").as("seasonal_q"),
        expr("CAST(st.l + st.b + element_at(st.s, CAST((last_d + 1) % 7 + 1 AS INT)) AS DOUBLE) / 400.0")
          .as("forecast1_dollars"))
      .select(
        col("n_days"), col("level_q"), col("trend_q"),
        expr("element_at(seasonal_q, 1)").as("s0_q"),
        expr("element_at(seasonal_q, 4)").as("s3_q"),
        expr("element_at(seasonal_q, 7)").as("s6_q"),
        col("forecast1_dollars"))
  }

  /** The Holt–Winters fold: struct state (l, b, s[7]); the day's
    * seasonal slot is d%7 (calendar-keyed, so gaps in the series stay
    * aligned). l' = (2(4y − s_r) + 2(l+b)) div 4; b' = (l'−l+3b) div 4;
    * s_r' = (2(4y − l') + 2 s_r) div 4.
    */
  def hwFoldSql: String =
    """aggregate(
         xs,
         named_struct('l', CAST(0 AS BIGINT), 'b', CAST(0 AS BIGINT),
                      's', transform(sequence(1, 7), i -> CAST(0 AS BIGINT)),
                      'init', CAST(0 AS BIGINT)),
         (acc, x) -> CASE WHEN acc.init = 0
           THEN named_struct('l', x.y * 4, 'b', CAST(0 AS BIGINT), 's', acc.s, 'init', CAST(1 AS BIGINT))
           ELSE named_struct(
             'l', (2 * (x.y * 4 - element_at(acc.s, CAST(x.d % 7 + 1 AS INT))) + 2 * (acc.l + acc.b)) div 4,
             'b', ((2 * (x.y * 4 - element_at(acc.s, CAST(x.d % 7 + 1 AS INT))) + 2 * (acc.l + acc.b)) div 4
                   - acc.l + 3 * acc.b) div 4,
             's', transform(acc.s, (v, i) -> CASE WHEN i = CAST(x.d % 7 AS INT) THEN
                    (2 * (x.y * 4 - (2 * (x.y * 4 - element_at(acc.s, CAST(x.d % 7 + 1 AS INT))) + 2 * (acc.l + acc.b)) div 4)
                     + 2 * v) div 4
                  ELSE v END),
             'init', CAST(1 AS BIGINT))
         END)"""

  /** Forecast-error metric battery for the seasonal-naive forecast
    * (f_t = y_{t−7}): MASE (scaled by the in-sample naive-1 MAE — the
    * scale-free standard), WAPE, and bias, every one a ratio of exact
    * integer error sums (|e| in cents) — no float accumulates anywhere.
    */
  def maseWape(events: DataFrame): DataFrame = {
    val daily = dailyCents(events)
    val e7 = daily.select(col("d").as("d1"), col("y").as("f"))
      .join(daily.select((col("d") - 7).as("d1"), col("y")), Seq("d1"))
      .agg(
        count(lit(1)).cast("long").as("n7"),
        sum(abs(col("y") - col("f"))).as("sae7"),
        sum(col("y") - col("f")).as("se7"),
        sum(col("y")).as("sy7"))
    val e1 = daily.select(col("d").as("d1"), col("y").as("f"))
      .join(daily.select((col("d") - 1).as("d1"), col("y")), Seq("d1"))
      .agg(count(lit(1)).cast("long").as("n1"), sum(abs(col("y") - col("f"))).as("sae1"))
    e7.crossJoin(e1)
      .select(
        col("n7").as("n_eval"),
        col("sae7"),
        col("sae1"),
        col("n1"),
        expr("(CAST(sae7 AS DOUBLE) / CAST(n7 AS DOUBLE)) / (CAST(sae1 AS DOUBLE) / CAST(n1 AS DOUBLE))")
          .as("mase"),
        expr("CAST(sae7 AS DOUBLE) / CAST(sy7 AS DOUBLE)").as("wape"),
        expr("CAST(se7 AS DOUBLE) / CAST(sy7 AS DOUBLE)").as("bias"))
  }

  /** Exact 2-channel Shapley attribution of purchase conversion: users
    * partition into the four exposure cells {}, {click}, {view},
    * {click,view}; each channel's Shapley value is the average of its
    * two marginal contributions ½[(r₁₀−r₀₀)+(r₁₁−r₀₁)] over the exact
    * cell conversion rates. With two players the Shapley decomposition
    * is CLOSED FORM over integer cell counts — no permutation sampling
    * — and every rate is a shared-text division. Empty cells
    * contribute a 0 rate by an integer-condition CASE.
    */
  def shapleyAttribution(events: DataFrame): DataFrame = {
    val cells = events
      .groupBy(col("user_id"))
      .agg(
        max(when(col("event_type") === "click", 1L).otherwise(0L)).as("c"),
        max(when(col("event_type") === "view", 1L).otherwise(0L)).as("v"),
        max(when(col("event_type") === "purchase", 1L).otherwise(0L)).as("p"))
      .groupBy(col("c"), col("v"))
      .agg(count(lit(1)).as("n"), sum(col("p")).as("k"))
    val aggCols = (for { c <- 0 to 1; v <- 0 to 1 } yield Seq(
      sum(when(col("c") === c && col("v") === v, col("n")).otherwise(0L)).as(s"n$c$v"),
      sum(when(col("c") === c && col("v") === v, col("k")).otherwise(0L)).as(s"k$c$v"))).flatten
    val wide = cells.agg(aggCols.head, aggCols.tail: _*)
    def r(c: Int, v: Int): String =
      s"(CASE WHEN n$c$v = 0 THEN 0.0 ELSE CAST(k$c$v AS DOUBLE) / CAST(n$c$v AS DOUBLE) END)"
    wide.select(
      col("n00"), col("n10"), col("n01"), col("n11"),
      col("k00"), col("k10"), col("k01"), col("k11"),
      expr(s"0.5 * ((${r(1, 0)} - ${r(0, 0)}) + (${r(1, 1)} - ${r(0, 1)}))").as("phi_click"),
      expr(s"0.5 * ((${r(0, 1)} - ${r(0, 0)}) + (${r(1, 1)} - ${r(1, 0)}))").as("phi_view"))
  }

  /** Markov-chain (removal-effect) attribution over the
    * start→{click,view}→{purchase,null} journey graph: transition
    * counts come from per-user event sequences truncated at the first
    * purchase (lag pairs + a start edge + a null edge for
    * non-converting ends), conversion probability from start solves the
    * 2×2 transient system in closed form (Cramer), and each channel's
    * removal effect re-solves the chain with that channel's paths
    * broken — 1 − P(conv without c)/P(conv). The data-driven
    * alternative to position-based attribution; at corpus scale
    * everything reduces to a handful of integer transition counts.
    */
  def markovAttribution(events: DataFrame): DataFrame = {
    val rel = events
      .filter(col("event_type").isin("click", "view", "purchase"))
      .withColumn("pmin", min(when(col("event_type") === "purchase", col("ts"))).over(
        Window.partitionBy(col("user_id"))))
      .filter(col("pmin").isNull || col("ts") <= col("pmin"))
    val ordered = Window.partitionBy(col("user_id")).orderBy(col("ts").asc, col("event_id").asc)
    val fwd = rel.select(
      coalesce(lag(col("event_type"), 1).over(ordered), lit("start")).as("src"),
      col("event_type").as("dst"))
    val ends = Relational
      .topKPerGroup(rel, 1, Seq(col("user_id")), col("ts").desc, col("event_id").desc)
      .filter(col("event_type") =!= "purchase")
      .select(col("event_type").as("src"), lit("null").as("dst"))
    val trans = fwd.unionAll(ends)
      .groupBy(col("src"), col("dst"))
      .agg(count(lit(1)).as("n"))
    val transCols = for {
      s <- Seq("start", "click", "view")
      d <- Seq("click", "view", "purchase", "null")
    } yield sum(when(col("src") === s && col("dst") === d, col("n")).otherwise(0L))
      .as(s"c_${s.take(2)}_${d.take(2)}")
    val wide = trans.agg(transCols.head, transCols.tail: _*)
    def p(s: String, d: String): String = {
      val tot = s"(c_${s}_cl + c_${s}_vi + c_${s}_pu + c_${s}_nu)"
      s"(CASE WHEN $tot = 0 THEN 0.0 ELSE CAST(c_${s}_${d} AS DOUBLE) / CAST($tot AS DOUBLE) END)"
    }
    // full chain: solve (1-pcc)xc - pcv xv = pcp ; -pvc xc + (1-pvv)xv = pvp
    val det = s"((1.0 - ${p("cl", "cl")}) * (1.0 - ${p("vi", "vi")}) - ${p("cl", "vi")} * ${p("vi", "cl")})"
    val xc = s"((${p("cl", "pu")} * (1.0 - ${p("vi", "vi")}) + ${p("cl", "vi")} * ${p("vi", "pu")}) / nullif($det, 0.0E0))"
    val xv = s"((${p("vi", "pu")} * (1.0 - ${p("cl", "cl")}) + ${p("vi", "cl")} * ${p("cl", "pu")}) / nullif($det, 0.0E0))"
    val xs = s"(${p("st", "cl")} * $xc + ${p("st", "vi")} * $xv + ${p("st", "pu")})"
    // remove click: view-only chain. nullif on every degenerate-chain
    // denominator (absorbing self-loop p=1, zero conversion mass, zero
    // combined removal effect): DuckDB's bare /0 is NULL, Spark ANSI
    // throws — the guards keep the engines lock-step on inputs whose
    // transition structure collapses (extreme-fixture sweep, r10).
    val xvNoC = s"(${p("vi", "pu")} / nullif(1.0 - ${p("vi", "vi")}, 0.0E0))"
    val xsNoC = s"(${p("st", "vi")} * $xvNoC + ${p("st", "pu")})"
    val xcNoV = s"(${p("cl", "pu")} / nullif(1.0 - ${p("cl", "cl")}, 0.0E0))"
    val xsNoV = s"(${p("st", "cl")} * $xcNoV + ${p("st", "pu")})"
    val reC = s"(1.0 - $xsNoC / nullif($xs, 0.0E0))"
    val reV = s"(1.0 - $xsNoV / nullif($xs, 0.0E0))"
    wide.select(
      expr(xs).as("p_conv"),
      expr(reC).as("removal_click"),
      expr(reV).as("removal_view"),
      expr(s"($reC / nullif($reC + $reV, 0.0E0))").as("attr_click"),
      expr(s"($reV / nullif($reC + $reV, 0.0E0))").as("attr_view"))
  }

  /** Next-event-type prediction accuracy of the majority-class bigram
    * model under a user-parity split: transitions from even users train
    * the per-state argmax (ties → alphabetical), odd-user transitions
    * score it. The baseline every sequence model must beat, and an
    * integer-exact evaluation: counts, argmax by (count desc, type
    * asc), accuracy one shared division.
    */
  def nextEventAccuracy(events: DataFrame): DataFrame = {
    val ordered = Window.partitionBy(col("user_id")).orderBy(col("ts").asc, col("event_id").asc)
    val pairs = events
      .withColumn("nxt", lead(col("event_type"), 1).over(ordered))
      .filter(col("nxt").isNotNull)
      .select(col("user_id"), col("event_type").as("src"), col("nxt"))
    val trainCounts = pairs
      .filter(col("user_id") % 2 === 0)
      .groupBy(col("src"), col("nxt"))
      .agg(count(lit(1)).as("n"))
    val model = Relational
      .topKPerGroup(trainCounts, 1, Seq(col("src")), col("n").desc, col("nxt").asc)
      .select(col("src"), col("nxt").as("pred"))
    pairs
      .filter(col("user_id") % 2 === 1)
      .join(broadcast(model), Seq("src"), "left")
      .agg(
        count(lit(1)).cast("long").as("n_test"),
        sum(when(col("nxt") === col("pred"), 1L).otherwise(0L)).as("n_correct"))
      .select(
        col("n_test"),
        col("n_correct"),
        expr("CAST(n_correct AS DOUBLE) / CAST(n_test AS DOUBLE)").as("accuracy"))
  }

  /** Classical additive decomposition of the daily revenue series:
    * trend = centered 7-day moving average (kept as the INTEGER 7-day
    * window sum t7 — only complete windows qualify), detrended = 7y −
    * t7 (integer), seasonal = the day-of-week mean of the detrended
    * values (one shared division per dow), remainder = detrended/7 −
    * seasonal. The moving-average twin of [[medianPolish]]; everything
    * is integer until the two shared final divisions per row.
    */
  def classicalDecomposition(events: DataFrame): DataFrame = {
    val daily = dailyCents(events)
    val w = Window.partitionBy(lit(1)).orderBy(col("d").asc).rowsBetween(-3, 3)
    val trended = daily
      .withColumn("t7", sum(col("y")).over(w))
      .withColumn("cnt", count(lit(1)).over(w))
      .filter(col("cnt") === 7)
      .withColumn("detr_x7", lit(7L) * col("y") - col("t7"))
      .withColumn("dow", expr("d % 7"))
    val seasonal = trended
      .groupBy(col("dow"))
      .agg(sum(col("detr_x7")).as("s_sum"), count(lit(1)).as("s_n"))
    trended
      .join(broadcast(seasonal), Seq("dow"))
      .select(
        col("d").as("day_epoch"),
        col("y").as("y_cents"),
        col("t7"),
        expr("CAST(t7 AS DOUBLE) / 7.0").as("trend_cents"),
        expr("CAST(s_sum AS DOUBLE) / CAST(s_n AS DOUBLE) / 7.0").as("seasonal_cents"),
        expr("CAST(detr_x7 AS DOUBLE) / 7.0 - CAST(s_sum AS DOUBLE) / CAST(s_n AS DOUBLE) / 7.0")
          .as("remainder_cents"))
  }

  /** Simpson's-paradox screen on the BUILDING-vs-MACHINERY mean order
    * value gap: the overall sign of meanA − meanB versus its sign
    * within every nation stratum, with each comparison done by EXACT
    * integer cross-multiplication (sA·nB vs sB·nA — no float ever), and
    * the count of strata whose direction contradicts the aggregate.
    * A nonzero flip count is the warning that the pooled comparison is
    * confounded by customer mix — the check [[Inference.oaxacaDecomposition]]
    * quantifies.
    */
  def simpsonParadox(
      orders: DataFrame,
      customer: DataFrame,
      nation: DataFrame): DataFrame = {
    val base = orders
      .join(customer, col("o_custkey") === col("c_custkey"))
      .join(broadcast(nation), col("c_nationkey") === col("n_nationkey"))
      .filter(col("c_mktsegment").isin("BUILDING", "MACHINERY"))
      .select(
        col("n_name"),
        when(col("c_mktsegment") === "BUILDING", 1L).otherwise(0L).as("is_a"),
        expr(Stages.centsSql("o_totalprice")).as("cents"))
    val strata = base
      .groupBy(col("n_name"))
      .agg(
        sum(when(col("is_a") === 1L, col("cents")).otherwise(0L)).as("sa"),
        sum(col("is_a")).as("na"),
        sum(when(col("is_a") === 0L, col("cents")).otherwise(0L)).as("sb"),
        sum(lit(1L) - col("is_a")).as("nb"))
      .filter(col("na") > 0 && col("nb") > 0)
      .withColumn("stratum_sign", expr("CAST(sign(sa * nb - sb * na) AS BIGINT)"))
    val overall = strata.agg(
      sum(col("sa")).as("ta"), sum(col("na")).as("tna"),
      sum(col("sb")).as("tb"), sum(col("nb")).as("tnb"))
      .withColumn("overall_sign", expr("CAST(sign(ta * tnb - tb * tna) AS BIGINT)"))
    strata
      .crossJoin(broadcast(overall.select(col("overall_sign"))))
      .agg(
        max(col("overall_sign")).as("overall_sign"),
        count(lit(1)).cast("long").as("n_strata"),
        sum(when(col("stratum_sign") * col("overall_sign") < 0, 1L).otherwise(0L))
          .as("n_flipped"))
      .select(
        col("overall_sign"),
        col("n_strata"),
        col("n_flipped"),
        expr("CAST(n_flipped AS DOUBLE) / CAST(n_strata AS DOUBLE)").as("flip_share"))
  }

  /** Adstock (geometric-carryover) regression: clicks decay with a
    * half-life of one day (aₜ = xₜ + aₜ₋₁ div 2 — integer, the
    * quantized carryover), and purchase revenue regresses on the
    * adstocked series. ONE aggregate fold over the day-sorted array
    * computes the adstock recursion AND the OLS sufficient statistics
    * (Σa, Σa², Σay, ...) in the same pass — integers throughout, the
    * slope/intercept/R² closed forms shared text. The marketing-mix
    * building block: carryover means today's clicks explain tomorrow's
    * revenue, which plain same-day correlation misses.
    */
  def adstockRegression(events: DataFrame): DataFrame = {
    val daily = dailyClickPurchase(events)
    val fold =
      """aggregate(
           xs,
           named_struct('a', CAST(0 AS BIGINT), 'n', CAST(0 AS BIGINT),
                        'sa', CAST(0 AS BIGINT), 'saa', CAST(0 AS BIGINT),
                        'sy', CAST(0 AS BIGINT), 'syy', CAST(0 AS BIGINT),
                        'say', CAST(0 AS BIGINT)),
           (acc, e) -> named_struct(
             'a', e.x + acc.a div 2,
             'n', acc.n + 1,
             'sa', acc.sa + (e.x + acc.a div 2),
             'saa', acc.saa + (e.x + acc.a div 2) * (e.x + acc.a div 2),
             'sy', acc.sy + e.y,
             'syy', acc.syy + e.y * e.y,
             'say', acc.say + (e.x + acc.a div 2) * e.y))"""
    val cxx = cmomSql("saa", "sa", "sa")
    val cxy = cmomSql("say", "sa", "sy")
    val cyy = cmomSql("syy", "sy", "sy")
    daily
      .agg(sort_array(collect_list(struct(col("d"), col("x"), col("y")))).as("xs"))
      // empty series → zero rows (the oracle's CTE chain is empty)
      .filter(expr("size(xs) > 0"))
      .select(expr(fold).as("st"))
      .select(
        col("st.n").as("n"),
        col("st.sa").as("sa"),
        col("st.saa").as("saa"),
        col("st.sy").as("sy"),
        col("st.syy").as("syy"),
        col("st.say").as("say"))
      .select(
        col("n").as("n_days"),
        expr(s"($cxy / nullif($cxx, 0.0E0))").as("beta"),
        expr(
          s"""(${Stages.meanSql("sy", Stages.divisorSql())}
              - ($cxy / nullif($cxx, 0.0E0)) * (${Stages.meanSql("sa", Stages.divisorSql())}))""").as("intercept"),
        expr(s"(($cxy * $cxy) / nullif($cxx * $cyy, 0.0E0))").as("r2"))
  }

  /** Per-user behavioral counts plus the median-split spend label
    * (spend > the corpus lower-median per-user purchase total — both
    * classes are non-empty at every scale factor, unlike a has-purchase
    * label, which saturates on small fixtures).
    */
  def userFeaturesLabeled(events: DataFrame): DataFrame = {
    val base = events
      .groupBy(col("user_id"))
      .agg(
        sum(when(col("event_type") === "click", 1L).otherwise(0L)).as("clicks"),
        sum(when(col("event_type") === "view", 1L).otherwise(0L)).as("views"),
        sum(when(col("event_type") === "error", 1L).otherwise(0L)).as("errors"),
        sum(when(col("event_type") === "purchase", expr(Stages.centsSql("value"))).otherwise(0L))
          .as("spend"))
    val med = Relational
      .gridRunningWeight(base.groupBy(col("spend")).agg(count(lit(1)).as("c")), Nil, "spend", "c")
      .agg(Relational.rankPick(expr(Stages.lowerMedianRankSql("n")), col("spend")).as("med"))
    base
      .crossJoin(broadcast(med))
      .withColumn("label", when(col("spend") > col("med"), 1L).otherwise(0L))
  }

  /** Per-feature ranking power (AUC) battery: for each behavioral count
    * feature (clicks, views, errors per user), the probability a
    * converting user outranks a non-converting one — AUC from the
    * rank-sum identity 2U = 2·#{pos>neg} + #{ties}, computed per
    * feature over a value-grid cumulative window PARTITIONED BY feature
    * (one distributed pass for the whole battery, no per-feature job).
    * Integer to the final division — the model-free feature screen run
    * before any training job.
    */
  def featureAuc(events: DataFrame): DataFrame = {
    val users = userFeaturesLabeled(events)
    val long = users.select(
      explode(expr(
        """array(struct('clicks' AS feature, clicks AS x, label),
                 struct('views' AS feature, views AS x, label),
                 struct('errors' AS feature, errors AS x, label))""")).as("f"))
      .select(col("f.feature").as("feature"), col("f.x").as("x"), col("f.label").as("label"))
    val grid = long
      .groupBy(col("feature"), col("x"))
      .agg(
        sum(col("label")).as("p"),
        sum(lit(1L) - col("label")).as("q"))
    val below = Window
      .partitionBy(col("feature"))
      .orderBy(col("x"))
      .rowsBetween(Window.unboundedPreceding, -1)
    grid
      .withColumn("cq", coalesce(sum(col("q")).over(below), lit(0L)))
      .groupBy(col("feature"))
      .agg(
        sum(col("p")).as("n_pos"),
        sum(col("q")).as("n_neg"),
        sum(lit(2L) * col("p") * col("cq") + col("p") * col("q")).as("u2"))
      .select(
        col("feature"),
        col("n_pos"),
        col("n_neg"),
        col("u2"),
        // nullif: a single-class input has no ROC to integrate (r10
        // degenerate probe; oracle carries the same guard)
        expr("CAST(u2 AS DOUBLE) / nullif(2.0 * CAST(n_pos AS DOUBLE) * CAST(n_neg AS DOUBLE), 0.0E0)")
          .as("auc"))
  }

  /** ROC curve points for the clicks→conversion classifier at integer
    * thresholds 0..19: TPR and FPR per threshold from exact user
    * counts (one conditional aggregate over the user table × the
    * 20-point threshold grid). The curve q_auc summarizes, emitted for
    * threshold selection.
    */
  def rocPoints(events: DataFrame): DataFrame = {
    val users = userFeaturesLabeled(events)
    users
      .select(col("clicks"), col("label"), explode(expr("sequence(0, 19)")).as("t"))
      .groupBy(col("t").cast("long").as("threshold"))
      .agg(
        sum(when(col("clicks") >= col("t") && col("label") === 1L, 1L).otherwise(0L)).as("tp"),
        sum(when(col("clicks") >= col("t") && col("label") === 0L, 1L).otherwise(0L)).as("fp"),
        sum(col("label")).as("n_pos"),
        sum(lit(1L) - col("label")).as("n_neg"))
      .select(
        col("threshold"),
        col("tp"),
        col("fp"),
        // nullif: single-class labels (r10 degenerate probe; oracle same)
        expr("CAST(tp AS DOUBLE) / nullif(CAST(n_pos AS DOUBLE), 0.0E0)").as("tpr"),
        expr("CAST(fp AS DOUBLE) / nullif(CAST(n_neg AS DOUBLE), 0.0E0)").as("fpr"))
  }

  /** Online perceptron (integer weights) predicting weekend days from
    * daily (clicks, views): one fold over the day-sorted series with
    * the classic mistake-driven update w ← w + y·x on
    * y·(w·x + b) ≤ 0 — every weight an exact integer, the whole model a
    * bit-portable fold state, online mistakes counted as it learns.
    * The minimal "ML training as an aggregate fold" witness: the same
    * shape a distributed SGD epoch has, minus the float nondeterminism.
    */
  def perceptronWeekend(events: DataFrame): DataFrame = {
    val daily = events
      .groupBy(expr(Stages.epochBucketSql("ts", 86400)).as("d"))
      .agg(
        sum(when(col("event_type") === "click", 1L).otherwise(0L)).as("x1"),
        sum(when(col("event_type") === "view", 1L).otherwise(0L)).as("x2"))
      .withColumn("y", expr("CASE WHEN d % 7 IN (5, 6) THEN CAST(1 AS BIGINT) ELSE CAST(-1 AS BIGINT) END"))
    val fold =
      """aggregate(
           xs,
           named_struct('w1', CAST(0 AS BIGINT), 'w2', CAST(0 AS BIGINT), 'b', CAST(0 AS BIGINT),
                        'n', CAST(0 AS BIGINT), 'mist', CAST(0 AS BIGINT)),
           (acc, e) -> IF(e.y * (acc.w1 * e.x1 + acc.w2 * e.x2 + acc.b) <= 0,
             named_struct('w1', acc.w1 + e.y * e.x1, 'w2', acc.w2 + e.y * e.x2,
                          'b', acc.b + e.y, 'n', acc.n + 1, 'mist', acc.mist + 1),
             named_struct('w1', acc.w1, 'w2', acc.w2, 'b', acc.b,
                          'n', acc.n + 1, 'mist', acc.mist)))"""
    daily
      .agg(sort_array(collect_list(struct(col("d"), col("x1"), col("x2"), col("y")))).as("xs"))
      // empty series → zero rows (the oracle's CTE chain is empty)
      .filter(expr("size(xs) > 0"))
      .select(expr(fold).as("st"))
      .select(
        col("st.n").as("n_days"),
        col("st.w1").as("w1"),
        col("st.w2").as("w2"),
        col("st.b").as("b"),
        col("st.mist").as("n_mistakes"),
        expr("1.0 - CAST(st.mist AS DOUBLE) / nullif(CAST(st.n AS DOUBLE), 0.0E0)").as("online_accuracy"))
  }

  /** Hierarchical-forecast reconciliation audit: per event type, the
    * bottom-up seasonal-naive forecast for the last 7 observed days
    * (Σ yₜ₋₇ per type) versus the top-down allocation (total forecast ×
    * the type's historical revenue share), and the coherence gap
    * between the two — the diagnostic that decides which direction a
    * forecast hierarchy should reconcile. Shares are exact integer
    * ratios; the gap is one shared double subtraction per type.
    */
  def forecastReconciliation(events: DataFrame): DataFrame = {
    val typed = events
      .groupBy(expr(Stages.epochBucketSql("ts", 86400)).as("d"), col("event_type"))
      .agg(expr(s"sum(${Stages.centsSql("value")})").as("y"))
    val maxD = typed.agg(max(col("d")).as("dmax"))
    val window7 = typed
      .crossJoin(broadcast(maxD))
      .filter(col("d") > col("dmax") - 7 && col("d") <= col("dmax"))
    val bu = window7
      .select(col("event_type"), (col("d") - 7).as("src_d"))
      .join(
        typed.select(col("event_type"), col("d").as("src_d"), col("y")),
        Seq("event_type", "src_d"))
      .groupBy(col("event_type"))
      .agg(sum(col("y")).as("bu_forecast"))
    val hist = typed.groupBy(col("event_type")).agg(sum(col("y")).as("hist_total"))
    val totals = bu.agg(sum(col("bu_forecast")).as("grand_bu"))
      .crossJoin(hist.agg(sum(col("hist_total")).as("grand_hist")))
    bu.join(hist, Seq("event_type"))
      .crossJoin(broadcast(totals))
      .select(
        col("event_type"),
        col("bu_forecast"),
        col("hist_total"),
        expr("CAST(hist_total AS DOUBLE) / CAST(grand_hist AS DOUBLE)").as("hist_share"),
        expr("CAST(grand_bu AS DOUBLE) * (CAST(hist_total AS DOUBLE) / CAST(grand_hist AS DOUBLE))")
          .as("td_forecast"),
        expr(
          """CAST(bu_forecast AS DOUBLE)
             - CAST(grand_bu AS DOUBLE) * (CAST(hist_total AS DOUBLE) / CAST(grand_hist AS DOUBLE))""")
          .as("coherence_gap"))
  }

  /** Offline greedy-bandit replay over the daily (purchase, click)
    * reward arms: each day the policy pulls the arm with the higher
    * historical mean reward (ties → purchase), comparing means by
    * EXACT integer cross-multiplication (s₁·n₂ vs s₂·n₁ — the float-
    * free argmax), collects that day's realized reward, and updates
    * its state — one aggregate fold over the day-sorted series. Emits
    * cumulative reward, per-arm pulls, and regret against the best
    * fixed arm in hindsight. The evaluation loop any bandit-driven
    * ranking policy replays before shipping.
    */
  def banditReplay(events: DataFrame): DataFrame = {
    val daily = events
      .groupBy(expr(Stages.epochBucketSql("ts", 86400)).as("d"))
      .agg(
        sum(when(col("event_type") === "purchase", expr(Stages.centsSql("value"))).otherwise(0L))
          .as("rp"),
        sum(when(col("event_type") === "click", expr(Stages.centsSql("value"))).otherwise(0L))
          .as("rc"))
    val fold =
      """aggregate(
           xs,
           named_struct('np', CAST(0 AS BIGINT), 'sp', CAST(0 AS BIGINT),
                        'nc', CAST(0 AS BIGINT), 'sc', CAST(0 AS BIGINT),
                        'reward', CAST(0 AS BIGINT), 'pulls_p', CAST(0 AS BIGINT)),
           (acc, e) -> IF(acc.sp * acc.nc >= acc.sc * acc.np,
             named_struct('np', acc.np + 1, 'sp', acc.sp + e.rp, 'nc', acc.nc, 'sc', acc.sc,
                          'reward', acc.reward + e.rp, 'pulls_p', acc.pulls_p + 1),
             named_struct('np', acc.np, 'sp', acc.sp, 'nc', acc.nc + 1, 'sc', acc.sc + e.rc,
                          'reward', acc.reward + e.rc, 'pulls_p', acc.pulls_p)))"""
    daily
      .agg(
        sort_array(collect_list(struct(col("d"), col("rp"), col("rc")))).as("xs"),
        sum(col("rp")).as("tot_p"),
        sum(col("rc")).as("tot_c"),
        count(lit(1)).cast("long").as("n_days"))
      .select(col("n_days"), col("tot_p"), col("tot_c"), expr(fold).as("st"))
      .select(
        col("n_days"),
        col("st.pulls_p").as("pulls_purchase"),
        (col("n_days") - col("st.pulls_p")).as("pulls_click"),
        col("st.reward").as("reward_cents"),
        greatest(col("tot_p"), col("tot_c")).as("best_fixed_cents"),
        (greatest(col("tot_p"), col("tot_c")) - col("st.reward")).as("regret_cents"))
  }

  /** Event study around the peak revenue day: abnormal revenue at
    * offsets −3..+3 relative to the corpus-wide maximum-revenue day
    * (ties → earliest), against the all-other-days baseline mean — the
    * promotion/incident post-mortem shape. The anchor is an exact
    * integer argmax; the baseline is one shared division.
    */
  def eventStudy(events: DataFrame): DataFrame = {
    val daily = dailyCents(events)
    val anchor = Relational.rankedTopK(daily, 1, col("y").desc, col("d").asc)
      .select(col("d").as("peak_d"))
    val withOff = daily
      .crossJoin(broadcast(anchor))
      .withColumn("off", col("d") - col("peak_d"))
    val baseline = withOff
      .filter(abs(col("off")) > 3)
      .agg(sum(col("y")).as("base_sum"), count(lit(1)).as("base_n"))
    withOff
      .filter(abs(col("off")) <= 3)
      .crossJoin(broadcast(baseline))
      .select(
        col("off").as("offset_days"),
        col("y").as("y_cents"),
        expr("CAST(base_sum AS DOUBLE) / CAST(base_n AS DOUBLE)").as("baseline_cents"),
        expr("CAST(y AS DOUBLE) - CAST(base_sum AS DOUBLE) / CAST(base_n AS DOUBLE)")
          .as("abnormal_cents"))
  }

  /** Gaps-and-islands over the top-5 most active users' activity
    * calendars: contiguous active-day runs via the classic d − rank
    * grouping key (consecutive days share it), emitting each island's
    * start, end and length plus the gap to the previous island. The
    * per-user ranking partitions by user — fully distributed — and the
    * top-5 selection is a TakeOrdered on the user dimension.
    */
  def activityIslands(events: DataFrame): DataFrame = {
    val userDays = events
      .select(col("user_id"), expr(Stages.epochBucketSql("ts", 86400)).as("d"))
      .distinct()
    val top = Relational
      .rankedTopK(
        events.groupBy(col("user_id")).agg(count(lit(1)).as("n_events")),
        5, col("n_events").desc, col("user_id").asc)
      .select(col("user_id"), col("n_events"))
    val w = Window.partitionBy(col("user_id")).orderBy(col("d").asc)
    userDays
      .join(broadcast(top), Seq("user_id"))
      .withColumn("grp", col("d") - row_number().over(w).cast("long"))
      .groupBy(col("user_id"), col("grp"))
      .agg(
        min(col("d")).as("island_start"),
        max(col("d")).as("island_end"),
        count(lit(1)).cast("long").as("island_days"))
      .withColumn(
        "gap_before",
        col("island_start")
          - lag(col("island_end"), 1).over(
            Window.partitionBy(col("user_id")).orderBy(col("island_start").asc))
          - 1)
      .select(
        col("user_id"),
        col("island_start"),
        col("island_end"),
        col("island_days"),
        col("gap_before"))
  }

  /** One pass over events → (day, purchase-revenue cents, click count). */
  /** The daily cents series: day number `d` and the day's summed value
    * cents `y`. */
  private def dailyCents(events: DataFrame): DataFrame =
    events
      .groupBy(expr(Stages.epochBucketSql("ts", 86400)).as("d"))
      .agg(expr(s"sum(${Stages.centsSql("value")})").as("y"))

  private def dailyClickPurchase(events: DataFrame): DataFrame =
    events
      .groupBy(expr(Stages.epochBucketSql("ts", 86400)).as("d"))
      .agg(
        sum(when(col("event_type") === "purchase", expr(Stages.centsSql("value"))).otherwise(0L))
          .as("y"),
        sum(when(col("event_type") === "click", 1L).otherwise(0L)).as("x"))
}
