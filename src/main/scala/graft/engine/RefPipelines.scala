package graft.engine

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** The six reference pipelines (SURVEY.md §0, §2), re-expressed as pure
  * `DataFrame => DataFrame` stages over the driver fixtures (mapping in
  * SURVEY.md §7: `events` plays the trip stream, `nation` the zone lookup,
  * `orders`/`lineitem` the typed/derived-column surface at volume).
  *
  * Each function works unchanged on a batch OR a streaming DataFrame —
  * Structured Streaming's unified API means the streaming runner
  * ([[graft.streaming.StreamRunner]]) composes these same stages.
  *
  * Scale notes (100 TB design):
  *  - Hourly aggregations shuffle once on the window key with map-side
  *    partial aggregation; output cardinality = #hours, tiny. In
  *    streaming they need one reducer: `StreamRunner` runs them on one
  *    state partition, since each extra one adds a state-store commit
  *    per trigger.
  *  - The lookup join is an explicit `broadcast` (25-row dim) → zero
  *    shuffle on the fact side, mirroring reference
  *    `spark_streaming.py:311`.
  *  - Detectors are narrow (filter+project, whole-stage codegen'd) except
  *    the fee detector's per-order aggregation, which shuffles on the
  *    natural join key `l_orderkey` once.
  */
object RefPipelines {

  /** JSON payload schema for `events.props` — the analog of the reference's
    * 19-field message schema (`spark_streaming.py:60-80`), parsed with
    * `from_json` exactly as the reference parses Kafka values (P2).
    */
  val propsSchema: StructType = StructType(Seq(StructField("k", StringType, nullable = true)))

  /** Query 1 analog — full typed table (`spark_streaming.py:127-138`).
    * JSON parse (P2) + flatten (P3) + null-normalize/cast (P4) + derived
    * column (P7) + drop (P6).
    */
  def fullTable(events: DataFrame): DataFrame =
    events
      .withColumn("parsed", from_json(col("props"), propsSchema))
      .select(
        col("event_id"),
        col("ts"),
        col("user_id"),
        Stages.nullNorm(col("event_type"), "event_type"),
        col("value"),
        Stages.nullNormCast(col("parsed").getField("k"), IntegerType, "props_k"))

  /** Query 2 analog — abnormal-duration detector
    * (`spark_streaming.py:155-193`). Duration = days between order date and
    * ship date via epoch-second arithmetic (P7); violation = out of
    * [1, 2000] days (F1); then the reference's round/format projection (P8).
    */
  def abnormalDuration(lineitem: DataFrame, orders: DataFrame): DataFrame = {
    val joined = lineitem.join(orders, col("l_orderkey") === col("o_orderkey"))
    joined
      .withColumn(
        "lead_sec", expr(Stages.epochBucketSql("l_shipdate", 1)) - expr(Stages.epochBucketSql("o_orderdate", 1)))
      .withColumn("lead_days", col("lead_sec") / lit(86400))
      .filter(Stages.rangeViolation(col("lead_days"), 1.0, 2000.0))
      .select(
        col("l_orderkey"),
        col("l_linenumber"),
        date_format(col("o_orderdate"), "yyyy-MM-dd").as("order_date"),
        date_format(col("l_shipdate"), "yyyy-MM-dd").as("ship_date"),
        // the reference's `round(x, 2)` projection, spelled exactly
        // ([[Stages.halfUpCentiSql]]): round(double, 2) splits engines at
        // hundredth midpoints — dormant on midnight-aligned fixture dates
        // (lead_days integral) but a gate flake on any intraday input
        expr(Stages.halfUpCentiSql("lead_sec", 86400L)).as("lead_days"))
  }

  /** Per-line charge in integer cents. The per-row double product is
    * bit-identical across engines (same association), and rounding each
    * LINE to cents before summing makes the order total exact integer
    * arithmetic — summing raw double products and rounding at the end is
    * boundary-prone: at sf0.1 one order's discrepancy lands on an exact
    * cent midpoint and `round(,2)` splits across engines.
    */
  val lineChargeCentsSql: String =
    Stages.centsSql("l_extendedprice * (1 - l_discount) * (1 + l_tax)")

  /** Query 3 analog — abnormal-fee detector (`spark_streaming.py:196-239`).
    * Recompute the order total from its parts (P7 component sum) and flag
    * `abs(actual - calculated) > 1 OR actual IS NULL` (F2).
    */
  def abnormalFee(lineitem: DataFrame, orders: DataFrame): DataFrame = {
    val calc = lineitem
      .groupBy(col("l_orderkey"))
      .agg(expr(s"sum($lineChargeCentsSql)").as("calc_cents"))
    orders
      .withColumn("total_cents", expr(Stages.centsSql("o_totalprice")))
      .join(calc, col("o_orderkey") === col("l_orderkey"), "left")
      // PRESERVED reference semantics (spark_streaming.py:207): the
      // filter null-checks only the ACTUAL total, so an order whose
      // recomputed total is entirely missing (childless order here; a
      // null fee component in the reference) propagates NULL through the
      // abs() comparison and is dropped, not flagged — the reference
      // behaves identically when any caculated_* component is null. A
      // detector that flags missing recomputations would add
      // `calc_cents IS NULL`; parity keeps the reference's blind spot.
      .filter(abs(col("total_cents") - col("calc_cents")) > 100 || col("o_totalprice").isNull)
      .select(
        col("o_orderkey"),
        (col("total_cents") / lit(100.0)).as("total_amount"),
        (col("calc_cents") / lit(100.0)).as("caculated_total"),
        (abs(col("total_cents") - col("calc_cents")) / lit(100.0)).as("discrepancy"))
  }

  /** Cents expressions shared verbatim with the DuckDB oracle (see
    * [[Stages.halfUpAvgDollarsSql]] for why plain `round(avg(x),2)` is not
    * cross-engine deterministic).
    */
  val valueCents: String = Stages.centsSql("value")
  val purchaseCents: String = Stages.centsWhenSql("event_type = 'purchase'", "value")
  val signupCents: String = Stages.centsWhenSql("event_type = 'signup'", "value")

  /** The window's start as the reference's (`date`, `hour`) strings (P8),
    * shared by the three hourly pipelines. */
  private val windowHour: Seq[Column] = Seq(
    date_format(col("window.start"), "yyyy-MM-dd").as("date"),
    date_format(col("window.start"), "HH:mm:ss").as("hour"))

  /** Query 4 analog — hourly average revenue (`spark_streaming.py:242-269`).
    * Not-null filter (F3), tumbling 60-minute window (A1), conditional
    * averages per category (A2 — the reference's credit-card/cash split,
    * here purchase/signup), then the reference's date_format/round
    * projection (P8).
    */
  def hourlyAvgRevenue(events: DataFrame): DataFrame =
    events
      .filter(col("value").isNotNull)
      .groupBy(window(col("ts"), "60 minutes"))
      .agg(
        expr(Stages.halfUpAvgDollarsSql(valueCents)).as("avg_revenue"),
        expr(Stages.halfUpAvgDollarsSql(purchaseCents)).as("avg_purchase"),
        expr(Stages.halfUpAvgDollarsSql(signupCents)).as("avg_signup"))
      .select(windowHour ++ Seq(col("avg_revenue"), col("avg_purchase"), col("avg_signup")): _*)

  /** Query 5 analog — hourly trip count (`spark_streaming.py:272-298`).
    * Windowed COUNT(*) (A3) + conditional counts per category (A4).
    */
  def hourlyTripCount(events: DataFrame): DataFrame =
    events
      .groupBy(window(col("ts"), "60 minutes"))
      .agg(
        count(lit(1)).as("total_trips"),
        count(when(col("event_type") === "purchase", lit(1))).as("purchase_trips"),
        count(when(col("event_type") === "signup", lit(1))).as("signup_trips"))
      .select(windowHour ++ Seq(col("total_trips"), col("purchase_trips"), col("signup_trips")): _*)

  /** Query 6 analog — hourly count per borough
    * (`spark_streaming.py:301-337`): stream–static broadcast LEFT join (J1)
    * on a derived int key, then windowed count grouped by the joined name
    * (A5). `count(col)` (not `count(*)`) to preserve the reference's
    * skip-nulls semantics.
    */
  def hourlyCountByLookup(events: DataFrame, nation: DataFrame): DataFrame =
    events
      .withColumn("nation_key", pmod(col("user_id"), lit(25)).cast("int"))
      .join(broadcast(nation), col("nation_key") === col("n_nationkey"), "left")
      .groupBy(window(col("ts"), "60 minutes"), col("n_name"))
      .agg(count(col("user_id")).as("trip_count"))
      .select(windowHour ++ Seq(col("n_name").as("borough"), col("trip_count")): _*)
}
