package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.engine.{Analytics, AsOfJoin, Graph, Inference, Joins, RefPipelines, Relational, Stages, Tables, TpcH}
import graft.multimodal.Multimodal
import graft.similarity.Similarity
import graft.text.{Dedup, TextAnalysis}

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * Every query is a pure function of (session, fixture dir); each has an
  * equivalent DuckDB oracle in [[oracleSql]] with identical column names
  * (the driver's compare hashes values under name-sorted columns). Results
  * are sorted on a natural unique key so both engines emit identical row
  * sets in canonical order — the `orderBy` lives HERE (verify surface),
  * not in the engine stages, which stay order-free and
  * streaming-composable. All hash-based operators (MinHash, SimHash,
  * winnowing) run on md5-derived hashes, and LSH/IVF on deterministic
  * constants embedded in the oracle SQL, precisely so the oracle can
  * reproduce them — including q_frame_features, whose fake decode is
  * integer-exact so the oracle recomputes it from the payload text.
  */
object SparkEntry {

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    queries("q_hourly_avg_revenue")(spark, "/root/testdata/sf0.001")

  /** One query: its name, its builder over (session, fixture dir), and its
    * DuckDB oracle SQL.
    */
  final case class QueryDef(
      name: String,
      build: (SparkSession, String) => DataFrame,
      oracleSql: String)

  /** The registry: one [[QueryDef]] per query, each with equivalent ANSI
    * SQL runnable by DuckDB on the same parquet tables — every query,
    * including q_frame_features (the fake decode is integer-exact
    * arithmetic over payload bytes, so SQL recomputes frames from the
    * payload text). [[queries]] and [[oracleSql]] are views of this list.
    */
  private[graft] lazy val defs: Seq[QueryDef] = Seq(
    // ---- reference parity: the six pipelines (SURVEY.md §0, §2) ----
    QueryDef("q_full_table", (s, dir) =>
      RefPipelines.fullTable(Tables.events(s, dir)).orderBy("event_id"),
      // json_valid guard: DuckDB's json_extract THROWS on malformed
      // props (Spark's from_json is NULL) — extreme-fixture sweep, r10.
      """WITH j AS (SELECT *, CASE WHEN json_valid(props)
                                   THEN json_extract_string(props, '$.k') END AS jk
                    FROM events)
         SELECT event_id, CAST(ts AS TIMESTAMP) AS ts, user_id,
         CASE WHEN event_type = '' THEN NULL ELSE event_type END AS event_type,
         value,
         CASE WHEN jk = '' THEN NULL ELSE CAST(jk AS INTEGER) END AS props_k
         FROM j ORDER BY event_id"""),
    QueryDef("q_abnormal_duration", (s, dir) =>
      RefPipelines
        .abnormalDuration(Tables.lineitem(s, dir), Tables.orders(s, dir))
        .orderBy("l_orderkey", "l_linenumber"),
      s"""SELECT l_orderkey, l_linenumber,
         strftime(o_orderdate, '%Y-%m-%d') AS order_date,
         strftime(l_shipdate, '%Y-%m-%d') AS ship_date,
         ${Stages.halfUpCentiSql(duckLeadSecs, 86400L)} AS lead_days
         FROM lineitem JOIN orders ON l_orderkey = o_orderkey
         WHERE ($duckLeadSecs) / 86400 < 1
            OR ($duckLeadSecs) / 86400 > 2000
         ORDER BY l_orderkey, l_linenumber"""),
    QueryDef("q_abnormal_fee", (s, dir) =>
      RefPipelines
        .abnormalFee(Tables.lineitem(s, dir), Tables.orders(s, dir))
        .orderBy("o_orderkey"),
      s"""WITH calc AS (
           SELECT l_orderkey,
                  sum(${engine.RefPipelines.lineChargeCentsSql}) AS calc_cents
           FROM lineitem GROUP BY l_orderkey)
         SELECT o_orderkey,
                ${engine.Stages.centsSql("o_totalprice")} / 100.0 AS total_amount,
                calc_cents / 100.0 AS caculated_total,
                abs(${engine.Stages.centsSql("o_totalprice")} - calc_cents) / 100.0 AS discrepancy
         FROM orders LEFT JOIN calc ON o_orderkey = l_orderkey
         WHERE abs(${engine.Stages.centsSql("o_totalprice")} - calc_cents) > 100 OR o_totalprice IS NULL
         ORDER BY o_orderkey"""),
    QueryDef("q_hourly_avg_revenue", (s, dir) =>
      RefPipelines.hourlyAvgRevenue(Tables.events(s, dir)).orderBy("date", "hour"),
      s"""SELECT $duckWindowHour,
                $avgRevenueAggs
         FROM events WHERE value IS NOT NULL
         GROUP BY date_trunc('hour', ts) ORDER BY 1, 2"""),
    QueryDef("q_hourly_trip_count", (s, dir) =>
      RefPipelines.hourlyTripCount(Tables.events(s, dir)).orderBy("date", "hour"),
      s"""SELECT $duckWindowHour,
                count(*) AS total_trips,
                count(CASE WHEN event_type = 'purchase' THEN 1 END) AS purchase_trips,
                count(CASE WHEN event_type = 'signup' THEN 1 END) AS signup_trips
         FROM events GROUP BY date_trunc('hour', ts) ORDER BY 1, 2"""),
    QueryDef("q_hourly_count_by_borough", (s, dir) =>
      RefPipelines
        .hourlyCountByLookup(Tables.events(s, dir), Tables.nation(s, dir))
        .orderBy("date", "hour", "borough"),
      s"""SELECT $duckWindowHour,
                n_name AS borough, count(user_id) AS trip_count
         FROM events LEFT JOIN nation ON (user_id % 25) = n_nationkey
         GROUP BY 1, 2, 3 ORDER BY 1, 2, 3"""),
    // ---- relational extensions (SURVEY.md §2.7) ----
    QueryDef("q_topk", (s, dir) =>
      Relational
        .topKPerGroup(
          Tables.lineitem(s, dir), 5, Seq(col("l_returnflag")),
          col("l_extendedprice").desc, col("l_orderkey").asc, col("l_linenumber").asc)
        .select("l_returnflag", "rank", "l_orderkey", "l_linenumber", "l_extendedprice")
        .orderBy("l_returnflag", "rank"),
      """SELECT l_returnflag, rank, l_orderkey, l_linenumber, l_extendedprice FROM (
           SELECT l_returnflag, l_orderkey, l_linenumber, l_extendedprice,
                  row_number() OVER (PARTITION BY l_returnflag
                    ORDER BY l_extendedprice DESC, l_orderkey, l_linenumber) AS rank
           FROM lineitem)
         WHERE rank <= 5 ORDER BY l_returnflag, rank"""),
    QueryDef("q_distinct", (s, dir) =>
      Relational.distinctFlags(Tables.lineitem(s, dir)).orderBy("l_returnflag", "l_linestatus"),
      """SELECT DISTINCT l_returnflag, l_linestatus FROM lineitem
         ORDER BY l_returnflag, l_linestatus"""),
    QueryDef("q_setops", (s, dir) =>
      Relational.setOps(Tables.events(s, dir)).orderBy("user_id"),
      """SELECT user_id FROM events WHERE event_type = 'purchase' AND value > 150
         INTERSECT
         SELECT user_id FROM events WHERE event_type = 'signup'
         EXCEPT
         SELECT user_id FROM events WHERE event_type = 'error' AND value > 150
         ORDER BY user_id"""),
    QueryDef("q_agg_stats", (s, dir) =>
      Relational.aggStats(Tables.lineitem(s, dir)).orderBy("l_returnflag", "l_linestatus"),
      {
      val qtyCents = Stages.centsSql("l_quantity")
      val priceCents = Stages.centsSql("l_extendedprice")
      s"""SELECT l_returnflag, l_linestatus,
                count(*) AS n_rows,
                count(DISTINCT l_orderkey) AS n_orders,
                sum($qtyCents) / CAST(100 AS DOUBLE) AS sum_qty,
                sum($priceCents) / CAST(100 AS DOUBLE) AS sum_base_price,
                ${Stages.halfUpAvgDollarsSql(priceCents)} AS avg_price,
                min(l_quantity) AS min_qty,
                max(l_quantity) AS max_qty
         FROM lineitem GROUP BY l_returnflag, l_linestatus
         ORDER BY l_returnflag, l_linestatus"""
    }),
    QueryDef("q_asof_join", (s, dir) => {
      val ordersDedup = Tables.orders(s, dir)
        .groupBy(col("o_custkey"), col("o_orderdate"))
        .agg(max("o_orderkey").as("o_orderkey"),
          expr("max_by(o_totalprice, o_orderkey)").as("o_totalprice"))
      AsOfJoin
        .leftAsOf(
          Tables.events(s, dir).select(col("event_id"), col("user_id"), col("ts")),
          ordersDedup, "user_id", "ts", "o_custkey", "o_orderdate")
        .select(col("event_id"), col("user_id"), col("o_orderkey"), col("o_totalprice"))
        .orderBy("event_id")
    },
      """WITH o AS (
           SELECT o_custkey, o_orderdate, max(o_orderkey) AS o_orderkey,
                  arg_max(o_totalprice, o_orderkey) AS o_totalprice
           FROM orders GROUP BY 1, 2)
         SELECT e.event_id, e.user_id, o.o_orderkey, o.o_totalprice
         FROM events e ASOF LEFT JOIN o
           ON e.user_id = o.o_custkey AND e.ts >= o.o_orderdate
         ORDER BY event_id"""),
    QueryDef("q_range_join", (s, dir) =>
      Joins.followUpsWithin(Tables.events(s, dir), 3600).orderBy("event_a", "event_b"),
      s"""SELECT a.user_id, a.event_id AS event_a, b.event_id AS event_b,
                (${Stages.duckEpochBucketSql("b.ts", 1)} - ${Stages.duckEpochBucketSql("a.ts", 1)}) AS gap_seconds
         FROM events a JOIN events b
           ON a.user_id = b.user_id AND b.ts > a.ts AND b.ts <= a.ts + INTERVAL 1 HOUR
         ORDER BY event_a, event_b"""),
    QueryDef("q_percentiles", (s, dir) =>
      Relational.percentiles(Tables.lineitem(s, dir)).orderBy("l_returnflag"),
      s"""SELECT l_returnflag,
                quantile_cont(${Stages.centsSql("l_extendedprice")}, 0.5) / CAST(100 AS DOUBLE) AS p50_price,
                quantile_cont(${Stages.centsSql("l_extendedprice")}, 0.95) / CAST(100 AS DOUBLE) AS p95_price
         FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag"""),
    QueryDef("q_running_window", (s, dir) =>
      Analytics.runningWindow(Tables.events(s, dir)).orderBy("user_id", "event_id"),
      s"""SELECT user_id, event_id, strftime(ts, '%Y-%m-%d %H:%M:%S') AS event_time,
                sum(${Stages.centsSql("value")})
                  OVER (PARTITION BY user_id ORDER BY ts, event_id ROWS UNBOUNDED PRECEDING) / 100.0 AS running_total,
                sum(${Stages.centsSql("value")})
                  OVER (PARTITION BY user_id ORDER BY ts, event_id ROWS BETWEEN 2 PRECEDING AND CURRENT ROW) / 100.0 AS moving_sum3
         FROM events ORDER BY user_id, event_id"""),
    QueryDef("q_sessionize_batch", (s, dir) =>
      Analytics.sessionizeBatch(Tables.events(s, dir), 30).orderBy("user_id", "session_id"),
      s"""WITH flagged AS (
           SELECT user_id, event_id, ts, value,
                  CASE WHEN lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
                         OR (${Stages.duckEpochBucketSql("ts", 1)}
                             - ${Stages.duckEpochBucketSql("lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)", 1)}) > 1800
                       THEN 1 ELSE 0 END AS is_new
           FROM events),
         sessions AS (
           SELECT user_id, ts, value,
                  CAST(sum(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_id
           FROM flagged)
         SELECT user_id, session_id,
                strftime(min(ts), '%Y-%m-%d %H:%M:%S') AS session_start,
                strftime(max(ts), '%Y-%m-%d %H:%M:%S') AS session_end,
                count(*) AS n_events,
                sum(${Stages.centsSql("value")}) / CAST(100 AS DOUBLE) AS total_value
         FROM sessions GROUP BY user_id, session_id ORDER BY user_id, session_id"""),
    QueryDef("q_window_funcs", (s, dir) =>
      Analytics.windowFuncs(Tables.events(s, dir)).orderBy("user_id", "event_id"),
      s"""SELECT user_id, event_id, value,
                lag(value, 1) OVER t AS prev_value,
                lead(value, 1) OVER t AS next_value,
                first_value(value) OVER (PARTITION BY user_id ORDER BY ts, event_id
                  ROWS UNBOUNDED PRECEDING) AS first_value,
                rank() OVER v AS value_rank,
                dense_rank() OVER v AS value_dense_rank,
                ntile(4) OVER v AS quartile,
                percent_rank() OVER v AS pct_rank,
                cume_dist() OVER v AS cum_dist,
                nth_value(value, 3) OVER (PARTITION BY user_id ORDER BY ts, event_id
                  ROWS UNBOUNDED PRECEDING) AS third_value
         FROM events
         WINDOW t AS (PARTITION BY user_id ORDER BY ts, event_id),
                v AS (PARTITION BY user_id ORDER BY ${Stages.centsSql("value")} DESC, event_id)
         ORDER BY user_id, event_id"""),
    QueryDef("q_session_native", (s, dir) =>
      Analytics.sessionWindowStats(Tables.events(s, dir), 30)
        .orderBy("user_id", "session_start"),
      s"""WITH flagged AS (
           SELECT user_id, ts, value,
                  CASE WHEN lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
                         OR date_diff('microsecond', lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id), ts) >= 1800 * 1000000
                       THEN 1 ELSE 0 END AS is_new,
                  event_id
           FROM events),
         sessions AS (
           SELECT user_id, ts, value,
                  sum(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id ROWS UNBOUNDED PRECEDING) AS sid
           FROM flagged)
         SELECT user_id,
                ${Stages.duckEpochBucketSql("min(ts)", 1)} AS session_start,
                ${Stages.duckEpochBucketSql("max(ts)", 1)} + 1800 AS session_end,
                count(*) AS n_events,
                sum(${Stages.centsSql("value")}) / CAST(100 AS DOUBLE) AS total_value
         FROM sessions GROUP BY user_id, sid ORDER BY user_id, session_start"""),
    QueryDef("q_rollup", (s, dir) =>
      Analytics.rollupStats(Tables.lineitem(s, dir))
        .orderBy(col("l_returnflag").asc_nulls_first, col("l_linestatus").asc_nulls_first),
      s"""SELECT l_returnflag, l_linestatus, count(*) AS n_rows,
                sum(${Stages.centsSql("l_quantity")}) / CAST(100 AS DOUBLE) AS sum_qty
         FROM lineitem GROUP BY ROLLUP(l_returnflag, l_linestatus)
         ORDER BY l_returnflag ASC NULLS FIRST, l_linestatus ASC NULLS FIRST"""),
    QueryDef("q_pivot", (s, dir) =>
      Analytics
        .pivotAvgByType(Tables.events(s, dir), Seq("click", "error", "purchase", "signup", "view"))
        .orderBy("hour_start"),
      s"$duckPivotWideSql ORDER BY 1"),
    QueryDef("q_unpivot", (s, dir) =>
      Analytics
        .unpivotHourlyAvg(Tables.events(s, dir), Seq("click", "error", "purchase", "signup", "view"))
        .orderBy("hour_start", "event_type"),
      s"""WITH wide AS ($duckPivotWideSql)
         SELECT hour_start, event_type, avg_value
         FROM wide UNPIVOT (avg_value FOR event_type IN ("click", "error", "purchase", "signup", "view"))
         ORDER BY hour_start, event_type"""),
    QueryDef("q_cube", (s, dir) =>
      Analytics.cubeStats(Tables.lineitem(s, dir))
        .orderBy(col("l_returnflag").asc_nulls_first, col("l_linestatus").asc_nulls_first),
      s"""SELECT l_returnflag, l_linestatus, count(*) AS n_rows,
                sum(${Stages.centsSql("l_extendedprice")}) / CAST(100 AS DOUBLE) AS sum_price
         FROM lineitem GROUP BY CUBE(l_returnflag, l_linestatus)
         ORDER BY l_returnflag ASC NULLS FIRST, l_linestatus ASC NULLS FIRST"""),
    QueryDef("q_window_sliding", (s, dir) =>
      Analytics.slidingWindowStats(Tables.events(s, dir)).orderBy("ws"),
      // w0 = s - floormod(s, 1800) FLOORS to the window grid exactly —
      // Spark's window() floor-aligns pre-1970 timestamps where the old
      // truncating // shifted them a full window (extreme sweep, r10).
      s"""WITH s AS (
           SELECT ${Stages.duckEpochBucketSql("ts", 1)} AS sec,
                  ${Stages.centsSql("value")} AS cents
           FROM events),
         w AS (
           SELECT unnest([sec - ((sec % 1800) + 1800) % 1800 - 1800,
                          sec - ((sec % 1800) + 1800) % 1800]) AS ws,
                  cents
           FROM s)
         SELECT ws, count(*) AS n_events, sum(cents) / CAST(100 AS DOUBLE) AS sum_value
         FROM w GROUP BY ws ORDER BY ws"""),
    QueryDef("q_anti_join", (s, dir) =>
      // customers with no high-value order (the plain orders anti-join is
      // degenerate on these fixtures: every customer has some order)
      Joins
        .antiJoin(
          Tables.customer(s, dir),
          Tables.orders(s, dir).filter(col("o_totalprice") > 300000),
          col("c_custkey"), col("o_custkey"))
        .select(col("c_custkey"), col("c_name"), col("c_mktsegment"))
        .orderBy("c_custkey"),
      """SELECT c_custkey, c_name, c_mktsegment FROM customer
         WHERE NOT EXISTS (SELECT 1 FROM orders
                           WHERE o_custkey = c_custkey AND o_totalprice > 300000)
         ORDER BY c_custkey"""),
    QueryDef("q_semi_join", (s, dir) =>
      Joins
        .semiJoin(Tables.supplier(s, dir), Tables.lineitem(s, dir), col("s_suppkey"), col("l_suppkey"))
        .select(col("s_suppkey"), col("s_name"), col("s_acctbal"))
        .orderBy("s_suppkey"),
      """SELECT s_suppkey, s_name, s_acctbal FROM supplier
         WHERE EXISTS (SELECT 1 FROM lineitem WHERE l_suppkey = s_suppkey)
         ORDER BY s_suppkey"""),
    QueryDef("q_salted_join", (s, dir) => {
      val left = Tables.lineitem(s, dir)
        .select(col("l_orderkey").as("okey"), col("l_extendedprice"), col("l_linenumber"))
      val right = Tables.orders(s, dir).select(col("o_orderkey").as("okey"), col("o_orderpriority"))
      Joins.saltedJoin(left, right, "okey", col("l_linenumber"), 4)
        .withColumn("price_cents", expr(engine.Stages.centsSql("l_extendedprice")))
        .groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("n_rows"),
          expr("sum(price_cents) / CAST(100 AS DOUBLE)").as("sum_price"))
        .orderBy("o_orderpriority")
    },
      s"""SELECT o_orderpriority, count(*) AS n_rows,
                sum(${Stages.centsSql("l_extendedprice")}) / CAST(100 AS DOUBLE) AS sum_price
         FROM lineitem JOIN orders ON l_orderkey = o_orderkey
         GROUP BY o_orderpriority ORDER BY o_orderpriority"""),
    QueryDef("q_datetime_funcs", (s, dir) =>
      Relational.datetimeFuncs(Tables.events(s, dir)).orderBy("event_id"),
      """SELECT event_id,
                year(ts) AS y, quarter(ts) AS q, month(ts) AS mo,
                dayofmonth(ts) AS d, dayofweek(ts) + 1 AS dow,
                dayofyear(ts) AS doy,
                hour(ts) AS h, minute(ts) AS mi, second(ts) AS s
         FROM events ORDER BY event_id"""),
    QueryDef("q_json_funcs", (s, dir) =>
      Relational.jsonFuncs(Tables.events(s, dir)).orderBy("event_id"),
      // json_valid guard: DuckDB's json_extract THROWS on malformed
      // props (Spark's get_json_object is NULL) — extreme sweep, r10.
      """WITH j AS (SELECT event_id, CASE WHEN json_valid(props)
                                          THEN json_extract_string(props, '$.k') END AS jk,
                           CASE WHEN json_valid(props)
                                THEN json_extract_string(props, '$.missing') END AS jm
                    FROM events)
         SELECT event_id,
                jk AS k_str,
                CAST(jk AS BIGINT) AS k_int,
                jk IS NOT NULL AS has_k,
                jm IS NULL AS no_missing
         FROM j ORDER BY event_id"""),
    QueryDef("q_regex_funcs", (s, dir) =>
      Relational.regexFuncs(Tables.documents(s, dir)).orderBy("doc_id"),
      """SELECT doc_id,
                regexp_extract(text, '^([a-z]+)', 1) AS first_word,
                CAST(len(regexp_extract_all(text, '\ba[a-z]*')) AS BIGINT) AS n_a_words,
                regexp_replace(substring(text, 1, 30), '\s+', '-', 'g') AS dashed30,
                regexp_matches(text, 'spark') AS mentions_spark
         FROM documents ORDER BY doc_id"""),
    QueryDef("q_histogram", (s, dir) =>
      Relational.valueHistogram(Tables.events(s, dir), 2500).orderBy("bucket"),
      s"""SELECT ${Stages.centsSql("value")} // 2500 AS bucket, count(*) AS n
         FROM events GROUP BY bucket ORDER BY bucket"""),
    QueryDef("q_star_revenue", (s, dir) =>
      Relational
        .starRevenueTopK(Tables.customer(s, dir), Tables.orders(s, dir), Tables.lineitem(s, dir),
          "BUILDING", 10)
        .orderBy("rank"),
      s"""WITH rev AS (
           SELECT o_orderkey, o_orderpriority,
                  sum(${Stages.lineitemRevUnitsSql}) / CAST(10000 AS DOUBLE) AS revenue
           FROM lineitem
           JOIN orders ON l_orderkey = o_orderkey
           JOIN customer ON o_custkey = c_custkey
           WHERE c_mktsegment = 'BUILDING'
           GROUP BY o_orderkey, o_orderpriority),
         ranked AS (
           SELECT o_orderkey, o_orderpriority, revenue,
                  row_number() OVER (ORDER BY revenue DESC, o_orderkey) AS rank
           FROM rev)
         SELECT rank, o_orderkey, o_orderpriority, revenue
         FROM ranked WHERE rank <= 10 ORDER BY rank"""),
    QueryDef("q_approx_distinct", (s, dir) =>
      Relational.approxDistinctCheck(Tables.lineitem(s, dir)).orderBy("l_returnflag"),
      """SELECT l_returnflag, count(DISTINCT l_orderkey) AS exact_orders,
                TRUE AS hll_within_tol
         FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag"""),
    QueryDef("q_approx_percentile", (s, dir) =>
      Relational.approxPercentileCheck(Tables.lineitem(s, dir)).orderBy("l_returnflag"),
      s"""SELECT l_returnflag,
                quantile_cont(${Stages.centsSql("l_extendedprice")}, 0.5) / CAST(100 AS DOUBLE) AS p50_exact,
                TRUE AS sketch_within_rank_tol
         FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag"""),
    QueryDef("q_hash_sample", (s, dir) =>
      Relational.hashModSample(Tables.events(s, dir), 10).orderBy("event_id"),
      s"""SELECT event_id, user_id, event_type, value FROM events
         WHERE ${Stages.duckMd5BitsSql("CAST(event_id AS VARCHAR)", "1", 8)} % 10 = 0
         ORDER BY event_id"""),
    QueryDef("q_stratified_sample", (s, dir) =>
      Relational
        .stratifiedHashSample(
          Tables.events(s, dir), Map("error" -> 10, "purchase" -> 4), 1, 20)
        .orderBy("event_id"),
      s"""SELECT event_id, user_id, event_type, value FROM events
         WHERE ${Stages.duckMd5BitsSql("CAST(event_id AS VARCHAR)", "1", 8)} % 20
               < CASE WHEN event_type = 'error' THEN 10 WHEN event_type = 'purchase' THEN 4 ELSE 1 END
         ORDER BY event_id"""),
    QueryDef("q_latest_by_key", (s, dir) =>
      Relational.latestByKey(Tables.events(s, dir)).orderBy("user_id"),
      """SELECT user_id, event_id, CAST(ts AS TIMESTAMP) AS ts, event_type, value
         FROM (SELECT *, row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
               FROM events)
         WHERE rn = 1 ORDER BY user_id"""),
    QueryDef("q_grouping_sets", (s, dir) =>
      Relational.groupingSetsStats(Tables.orders(s, dir))
        .orderBy(
          col("gid"),
          col("o_orderstatus").asc_nulls_first,
          col("o_orderpriority").asc_nulls_first),
      s"""SELECT o_orderstatus, o_orderpriority,
                 count(*) AS n_orders,
                 sum(${Stages.centsSql("o_totalprice")}) / CAST(100 AS DOUBLE) AS sum_price,
                 CAST(GROUPING(o_orderstatus, o_orderpriority) AS BIGINT) AS gid
          FROM orders
          GROUP BY GROUPING SETS ((o_orderstatus, o_orderpriority), (o_orderstatus), ())
          ORDER BY gid, o_orderstatus NULLS FIRST, o_orderpriority NULLS FIRST"""),
    QueryDef("q_corr_stats", (s, dir) =>
      Relational.sufficientStatsCorr(Tables.lineitem(s, dir)).orderBy("l_returnflag"),
      {
      val stats = Stages.momentStatsSql
        .map { case (name, sql) => s"$sql AS $name" }
        .mkString(",\n                 ")
      s"""WITH m AS (
            SELECT l_returnflag, count(*) AS n,
                   sum(x) AS sx, sum(y) AS sy, sum(x * y) AS sxy,
                   sum(x * x) AS sxx, sum(y * y) AS syy
            FROM (SELECT l_returnflag,
                         ${Stages.centsSql("l_extendedprice")} // 100 AS x,
                         ${Stages.lineitemQtySql} AS y
                  FROM lineitem)
            GROUP BY l_returnflag)
          SELECT l_returnflag, n,
                 $stats
          FROM m ORDER BY l_returnflag"""
    }),
    QueryDef("q_linreg", (s, dir) =>
      Relational.linearRegression(Tables.lineitem(s, dir)).orderBy("l_returnflag"),
      {
      val stats = Stages.linregSql()
        .map { case (name, sql) => s"$sql AS $name" }
        .mkString(",\n                 ")
      s"""WITH m AS (
            SELECT l_returnflag, count(*) AS n,
                   sum(x) AS sx, sum(y) AS sy, sum(x * y) AS sxy,
                   sum(x * x) AS sxx, sum(y * y) AS syy
            FROM (SELECT l_returnflag,
                         ${Stages.lineitemQtySql} AS x,
                         ${Stages.centsSql("l_extendedprice")} // 100 AS y
                  FROM lineitem)
            GROUP BY l_returnflag)
          SELECT l_returnflag, n,
                 $stats
          FROM m ORDER BY l_returnflag"""
    }),
    QueryDef("q_residuals", (s, dir) =>
      Relational.regressionOutliers(Tables.lineitem(s, dir))
        .orderBy("l_orderkey", "l_linenumber"),
      {
      s"""WITH b AS (SELECT l_orderkey, l_linenumber, l_returnflag,
                            ${Stages.lineitemQtySql} AS x,
                            ${Stages.centsSql("l_extendedprice")} // 100 AS y
                     FROM lineitem),
         m AS (SELECT l_returnflag, count(*) AS n,
                      sum(x) AS sx, sum(y) AS sy, sum(x * y) AS sxy,
                      sum(x * x) AS sxx, sum(y * y) AS syy
               FROM b GROUP BY l_returnflag)
         SELECT l_orderkey, l_linenumber, l_returnflag, x, y,
                ${Stages.residualSql} AS resid
         FROM b JOIN m USING (l_returnflag)
         WHERE ${Stages.residualOutlierCondSql("1.6")}
         ORDER BY l_orderkey, l_linenumber"""
    }),
    QueryDef("q_zorder", (s, dir) =>
      Relational.zorderLayout(Tables.lineitem(s, dir)).orderBy("zrange"),
      {
      val morton = Stages.mortonSql("x", "y", 8)
      s"""WITH b AS (SELECT ${Stages.lineitemQtySql} AS x,
                            ${Stages.centsSql("l_extendedprice")} // 100 // 512 AS y
                     FROM lineitem),
         z AS (SELECT x, y, $morton AS zkey FROM b)
         SELECT zkey // 256 AS zrange, count(*) AS n,
                min(x) AS min_x, max(x) AS max_x, min(y) AS min_y, max(y) AS max_y
         FROM z GROUP BY 1 ORDER BY zrange"""
    }),
    QueryDef("q_data_split", (s, dir) =>
      Relational.dataSplitReport(Tables.events(s, dir)).orderBy("split", "event_type"),
      s"""WITH b AS (SELECT event_type,
                           ${Stages.duckMd5BitsSql("CAST(event_id AS VARCHAR)", "1", 8)} % 10 AS bucket
                    FROM events)
         SELECT CASE WHEN bucket < 8 THEN 'train' WHEN bucket = 8 THEN 'valid' ELSE 'test' END AS split,
                event_type, count(*) AS n
         FROM b GROUP BY 1, 2 ORDER BY split, event_type"""),
    QueryDef("q_weighted_median", (s, dir) =>
      Relational.weightedMedian(Tables.lineitem(s, dir)).orderBy("l_returnflag"),
      s"""WITH b AS (SELECT l_returnflag, l_orderkey, l_linenumber,
                            greatest(${Stages.lineitemQtySql}, 0) AS wt,
                            ${Stages.centsSql("l_extendedprice")} // 100 AS y
                     FROM lineitem),
         c AS (SELECT l_returnflag, y,
                      CAST(sum(wt) OVER (PARTITION BY l_returnflag ORDER BY y, l_orderkey, l_linenumber
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cumw,
                      CAST(sum(wt) OVER (PARTITION BY l_returnflag) AS BIGINT) AS totw
               FROM b)
         SELECT l_returnflag, CAST(min(y) AS BIGINT) AS weighted_median,
                CAST(max(totw) AS BIGINT) AS total_weight
         FROM c WHERE cumw * 2 >= totw
         GROUP BY l_returnflag ORDER BY l_returnflag"""),
    QueryDef("q_wilson", (s, dir) =>
      Relational.wilsonTopUsers(Tables.events(s, dir), 20).orderBy("rank"),
      {
      s"""WITH u AS (SELECT user_id, count(*) AS n,
                            CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS c
                     FROM events GROUP BY user_id),
         s AS (SELECT user_id, n, c, ${Stages.wilsonLowerSql} AS wilson_lb FROM u)
         SELECT CAST(row_number() OVER (ORDER BY wilson_lb DESC, user_id) AS BIGINT) AS rank,
                user_id, n, c, wilson_lb
         FROM s ORDER BY wilson_lb DESC, user_id LIMIT 20"""
    }),
    QueryDef("q_dup_rates", (s, dir) =>
      TextAnalysis.sourceDupRates(Tables.documents(s, dir)).orderBy("source"),
      """WITH g AS (SELECT source, md5(text) AS text_md5, count(*) AS copies
                    FROM documents GROUP BY 1, 2)
         SELECT source, CAST(sum(copies) AS BIGINT) AS n_docs, count(*) AS n_unique,
                CAST(sum(copies - 1) AS BIGINT) AS n_dup_rows,
                CAST(CAST(sum(copies - 1) AS BIGINT) AS DOUBLE)
                  / CAST(CAST(sum(copies) AS BIGINT) AS DOUBLE) AS dup_ratio
         FROM g GROUP BY source ORDER BY source"""),
    QueryDef("q_null_funcs", (s, dir) =>
      Relational.nullFuncs(Tables.events(s, dir)).orderBy("event_id"),
      """SELECT event_id,
                coalesce(v, -1.0) AS v_or_neg1,
                nullif(event_type, 'error') AS type_no_error,
                greatest(v, 50.0) AS v_floor50,
                least(v, 50.0) AS v_cap50,
                v IS NULL AS v_is_null,
                CASE WHEN v IS NULL THEN 'missing' ELSE 'present' END AS v_status
         FROM (SELECT event_id, event_type,
                      CASE WHEN event_id % 5 = 0 THEN NULL ELSE value END AS v
               FROM events)
         ORDER BY event_id"""),
    QueryDef("q_streaks", (s, dir) =>
      Analytics.activityStreaks(Tables.events(s, dir)).orderBy("user_id"),
      s"""WITH days AS (SELECT DISTINCT user_id,
                              ${Stages.duckEpochBucketSql("ts", 86400)} AS day
                       FROM events),
         isl AS (SELECT user_id, day,
                        day - row_number() OVER (PARTITION BY user_id ORDER BY day) AS island
                 FROM days),
         runs AS (SELECT user_id, island, count(*) AS len FROM isl GROUP BY user_id, island)
         SELECT user_id, CAST(sum(len) AS BIGINT) AS n_active_days,
                CAST(max(len) AS BIGINT) AS longest_streak, count(*) AS n_streaks
         FROM runs GROUP BY user_id ORDER BY user_id"""),
    QueryDef("q_rfm", (s, dir) =>
      Analytics.rfmSegments(Tables.events(s, dir)).orderBy("user_id"),
      s"""WITH pu AS (
            SELECT user_id,
                   max(${Stages.duckEpochBucketSql("ts", 86400)}) AS recency_day,
                   count(*) AS frequency,
                   CAST(sum(${Stages.centsSql("value")}) AS BIGINT) AS monetary_cents
            FROM events WHERE event_type = 'purchase' GROUP BY user_id)
          SELECT user_id, recency_day, frequency, monetary_cents,
                 CAST(ntile(4) OVER (ORDER BY recency_day, user_id) AS BIGINT) AS r_score,
                 CAST(ntile(4) OVER (ORDER BY frequency, user_id) AS BIGINT) AS f_score,
                 CAST(ntile(4) OVER (ORDER BY monetary_cents, user_id) AS BIGINT) AS m_score
          FROM pu ORDER BY user_id"""),
    QueryDef("q_dense_grid", (s, dir) =>
      Analytics.denseHourGrid(Tables.events(s, dir)).orderBy("event_type", "hod"),
      """WITH types AS (SELECT DISTINCT event_type FROM events),
         hours AS (SELECT unnest(generate_series(0, 23)) AS hod),
         c AS (SELECT event_type, CAST(hour(CAST(ts AS TIMESTAMP)) AS BIGINT) AS hod,
                      count(*) AS n_raw
               FROM events GROUP BY 1, 2)
         SELECT t.event_type, CAST(h.hod AS BIGINT) AS hod,
                CAST(coalesce(c.n_raw, 0) AS BIGINT) AS n
         FROM types t CROSS JOIN hours h
         LEFT JOIN c ON c.event_type = t.event_type AND c.hod = h.hod
         ORDER BY t.event_type, h.hod"""),
    QueryDef("q_skew_distinct", (s, dir) =>
      Relational.skewedDistinct(Tables.events(s, dir)).orderBy("event_type"),
      """SELECT event_type, count(DISTINCT user_id) AS n_users, count(*) AS n_events
         FROM events GROUP BY event_type ORDER BY event_type"""),
    QueryDef("q_heavy_hitters", (s, dir) =>
      Relational.heavyHittersCheck(Tables.events(s, dir), 10).orderBy("rank"),
      """SELECT CAST(row_number() OVER (ORDER BY n DESC, user_id ASC) AS BIGINT) AS rank,
                user_id, n, TRUE AS cms_within_tol
         FROM (SELECT user_id, count(*) AS n FROM events GROUP BY user_id)
         ORDER BY n DESC, user_id ASC LIMIT 10"""),
    QueryDef("q_funnel", (s, dir) =>
      Analytics.funnel(Tables.events(s, dir), "signup", "purchase", 168).orderBy("user_id"),
      s"""WITH a AS (SELECT user_id, min(ts) AS ts_a FROM events WHERE event_type = 'signup' GROUP BY user_id),
         j AS (SELECT a.user_id, a.ts_a, b.ts AS ts_b
               FROM a LEFT JOIN events b
                 ON b.user_id = a.user_id AND b.event_type = 'purchase' AND b.ts >= a.ts_a),
         g AS (SELECT user_id, ts_a, min(ts_b) AS ts_conv FROM j GROUP BY user_id, ts_a)
         SELECT user_id,
                strftime(CAST(ts_a AS TIMESTAMP), '%Y-%m-%d %H:%M:%S') AS first_a,
                strftime(CAST(ts_conv AS TIMESTAMP), '%Y-%m-%d %H:%M:%S') AS first_b_after,
                (ts_conv IS NOT NULL AND
                 ${Stages.duckEpochBucketSql("ts_conv", 1)} - ${Stages.duckEpochBucketSql("ts_a", 1)} <= 604800)
                  AS converted
         FROM g ORDER BY user_id"""),
    QueryDef("q_funnel3", (s, dir) =>
      Analytics.funnel3(Tables.events(s, dir), "signup", "purchase", "click").orderBy("user_id"),
      """WITH f1 AS (SELECT user_id, min(ts) AS ts_1 FROM events WHERE event_type = 'signup' GROUP BY user_id),
         j2 AS (SELECT f1.user_id, f1.ts_1, e.ts AS ts_2c FROM f1 LEFT JOIN events e
                ON e.user_id = f1.user_id AND e.event_type = 'purchase' AND e.ts >= f1.ts_1),
         f2 AS (SELECT user_id, ts_1, min(ts_2c) AS ts_2 FROM j2 GROUP BY user_id, ts_1),
         j3 AS (SELECT f2.user_id, f2.ts_1, f2.ts_2, e.ts AS ts_3c FROM f2 LEFT JOIN events e
                ON e.user_id = f2.user_id AND e.event_type = 'click' AND e.ts >= f2.ts_2),
         f3 AS (SELECT user_id, ts_1, ts_2, min(ts_3c) AS ts_3 FROM j3 GROUP BY user_id, ts_1, ts_2)
         SELECT user_id,
                strftime(CAST(ts_1 AS TIMESTAMP), '%Y-%m-%d %H:%M:%S') AS first_1,
                strftime(CAST(ts_2 AS TIMESTAMP), '%Y-%m-%d %H:%M:%S') AS first_2,
                strftime(CAST(ts_3 AS TIMESTAMP), '%Y-%m-%d %H:%M:%S') AS first_3,
                ts_3 IS NOT NULL AS completed
         FROM f3 ORDER BY user_id"""),
    QueryDef("q_freq_bins", (s, dir) =>
      Relational.equalFreqBins(Tables.lineitem(s, dir), 10).orderBy("bin"),
      {
      val fracs = (1 until 10).map(i => (i.toDouble / 10).toString).mkString(", ")
      s"""WITH base AS (SELECT ${Stages.centsSql("l_extendedprice")} // 100 AS x FROM lineitem),
         b AS (SELECT quantile_cont(x, [$fracs]) AS bounds FROM base)
         SELECT CAST(len(list_filter(b.bounds, v -> x > v)) + 1 AS BIGINT) AS bin,
                count(*) AS n_rows,
                min(x) AS lo_dollars,
                max(x) AS hi_dollars
         FROM base, b GROUP BY bin ORDER BY bin"""
    }),
    QueryDef("q_bottomk_sample", (s, dir) =>
      Relational.bottomKSample(Tables.events(s, dir), 10).orderBy("event_type", "rank"),
      s"""WITH du AS (SELECT DISTINCT event_type, user_id FROM events),
         h AS (SELECT event_type, user_id,
                 ${Stages.duckMd5BitsSql("CAST(user_id AS VARCHAR)", "1", 8)} AS h
               FROM du),
         r AS (SELECT *, CAST(row_number() OVER (PARTITION BY event_type ORDER BY h ASC, user_id ASC) AS BIGINT) AS rank
               FROM h)
         SELECT event_type, rank, user_id, h FROM r WHERE rank <= 10
         ORDER BY event_type, rank"""),
    QueryDef("q_scd2", (s, dir) =>
      Analytics.scd2(Tables.events(s, dir)).orderBy("user_id", "version"),
      """SELECT user_id, event_id,
                CAST(row_number() OVER w AS BIGINT) AS version,
                strftime(CAST(ts AS TIMESTAMP), '%Y-%m-%d %H:%M:%S') AS valid_from,
                strftime(CAST(lead(ts, 1) OVER w AS TIMESTAMP), '%Y-%m-%d %H:%M:%S') AS valid_to,
                (lead(ts, 1) OVER w IS NULL) AS is_current,
                event_type, value
         FROM events
         WINDOW w AS (PARTITION BY user_id ORDER BY ts ASC, event_id ASC)
         ORDER BY user_id, version"""),
    QueryDef("q_transitions", (s, dir) =>
      Analytics.transitionsTopK(Tables.events(s, dir), 15).orderBy("rank"),
      """WITH seq AS (
           SELECT event_type AS curr_type,
                  lag(event_type, 1) OVER (PARTITION BY user_id ORDER BY ts ASC, event_id ASC) AS prev_type
           FROM events),
         counts AS (
           SELECT prev_type, curr_type, count(*) AS n FROM seq
           WHERE prev_type IS NOT NULL GROUP BY prev_type, curr_type),
         ranked AS (
           SELECT *, CAST(row_number() OVER (ORDER BY n DESC, prev_type ASC, curr_type ASC) AS BIGINT) AS rank
           FROM counts)
         SELECT rank, prev_type, curr_type, n FROM ranked WHERE rank <= 15 ORDER BY rank"""),
    QueryDef("q_gap_fill", (s, dir) =>
      Analytics.gapFilledHourly(Tables.events(s, dir)).orderBy("hour_epoch"),
      s"""WITH c AS (SELECT ${Stages.duckEpochBucketSql("ts", 3600)} AS hour_epoch, count(*) AS n_raw
                    FROM events GROUP BY 1),
         r AS (SELECT min(hour_epoch) AS h0, max(hour_epoch) AS h1 FROM c),
         hours AS (SELECT unnest(generate_series(h0, h1)) AS hour_epoch FROM r)
         SELECT hours.hour_epoch, hours.hour_epoch * 3600 AS hour_start_epoch,
                coalesce(n_raw, 0) AS n
         FROM hours LEFT JOIN c ON hours.hour_epoch = c.hour_epoch
         ORDER BY hours.hour_epoch"""),
    QueryDef("q_retention", (s, dir) =>
      Analytics.retentionCohorts(Tables.events(s, dir)).orderBy("cohort_day", "week_offset"),
      s"""WITH d AS (SELECT user_id, ${Stages.duckEpochBucketSql("ts", 86400)} AS act_day FROM events),
         firsts AS (SELECT user_id, min(act_day) AS cohort_day FROM d GROUP BY user_id),
         j AS (SELECT d.user_id, firsts.cohort_day, (d.act_day - firsts.cohort_day) // 7 AS week_offset
               FROM d JOIN firsts ON d.user_id = firsts.user_id)
         SELECT cohort_day, week_offset, count(DISTINCT user_id) AS n_users
         FROM j GROUP BY cohort_day, week_offset ORDER BY cohort_day, week_offset"""),
    QueryDef("q_global_rank", (s, dir) =>
      Relational
        .scalableGlobalRank(
          Tables.lineitem(s, dir)
            .select(col("l_orderkey"), col("l_linenumber"), col("l_extendedprice")),
          col("l_extendedprice").desc, col("l_orderkey").asc, col("l_linenumber").asc)
        .orderBy("rank"),
      """SELECT l_orderkey, l_linenumber, l_extendedprice,
                CAST(row_number() OVER (ORDER BY l_extendedprice DESC, l_orderkey ASC, l_linenumber ASC) AS BIGINT) AS rank
         FROM lineitem ORDER BY rank"""),
    QueryDef("q_daily_topk", (s, dir) =>
      Analytics.dailyTopSpenders(Tables.events(s, dir), 3).orderBy("day_epoch", "rank"),
      s"""WITH per AS (
           SELECT ${Stages.duckEpochBucketSql("ts", 86400)} AS day_epoch, user_id,
                  CAST(sum(${Stages.centsSql("value")}) AS BIGINT) AS cents
           FROM events WHERE value IS NOT NULL GROUP BY 1, 2),
         r AS (SELECT *, CAST(row_number() OVER (PARTITION BY day_epoch
                 ORDER BY cents DESC, user_id ASC) AS BIGINT) AS rank FROM per)
         SELECT day_epoch, rank, user_id, cents / CAST(100 AS DOUBLE) AS spend
         FROM r WHERE rank <= 3 ORDER BY day_epoch, rank"""),
    QueryDef("q_trigrams", (s, dir) =>
      Analytics.trigramPaths(Tables.events(s, dir), 15).orderBy("rank"),
      """WITH seq AS (
           SELECT event_type AS t3,
                  lag(event_type, 1) OVER (PARTITION BY user_id ORDER BY ts ASC, event_id ASC) AS t2,
                  lag(event_type, 2) OVER (PARTITION BY user_id ORDER BY ts ASC, event_id ASC) AS t1
           FROM events),
         c AS (SELECT t1, t2, t3, count(*) AS n FROM seq WHERE t1 IS NOT NULL GROUP BY 1, 2, 3),
         r AS (SELECT *, CAST(row_number() OVER (ORDER BY n DESC, t1 ASC, t2 ASC, t3 ASC) AS BIGINT) AS rank
               FROM c)
         SELECT t1, t2, t3, n, rank FROM r WHERE rank <= 15 ORDER BY rank"""),
    QueryDef("q_time_to_convert", (s, dir) =>
      Analytics.timeToConvert(Tables.events(s, dir)).orderBy("cohort_day"),
      s"""WITH a AS (SELECT user_id, min(ts) AS ts_a FROM events WHERE event_type = 'signup' GROUP BY user_id),
         j AS (SELECT a.user_id, a.ts_a, b.ts AS ts_b
               FROM a LEFT JOIN events b
                 ON b.user_id = a.user_id AND b.event_type = 'purchase' AND b.ts >= a.ts_a),
         g AS (SELECT user_id, ts_a, min(ts_b) AS ts_conv FROM j GROUP BY user_id, ts_a),
         gaps AS (SELECT ${Stages.duckEpochBucketSql("ts_a", 86400)} AS cohort_day,
                         ${Stages.duckEpochBucketSql("ts_conv", 3600)}
                           - ${Stages.duckEpochBucketSql("ts_a", 3600)} AS gap_hours
                  FROM g)
         SELECT cohort_day, count(*) AS n_users, count(gap_hours) AS n_converted,
                quantile_cont(gap_hours, 0.5) AS median_hours
         FROM gaps GROUP BY cohort_day ORDER BY cohort_day"""),
    QueryDef("q_feature_hash", (s, dir) =>
      TextAnalysis.featureHash(Tables.documents(s, dir), 256).orderBy("doc_id", "bucket"),
      s"""WITH t AS (SELECT doc_id, unnest(string_split_regex(trim(text), '\\s+')) AS tok FROM documents)
         SELECT doc_id,
                ${Stages.duckMd5BitsSql("tok", "1", 8)} % 256 AS bucket,
                count(*) AS n
         FROM t GROUP BY 1, 2 ORDER BY doc_id, bucket"""),
    QueryDef("q_bigram_lm", (s, dir) =>
      TextAnalysis.bigramLm(Tables.documents(s, dir), 20).orderBy("rank"),
      """WITH toks AS (SELECT doc_id, string_split_regex(trim(text), '\s+') AS t FROM documents),
         bi AS (SELECT unnest(list_transform(generate_series(1, len(t) - 1),
                  i -> struct_pack(w1 := t[i], w2 := t[i+1]))) AS bg FROM toks WHERE len(t) >= 2),
         bc AS (SELECT bg.w1 AS w1, bg.w2 AS w2, count(*) AS n_ab FROM bi GROUP BY 1, 2),
         pre AS (SELECT w1, CAST(sum(n_ab) AS BIGINT) AS n_a FROM bc GROUP BY w1),
         scored AS (SELECT bc.w1, bc.w2, bc.n_ab, pre.n_a,
                           CAST(n_ab AS DOUBLE) / CAST(n_a AS DOUBLE) AS p_cond
                    FROM bc JOIN pre ON bc.w1 = pre.w1
                    WHERE n_ab >= 5),
         ranked AS (SELECT *, CAST(row_number() OVER (ORDER BY p_cond DESC, w1 ASC, w2 ASC) AS BIGINT) AS rank
                    FROM scored)
         SELECT rank, w1, w2, n_ab, n_a, p_cond FROM ranked WHERE rank <= 20 ORDER BY rank"""),
    QueryDef("q_hourly_profile", (s, dir) =>
      Analytics.hourlyProfile(Tables.events(s, dir)).orderBy("hour_of_day"),
      {
      val cents = Stages.centsWhenSql("value IS NOT NULL", "value")
      s"""SELECT hour(CAST(ts AS TIMESTAMP)) AS hour_of_day,
                 count(*) AS n_events,
                 ${Stages.halfUpAvgDollarsSql(cents)} AS avg_value
          FROM events GROUP BY 1 ORDER BY hour_of_day"""
    }),
    QueryDef("q_autocorr", (s, dir) =>
      Analytics.dailyAutocorr(Tables.events(s, dir)).orderBy("n_pairs"),
      {
      val stats = Stages.momentStatsSql
        .filter { case (name, _) => Seq("mean_x", "mean_y", "corr_xy").contains(name) }
        .map { case (name, sql) => s"$sql AS $name" }
        .mkString(",\n                 ")
      s"""WITH d AS (SELECT ${Stages.duckEpochBucketSql("ts", 86400)} AS day, count(*) AS cnt
                    FROM events GROUP BY 1),
         p AS (SELECT a.cnt AS x, b.cnt AS y FROM d a JOIN d b ON b.day = a.day + 1),
         m AS (SELECT count(*) AS n, CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
                      CAST(sum(x * y) AS BIGINT) AS sxy, CAST(sum(x * x) AS BIGINT) AS sxx,
                      CAST(sum(y * y) AS BIGINT) AS syy
               FROM p)
         SELECT n AS n_pairs,
                """ + stats + """
         FROM m ORDER BY n_pairs"""
    }),
    QueryDef("q_abtest", (s, dir) =>
      Analytics.abTest(Tables.events(s, dir)).orderBy("n1"),
      s"""WITH per AS (
           SELECT user_id % 2 AS variant,
                  count(DISTINCT user_id) AS n_users,
                  count(DISTINCT CASE WHEN event_type = 'purchase' THEN user_id END) AS n_converted
           FROM events GROUP BY 1),
         a AS (SELECT n_users AS n1, n_converted AS c1 FROM per WHERE variant = 0),
         b AS (SELECT n_users AS n2, n_converted AS c2 FROM per WHERE variant = 1)
         SELECT n1, c1, n2, c2,
                CAST(c1 AS DOUBLE) / CAST(n1 AS DOUBLE) AS rate_a,
                CAST(c2 AS DOUBLE) / CAST(n2 AS DOUBLE) AS rate_b,
                ${Stages.abTestZSql} AS z
         FROM a CROSS JOIN b ORDER BY n1"""),
    QueryDef("q_cdc_merge", (s, dir) =>
      Analytics.cdcMerge(Tables.events(s, dir)).orderBy("user_id"),
      """SELECT user_id, event_id, CAST(ts AS TIMESTAMP) AS ts, event_type, value
         FROM (SELECT *, row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
               FROM events)
         WHERE rn = 1 AND event_type <> 'error' ORDER BY user_id"""),
    QueryDef("q_profile", (s, dir) =>
      Relational.profileEvents(Tables.events(s, dir)).orderBy("n_rows"),
      s"""SELECT count(*) AS n_rows,
                 count(value) AS n_value_nonnull,
                 count(DISTINCT user_id) AS n_users,
                 count(DISTINCT event_type) AS n_types,
                 ${Stages.duckEpochBucketSql("min(ts)", 1)} AS min_ts_epoch,
                 ${Stages.duckEpochBucketSql("max(ts)", 1)} AS max_ts_epoch,
                 CAST(sum(${Stages.centsSql("value")}) AS BIGINT) AS total_cents
          FROM events ORDER BY n_rows"""),
    QueryDef("q_histogram2d", (s, dir) =>
      Relational.histogram2d(Tables.lineitem(s, dir)).orderBy("price_bin", "qty_bin"),
      s"""SELECT ${Stages.centsSql("l_extendedprice")} // 10000 AS price_bin,
                 ${Stages.lineitemQtySql} // 10 AS qty_bin,
                 count(*) AS n
          FROM lineitem GROUP BY 1, 2 ORDER BY price_bin, qty_bin"""),
    QueryDef("q_skyline", (s, dir) =>
      Relational.skyline(Tables.lineitem(s, dir)).orderBy("price_dollars"),
      s"""WITH perx AS (SELECT ${Stages.centsSql("l_extendedprice")} // 100 AS price_dollars,
                               max(${Stages.lineitemQtySql}) AS max_qty
                        FROM lineitem GROUP BY 1),
         f AS (SELECT price_dollars, max_qty,
                      max(max_qty) OVER (ORDER BY price_dollars DESC
                        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev_max
               FROM perx)
         SELECT price_dollars, max_qty AS qty FROM f
         WHERE prev_max IS NULL OR prev_max < max_qty
         ORDER BY price_dollars"""),
    QueryDef("q_bitmap_index", (s, dir) =>
      Relational.bitmapIndex(Tables.events(s, dir)).orderBy("event_type", "word_id"),
      """SELECT event_type, (user_id - ((user_id % 32) + 32) % 32) // 32 AS word_id,
                bit_or(CAST(1 AS BIGINT) << CAST(((user_id % 32) + 32) % 32 AS INTEGER)) AS bits,
                CAST(bit_count(bit_or(CAST(1 AS BIGINT) << CAST(((user_id % 32) + 32) % 32 AS INTEGER))) AS BIGINT) AS n_users
         FROM events GROUP BY 1, 2 ORDER BY event_type, word_id"""),
    QueryDef("q_sliding_distinct", (s, dir) =>
      Analytics.slidingDistinctUsers(Tables.events(s, dir), 3).orderBy("win_end_hour"),
      s"""WITH hu AS (SELECT DISTINCT ${Stages.duckEpochBucketSql("ts", 3600)} AS hour_epoch, user_id
                     FROM events),
         wu AS (SELECT DISTINCT unnest(generate_series(hour_epoch, hour_epoch + 2)) AS win_end_hour, user_id
                FROM hu),
         mx AS (SELECT max(hour_epoch) AS max_hour FROM hu)
         SELECT win_end_hour, count(*) AS n_users
         FROM wu, mx WHERE win_end_hour <= max_hour
         GROUP BY win_end_hour ORDER BY win_end_hour"""),
    QueryDef("q_interleave", (s, dir) =>
      Relational.interleaveSources(Tables.documents(s, dir)).orderBy("global_pos"),
      """WITH s AS (SELECT source, CAST(row_number() OVER (ORDER BY source) - 1 AS BIGINT) AS src_idx
                    FROM (SELECT DISTINCT source FROM documents)),
         n AS (SELECT count(*) AS n_sources FROM s),
         r AS (SELECT doc_id, source,
                      CAST(row_number() OVER (PARTITION BY source ORDER BY doc_id) AS BIGINT) AS src_rank
               FROM documents)
         SELECT r.doc_id, r.source, r.src_rank,
                (r.src_rank - 1) * n.n_sources + s.src_idx AS global_pos
         FROM r JOIN s ON r.source = s.source CROSS JOIN n
         ORDER BY global_pos"""),
    QueryDef("q_first_touch", (s, dir) =>
      Relational.firstTouch(Tables.events(s, dir)).orderBy("user_id", "event_type"),
      """SELECT user_id, event_type, event_id, CAST(ts AS TIMESTAMP) AS ts, value
         FROM (SELECT *, row_number() OVER (PARTITION BY user_id, event_type
                 ORDER BY ts ASC, event_id ASC) AS rn
               FROM events)
         WHERE rn = 1 ORDER BY user_id, event_type"""),
    QueryDef("q_share_of_total", (s, dir) =>
      Relational.shareOfTotal(Tables.lineitem(s, dir)).orderBy("l_returnflag"),
      s"""WITH g AS (SELECT l_returnflag, sum(${Stages.centsSql("l_extendedprice")}) AS cents
                     FROM lineitem GROUP BY l_returnflag),
         t AS (SELECT CAST(sum(cents) AS BIGINT) AS total_cents FROM g)
         SELECT l_returnflag,
                cents / CAST(100 AS DOUBLE) AS revenue,
                cents / CAST(total_cents AS DOUBLE) AS share
         FROM g CROSS JOIN t ORDER BY l_returnflag"""),
    QueryDef("q_snowflake", (s, dir) =>
      Relational
        .snowflakeRevenue(Tables.lineitem(s, dir), Tables.orders(s, dir),
          Tables.customer(s, dir), Tables.nation(s, dir), Tables.region(s, dir))
        .orderBy("r_name"),
      s"""SELECT r_name,
                 count(DISTINCT o_orderkey) AS n_orders,
                 sum(${Stages.lineitemRevUnitsSql})
                   / CAST(10000 AS DOUBLE) AS revenue
          FROM lineitem
          JOIN orders ON l_orderkey = o_orderkey
          JOIN customer ON o_custkey = c_custkey
          JOIN nation ON c_nationkey = n_nationkey
          JOIN region ON n_regionkey = r_regionkey
          GROUP BY r_name ORDER BY r_name"""),
    QueryDef("q_daily_delta", (s, dir) =>
      Analytics.dailyDelta(Tables.events(s, dir)).orderBy("day_epoch"),
      s"""WITH d AS (SELECT ${Stages.duckEpochBucketSql("ts", 86400)} AS day_epoch,
                           count(*) AS n
                    FROM events GROUP BY 1)
         SELECT day_epoch, n,
                lag(n, 1) OVER (ORDER BY day_epoch) AS prev_n,
                n - coalesce(lag(n, 1) OVER (ORDER BY day_epoch), n) AS delta
         FROM d ORDER BY day_epoch"""),
    QueryDef("q_pair_support", (s, dir) =>
      Analytics.pairSupport(Tables.events(s, dir), 10).orderBy("rank"),
      """WITH ut AS (SELECT DISTINCT user_id, event_type FROM events),
         p AS (SELECT a.event_type AS type_a, b.event_type AS type_b, count(*) AS support
               FROM ut a JOIN ut b ON a.user_id = b.user_id AND a.event_type < b.event_type
               GROUP BY 1, 2),
         r AS (SELECT *, CAST(row_number() OVER (ORDER BY support DESC, type_a ASC, type_b ASC) AS BIGINT) AS rank
               FROM p)
         SELECT type_a, type_b, support, rank FROM r WHERE rank <= 10 ORDER BY rank"""),
    QueryDef("q_degree_dist", (s, dir) =>
      Graph.degreeDistribution(Tables.lineitem(s, dir)).orderBy("degree"),
      """WITH op AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem),
         e AS (SELECT a.pk AS pa, b.pk AS pb FROM op a JOIN op b ON a.ok = b.ok AND a.pk < b.pk
               GROUP BY 1, 2),
         d AS (SELECT part, count(*) AS degree
               FROM (SELECT pa AS part FROM e UNION ALL SELECT pb FROM e) GROUP BY part)
         SELECT degree, count(*) AS n_parts FROM d GROUP BY degree ORDER BY degree"""),
    QueryDef("q_twap", (s, dir) =>
      Analytics.timeWeightedAvg(Tables.events(s, dir)).orderBy("user_id"),
      s"""WITH b AS (SELECT user_id, ${Stages.duckEpochBucketSql("ts", 1)} AS sec,
                           ${Stages.centsSql("value")} AS cents, event_id
                    FROM events),
         d AS (SELECT user_id, cents,
                      lead(sec) OVER (PARTITION BY user_id ORDER BY sec, event_id) - sec AS dt
               FROM b)
         SELECT user_id, count(*) AS n_intervals, CAST(sum(dt) AS BIGINT) AS total_seconds,
                CASE WHEN CAST(sum(dt) AS BIGINT) = 0 THEN NULL
                     ELSE CAST(CAST(sum(cents * dt) AS BIGINT) AS DOUBLE)
                          / CAST(CAST(sum(dt) AS BIGINT) AS DOUBLE) / 100.0 END AS twap
         FROM d WHERE dt IS NOT NULL GROUP BY user_id ORDER BY user_id"""),
    QueryDef("q_cusum", (s, dir) =>
      Analytics.cusumChangepoint(Tables.events(s, dir)).orderBy("day"),
      s"""WITH d AS (SELECT ${Stages.duckEpochBucketSql("ts", 86400)} AS day, count(*) AS n
                    FROM events GROUP BY 1),
         s AS (SELECT day, n,
                      CAST(sum(n * (SELECT count(*) FROM d) - (SELECT sum(n) FROM d))
                           OVER (ORDER BY day) AS BIGINT) AS cusum
               FROM d)
         SELECT day, n, cusum, abs(cusum) = (SELECT max(abs(cusum)) FROM s) AS is_peak
         FROM s ORDER BY day"""),
    QueryDef("q_locf", (s, dir) =>
      Analytics.forwardFill(Tables.events(s, dir)).orderBy("user_id", "event_id"),
      """WITH b AS (SELECT user_id, event_id, ts,
                           CASE WHEN event_id % 5 = 0 THEN NULL ELSE value END AS v
                    FROM events)
         SELECT user_id, event_id, v,
                last_value(v IGNORE NULLS) OVER (PARTITION BY user_id ORDER BY ts, event_id
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS v_filled
         FROM b ORDER BY user_id, event_id"""),
    QueryDef("q_ratio_report", (s, dir) =>
      Analytics.ratioToReport(Tables.events(s, dir)).orderBy("user_id", "event_id"),
      s"""WITH b AS (SELECT user_id, event_id,
                           ${Stages.centsSql("value")} AS cents
                    FROM events),
         w AS (SELECT user_id, event_id, cents,
                      CAST(sum(cents) OVER (PARTITION BY user_id) AS BIGINT) AS user_total
               FROM b)
         SELECT user_id, event_id, cents, user_total,
                CAST(cents AS DOUBLE) / CAST(user_total AS DOUBLE) AS share
         FROM w ORDER BY user_id, event_id"""),
    QueryDef("q_journey", (s, dir) =>
      Analytics.journeyMatrix(Tables.events(s, dir)).orderBy("first_type", "last_type"),
      s"""WITH j AS (SELECT user_id,
                           arg_min(event_type, concat(lpad(CAST(${Stages.duckEpochBucketSql("ts", 1)} + 100000000000 AS VARCHAR), 12, '0'),
                                                      lpad(CAST(event_id + 100000000000 AS VARCHAR), 12, '0'))) AS first_type,
                           arg_max(event_type, concat(lpad(CAST(${Stages.duckEpochBucketSql("ts", 1)} + 100000000000 AS VARCHAR), 12, '0'),
                                                      lpad(CAST(event_id + 100000000000 AS VARCHAR), 12, '0'))) AS last_type
                    FROM events GROUP BY user_id)
         SELECT first_type, last_type, count(*) AS n_users
         FROM j GROUP BY 1, 2 ORDER BY first_type, last_type"""),
    QueryDef("q_new_returning", (s, dir) =>
      Analytics.newVsReturning(Tables.events(s, dir)).orderBy("day"),
      s"""WITH a AS (SELECT DISTINCT user_id,
                           ${Stages.duckEpochBucketSql("ts", 86400)} AS day
                    FROM events),
         f AS (SELECT user_id, min(day) AS first_day FROM a GROUP BY user_id)
         SELECT day,
                CAST(sum(CASE WHEN day = first_day THEN 1 ELSE 0 END) AS BIGINT) AS n_new,
                CAST(sum(CASE WHEN day <> first_day THEN 1 ELSE 0 END) AS BIGINT) AS n_returning
         FROM a JOIN f USING (user_id)
         GROUP BY day ORDER BY day"""),
    QueryDef("q_gini", (s, dir) =>
      Analytics.giniSpend(Tables.events(s, dir)).orderBy("event_type"),
      s"""WITH pu AS (SELECT event_type, user_id,
                            CAST(sum(${Stages.centsSql("value")}) AS BIGINT) AS x
                     FROM events GROUP BY event_type, user_id),
         r AS (SELECT event_type, x,
                      CAST(row_number() OVER (PARTITION BY event_type ORDER BY x, user_id) AS BIGINT) AS i
               FROM pu),
         s AS (SELECT event_type, count(*) AS n_users, CAST(sum(x) AS BIGINT) AS total_cents,
                      CAST(sum(i * x) AS BIGINT) AS swx
               FROM r GROUP BY event_type)
         SELECT event_type, n_users, total_cents,
                CASE WHEN total_cents = 0 THEN NULL
                     ELSE CAST(2 * swx - (n_users + 1) * total_cents AS DOUBLE)
                          / CAST(n_users * total_cents AS DOUBLE) END AS gini
         FROM s ORDER BY event_type"""),
    QueryDef("q_fano", (s, dir) =>
      Analytics.fanoBurstiness(Tables.events(s, dir)).orderBy("event_type"),
      s"""WITH h AS (SELECT event_type, ${Stages.duckEpochBucketSql("ts", 3600)} AS hr,
                           count(*) AS x
                    FROM events GROUP BY 1, 2),
         s AS (SELECT event_type, count(*) AS n_hours, CAST(sum(x) AS BIGINT) AS n_events,
                      CAST(sum(CAST(x AS HUGEINT) * x) AS HUGEINT) AS sxx
               FROM h GROUP BY event_type)
         SELECT event_type, n_hours, n_events,
                CAST(CAST(n_hours AS HUGEINT) * sxx
                     - CAST(n_events AS HUGEINT) * n_events AS DOUBLE)
                  / CAST(CAST(n_hours AS HUGEINT) * n_events AS DOUBLE) AS fano
         FROM s ORDER BY event_type"""),
    QueryDef("q_vocab_growth", (s, dir) =>
      TextAnalysis.vocabGrowth(Tables.documents(s, dir)).orderBy("doc_id"),
      """WITH t AS (SELECT doc_id, unnest(string_split_regex(trim(text), '\s+')) AS token
                    FROM documents),
         f AS (SELECT token, min(doc_id) AS first_doc FROM t GROUP BY token),
         h AS (SELECT first_doc, count(*) AS n_new_tokens FROM f GROUP BY first_doc)
         SELECT first_doc AS doc_id, n_new_tokens,
                CAST(sum(n_new_tokens) OVER (ORDER BY first_doc
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS vocab_size
         FROM h ORDER BY doc_id"""),
    QueryDef("q_benford", (s, dir) =>
      Relational.benfordDigits(Tables.lineitem(s, dir)).orderBy("digit"),
      s"""WITH b AS (SELECT CAST(substring(CAST(${Stages.centsSql("l_extendedprice")} AS VARCHAR), 1, 1) AS BIGINT) AS digit,
                            count(*) AS n
                     FROM lineitem GROUP BY 1),
          t AS (SELECT CAST(sum(n) AS BIGINT) AS total FROM b)
          SELECT digit, n, CAST(n AS DOUBLE) / CAST(total AS DOUBLE) AS share
          FROM b, t ORDER BY digit"""),
    QueryDef("q_fk_orphans", (s, dir) =>
      Relational.fkOrphans(Tables.lineitem(s, dir), Tables.orders(s, dir),
        Tables.customer(s, dir), Tables.part(s, dir), Tables.events(s, dir))
        .orderBy("relation"),
      """WITH r AS (
           SELECT 'lineitem.orderkey' AS relation, (SELECT count(*) FROM lineitem) AS n_child,
                  (SELECT count(*) FROM lineitem l WHERE NOT EXISTS
                     (SELECT 1 FROM orders o WHERE o.o_orderkey = l.l_orderkey)) AS n_orphans
           UNION ALL
           SELECT 'orders.custkey', (SELECT count(*) FROM orders),
                  (SELECT count(*) FROM orders o WHERE NOT EXISTS
                     (SELECT 1 FROM customer c WHERE c.c_custkey = o.o_custkey))
           UNION ALL
           SELECT 'lineitem.partkey', (SELECT count(*) FROM lineitem),
                  (SELECT count(*) FROM lineitem l WHERE NOT EXISTS
                     (SELECT 1 FROM part p WHERE p.p_partkey = l.l_partkey))
           UNION ALL
           SELECT 'events.user_building', (SELECT count(*) FROM events),
                  (SELECT count(*) FROM events e WHERE NOT EXISTS
                     (SELECT 1 FROM customer c
                      WHERE c.c_mktsegment = 'BUILDING' AND c.c_custkey = e.user_id)))
         SELECT relation, CAST(n_child AS BIGINT) AS n_child,
                CAST(n_orphans AS BIGINT) AS n_orphans,
                CAST(n_orphans AS DOUBLE) / nullif(CAST(n_child AS DOUBLE), 0.0E0) AS orphan_rate
         FROM r ORDER BY relation"""),
    QueryDef("q_ohlc", (s, dir) =>
      Analytics.ohlcBars(Tables.events(s, dir)).orderBy("hour_epoch"),
      s"""WITH b AS (SELECT ${Stages.duckEpochBucketSql("ts", 3600)} AS hour_epoch,
                           value,
                           row_number() OVER (PARTITION BY ${Stages.duckEpochBucketSql("ts", 3600)}
                                              ORDER BY ts, event_id) AS rna,
                           row_number() OVER (PARTITION BY ${Stages.duckEpochBucketSql("ts", 3600)}
                                              ORDER BY ts DESC, event_id DESC) AS rnd
                    FROM events)
         SELECT hour_epoch, max(CASE WHEN rna = 1 THEN value END) AS open, max(value) AS high,
                min(value) AS low, max(CASE WHEN rnd = 1 THEN value END) AS close,
                count(*) AS volume
         FROM b GROUP BY hour_epoch ORDER BY hour_epoch"""),
    QueryDef("q_mix_weights", (s, dir) =>
      TextAnalysis.sourceMixWeights(Tables.documents(s, dir)).orderBy("source"),
      """WITH s AS (SELECT source, count(*) AS n_docs,
                           CAST(sum(len(string_split_regex(trim(text), '\s+'))) AS BIGINT) AS n_tokens
                    FROM documents GROUP BY source),
         t AS (SELECT CAST(sum(n_tokens) AS BIGINT) AS total_tokens, count(*) AS n_sources FROM s)
         SELECT source, n_docs, n_tokens,
                CAST(n_tokens AS DOUBLE) / CAST(total_tokens AS DOUBLE) AS share,
                CAST(total_tokens AS DOUBLE)
                  / (CAST(n_sources AS DOUBLE) * CAST(n_tokens AS DOUBLE)) AS weight
         FROM s, t ORDER BY source"""),
    QueryDef("q_triangles", (s, dir) =>
      Graph.triangleTopK(Tables.lineitem(s, dir), 20).orderBy("rank"),
      """WITH op AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem),
         e AS (SELECT a.pk AS pa, b.pk AS pb FROM op a JOIN op b ON a.ok = b.ok AND a.pk < b.pk
               GROUP BY 1, 2 HAVING count(*) >= 2),
         d AS (SELECT part, count(*) AS d
               FROM (SELECT pa AS part FROM e UNION ALL SELECT pb FROM e) GROUP BY part),
         o AS (SELECT CASE WHEN da < db OR (da = db AND pa < pb) THEN pa ELSE pb END AS src,
                      CASE WHEN da < db OR (da = db AND pa < pb) THEN pb ELSE pa END AS dst
               FROM (SELECT e.pa, e.pb, x.d AS da, y.d AS db
                     FROM e JOIN d x ON x.part = e.pa JOIN d y ON y.part = e.pb)),
         t AS (SELECT e1.src AS a, e1.dst AS b, e2.dst AS c
               FROM o e1 JOIN o e2 ON e1.dst = e2.src
               JOIN o e3 ON e3.src = e1.src AND e3.dst = e2.dst),
         pn AS (SELECT part, count(*) AS n_tri
                FROM (SELECT a AS part FROM t UNION ALL SELECT b FROM t UNION ALL SELECT c FROM t)
                GROUP BY part)
         SELECT CAST(row_number() OVER (ORDER BY n_tri DESC, pn.part ASC) AS BIGINT) AS rank,
                pn.part, pn.n_tri, d.d AS degree
         FROM pn JOIN d ON d.part = pn.part
         ORDER BY n_tri DESC, pn.part ASC LIMIT 20"""),
    QueryDef("q_assoc_rules", (s, dir) =>
      Graph.associationRules(Tables.lineitem(s, dir), 20).orderBy("rank"),
      """WITH op AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem),
         e AS (SELECT a.pk AS pa, b.pk AS pb, count(*) AS w
               FROM op a JOIN op b ON a.ok = b.ok AND a.pk < b.pk
               GROUP BY 1, 2 HAVING count(*) >= 2),
         pairs AS (SELECT pa AS ant, pb AS cons, w FROM e
                   UNION ALL SELECT pb, pa, w FROM e),
         s AS (SELECT pk, count(*) AS s FROM op GROUP BY pk),
         n AS (SELECT count(DISTINCT ok) AS n_orders FROM op),
         r AS (SELECT ant, cons, CAST(w AS BIGINT) AS w,
                      CAST(sa.s AS BIGINT) AS s_ant, CAST(sc.s AS BIGINT) AS s_cons,
                      CAST(w AS DOUBLE) / CAST(sa.s AS DOUBLE) AS confidence,
                      CAST(w * n_orders AS DOUBLE) / CAST(sa.s * sc.s AS DOUBLE) AS lift
               FROM pairs JOIN s sa ON sa.pk = ant JOIN s sc ON sc.pk = cons, n)
         SELECT CAST(row_number() OVER (ORDER BY lift DESC, ant, cons) AS BIGINT) AS rank,
                ant, cons, w, s_ant, s_cons, confidence, lift
         FROM r ORDER BY lift DESC, ant, cons LIMIT 20"""),
    QueryDef("q_basket_hist", (s, dir) =>
      Graph.basketSizeHistogram(Tables.lineitem(s, dir)).orderBy("n_items"),
      """WITH op AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
         b AS (SELECT l_orderkey, count(*) AS n_items FROM op GROUP BY l_orderkey)
         SELECT n_items, count(*) AS n_orders FROM b GROUP BY n_items ORDER BY n_items"""),
    QueryDef("q_inverted_index", (s, dir) =>
      TextAnalysis.invertedIndex(Tables.documents(s, dir)).orderBy("token"),
      """WITH t AS (SELECT doc_id, unnest(string_split_regex(trim(text), '\s+')) AS token
                    FROM documents)
         SELECT token, count(DISTINCT doc_id) AS df, count(*) AS tf,
                min(doc_id) AS first_doc, max(doc_id) AS last_doc
         FROM t GROUP BY token ORDER BY token"""),
    QueryDef("q_listagg", (s, dir) =>
      Analytics.pathString(Tables.events(s, dir)).orderBy("user_id"),
      """SELECT user_id, count(*) AS n_events,
                string_agg(event_type, '>' ORDER BY ts ASC, event_id ASC) AS path
         FROM events GROUP BY user_id ORDER BY user_id"""),
    QueryDef("q_pagerank", (s, dir) =>
      Analytics.pageRank(Tables.events(s, dir), 5).orderBy("rank"),
      duckPageRankSql(5, 1000000000L)),
    QueryDef("q_median_mode", (s, dir) =>
      Relational.medianMode(Tables.lineitem(s, dir)).orderBy("l_returnflag"),
      s"""WITH d AS (SELECT l_returnflag, ${Stages.lineitemQtySql} AS q, count(*) AS n
                    FROM lineitem GROUP BY 1, 2),
         mode AS (SELECT l_returnflag, q AS mode_qty, n AS mode_n
                  FROM (SELECT *, row_number() OVER (PARTITION BY l_returnflag
                          ORDER BY n DESC, q ASC) AS rn FROM d)
                  WHERE rn = 1),
         med AS (SELECT l_returnflag,
                        quantile_cont(${Stages.lineitemQtySql}, 0.5) AS median_qty
                 FROM lineitem GROUP BY 1)
         SELECT med.l_returnflag, median_qty, mode_qty, mode_n
         FROM med JOIN mode ON med.l_returnflag = mode.l_returnflag
         ORDER BY med.l_returnflag"""),
    QueryDef("q_weighted_sample", (s, dir) =>
      Relational.weightedSample(Tables.documents(s, dir), 10).orderBy("source", "rank"),
      s"""WITH p AS (SELECT source, doc_id, n_chars,
                ${Stages.duckMd5BitsSql("CAST(doc_id AS VARCHAR)", "1", 8)}
                  / CAST(n_chars AS DOUBLE) AS priority
              FROM documents),
         r AS (SELECT *, CAST(row_number() OVER (PARTITION BY source
                 ORDER BY priority ASC, doc_id ASC) AS BIGINT) AS rank FROM p)
         SELECT source, rank, doc_id, n_chars, priority FROM r WHERE rank <= 10
         ORDER BY source, rank"""),
    QueryDef("q_quota_sample", (s, dir) =>
      Relational.quotaSample(Tables.documents(s, dir), 5).orderBy("source", "rank"),
      """WITH r AS (SELECT source, doc_id, md5(CAST(doc_id AS VARCHAR)) AS h,
                CAST(row_number() OVER (PARTITION BY source
                  ORDER BY md5(CAST(doc_id AS VARCHAR)) ASC, doc_id ASC) AS BIGINT) AS rank
              FROM documents)
         SELECT source, rank, doc_id FROM r WHERE rank <= 5 ORDER BY source, rank"""),
    QueryDef("q_correlated", (s, dir) =>
      Relational.correlatedAboveAvg(s, Tables.orders(s, dir)).orderBy("o_orderkey"),
      s"""SELECT o_orderkey, o_custkey,
                 ${Stages.centsSql("o_totalprice")} / CAST(100 AS DOUBLE) AS total_price
          FROM orders o
          WHERE ${Stages.centsSql("o_totalprice")} *
                (SELECT count(*) FROM orders i WHERE i.o_custkey = o.o_custkey)
              > 2 * (SELECT sum(${Stages.centsSql("i.o_totalprice")})
                     FROM orders i WHERE i.o_custkey = o.o_custkey)
          ORDER BY o_orderkey"""),
    QueryDef("q_chunk", (s, dir) =>
      TextAnalysis.chunkOverlap(Tables.documents(s, dir)).orderBy("doc_id", "chunk_id"),
      """WITH c AS (SELECT doc_id, text,
                unnest(generate_series(0, (greatest(length(text) - 200, 0) + 149) // 150)) AS chunk_id
              FROM documents)
         SELECT doc_id, chunk_id,
                CAST(length(substring(text, CAST(chunk_id * 150 + 1 AS INTEGER), 200)) AS BIGINT) AS chunk_chars,
                md5(substring(text, CAST(chunk_id * 150 + 1 AS INTEGER), 200)) AS chunk_md5
         FROM c ORDER BY doc_id, chunk_id"""),
    QueryDef("q_char_diversity", (s, dir) =>
      TextAnalysis.charDiversity(Tables.documents(s, dir)).orderBy("doc_id"),
      duckCharDiversitySql),
    QueryDef("q_bloom_prefilter", (s, dir) =>
      Joins
        .bloomPrefilteredSemiJoin(
          Tables.lineitem(s, dir),
          Tables.supplier(s, dir).filter(col("s_acctbal") >= 5000),
          col("l_suppkey"), col("s_suppkey"), 10000L)
        .withColumn("price_cents", expr(engine.Stages.centsSql("l_extendedprice")))
        .groupBy(col("l_suppkey"))
        .agg(count(lit(1)).as("n_rows"),
          expr("sum(price_cents) / CAST(100 AS DOUBLE)").as("sum_price"))
        .orderBy("l_suppkey"),
      s"""SELECT l_suppkey, count(*) AS n_rows,
                 sum(${Stages.centsSql("l_extendedprice")}) / CAST(100 AS DOUBLE) AS sum_price
          FROM lineitem
          WHERE l_suppkey IN (SELECT s_suppkey FROM supplier WHERE s_acctbal >= 5000)
          GROUP BY l_suppkey ORDER BY l_suppkey"""),
    // ---- text analysis (north-star ops over documents) ----
    QueryDef("q_token_count", (s, dir) =>
      TextAnalysis.tokenCount(Tables.documents(s, dir)).orderBy("doc_id"),
      """SELECT doc_id, len(string_split_regex(trim(text), '\s+')) AS n_tokens
         FROM documents ORDER BY doc_id"""),
    QueryDef("q_token_bpe", (s, dir) =>
      TextAnalysis.bpeTokenCount(Tables.documents(s, dir)).orderBy("doc_id"),
      s"""SELECT doc_id, len(regexp_extract_all(text, '${TextAnalysis.bpeSplitPattern}')) AS n_bpe_tokens
         FROM documents ORDER BY doc_id"""),
    QueryDef("q_text_quality", (s, dir) =>
      TextAnalysis.qualityScore(Tables.documents(s, dir)).orderBy("doc_id"),
      s"""SELECT doc_id,
                length(text) AS n_chars,
                len(string_split_regex(trim(text), '\\s+')) AS n_tokens,
                length(text) - length(regexp_replace(text, '\\s', '', 'g')) AS n_spaces,
                CAST(length(text) AS DOUBLE) / CAST(len(string_split_regex(trim(text), '\\s+')) AS DOUBLE) AS chars_per_token,
                CAST(${duckStopwordHits("en")} AS DOUBLE) / CAST(len(string_split_regex(trim(text), '\\s+')) AS DOUBLE) AS stopword_ratio
         FROM documents ORDER BY doc_id"""),
    QueryDef("q_lang_id", (s, dir) =>
      TextAnalysis.languageId(Tables.documents(s, dir)).orderBy("doc_id"),
      duckLangIdSql),
    QueryDef("q_fingerprint", (s, dir) =>
      TextAnalysis.fingerprint(Tables.documents(s, dir)).orderBy("doc_id"),
      """SELECT doc_id, substring(md5(lower(text)), 1, 16) AS fp64
         FROM documents ORDER BY doc_id"""),
    QueryDef("q_winnow", (s, dir) =>
      TextAnalysis.winnowFingerprint(Tables.documents(s, dir)).orderBy("doc_id"),
      s"""WITH h AS (
           SELECT doc_id,
                  list_transform(generate_series(1, greatest(length(text) - 7, 1)),
                    i -> $duckGramHash) AS hs
           FROM documents),
         sel AS (
           SELECT doc_id,
                  list_sort(list_distinct(list_transform(generate_series(1, greatest(len(hs) - 3, 1)),
                    j -> list_min(hs[j:j+3])))) AS fps
           FROM h)
         SELECT doc_id, CAST(len(fps) AS BIGINT) AS n_fp, fps[1] AS min_fp, fps[-1] AS max_fp
         FROM sel ORDER BY doc_id"""),
    QueryDef("q_copy_detect", (s, dir) =>
      TextAnalysis.winnowCopyPairs(Tables.documents(s, dir), 40).orderBy("doc_a", "doc_b"),
      s"""WITH h AS (
           SELECT doc_id,
                  list_transform(generate_series(1, greatest(length(text) - 7, 1)),
                    i -> $duckGramHash) AS hs
           FROM documents),
         sel AS (
           SELECT doc_id,
                  list_sort(list_distinct(list_transform(generate_series(1, greatest(len(hs) - 3, 1)),
                    j -> list_min(hs[j:j+3])))) AS fps
           FROM h),
         e0 AS (SELECT doc_id, unnest(fps) AS fp FROM sel),
         nd AS (SELECT count(*) AS n_docs FROM documents),
         dfreq AS (SELECT fp, count(*) AS d FROM e0 GROUP BY fp),
         e AS (SELECT e0.doc_id, e0.fp FROM e0 JOIN dfreq USING (fp), nd
               WHERE dfreq.d <= 0.05 * n_docs),
         p AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_shared
               FROM e a JOIN e b ON a.fp = b.fp AND a.doc_id < b.doc_id
               GROUP BY 1, 2 HAVING count(*) >= 40)
         SELECT doc_a, doc_b, CAST(n_shared AS BIGINT) AS n_shared,
                CAST(n_shared AS DOUBLE)
                  / CAST(least(sa.n, sb.n) AS DOUBLE) AS overlap
         FROM p
         JOIN (SELECT doc_id, len(fps) AS n FROM sel) sa ON sa.doc_id = doc_a
         JOIN (SELECT doc_id, len(fps) AS n FROM sel) sb ON sb.doc_id = doc_b
         ORDER BY doc_a, doc_b"""),
    QueryDef("q_quality_filter", (s, dir) =>
      TextAnalysis.qualityFilter(Tables.documents(s, dir), 100, 450, 25).orderBy("doc_id"),
      """SELECT doc_id, source, length(text) AS n_chars,
                len(string_split_regex(trim(text), '\s+')) AS n_tokens
         FROM documents
         WHERE length(text) BETWEEN 100 AND 450
           AND len(string_split_regex(trim(text), '\s+')) >= 25
         ORDER BY doc_id"""),
    QueryDef("q_string_funcs", (s, dir) =>
      TextAnalysis.stringFuncs(Tables.documents(s, dir)).orderBy("doc_id"),
      """SELECT doc_id,
                upper(substring(text, 1, 3)) AS up3,
                reverse(substring(text, 1, 10)) AS head_rev,
                lpad(source, 8, '_') AS padded,
                replace(substring(text, 1, 20), ' ', '-') AS dashed,
                CAST(levenshtein(lang, source) AS BIGINT) AS lev,
                concat_ws('|', lang, source) AS cat
         FROM documents ORDER BY doc_id"""),
    QueryDef("q_term_freq", (s, dir) =>
      TextAnalysis.termFrequency(Tables.documents(s, dir), 20).orderBy("rank"),
      """WITH t AS (SELECT unnest(string_split_regex(trim(text), '\s+')) AS token FROM documents),
         g AS (SELECT token, count(*) AS n FROM t GROUP BY token),
         r AS (SELECT token, n, row_number() OVER (ORDER BY n DESC, token) AS rank FROM g)
         SELECT rank, token, n FROM r WHERE rank <= 20 ORDER BY rank"""),
    QueryDef("q_tfidf", (s, dir) =>
      TextAnalysis.tfidfTopTerms(Tables.documents(s, dir), 3).orderBy("doc_id", "rank"),
      """WITH td AS (SELECT doc_id, unnest(string_split_regex(trim(text), '\s+')) AS token FROM documents),
         tf AS (SELECT doc_id, token, count(*) AS tf FROM td GROUP BY doc_id, token),
         df AS (SELECT token, count(*) AS df FROM tf GROUP BY token),
         n AS (SELECT count(*) AS n FROM documents),
         scored AS (SELECT tf.doc_id, tf.token, tf.tf, df.df,
                           CAST(tf.tf AS DOUBLE) * (CAST(n.n AS DOUBLE) / CAST(df.df AS DOUBLE)) AS score
                    FROM tf JOIN df USING (token) CROSS JOIN n),
         ranked AS (SELECT *, row_number() OVER (PARTITION BY doc_id ORDER BY score DESC, token ASC) AS rank
                    FROM scored)
         SELECT doc_id, CAST(rank AS BIGINT) AS rank, token,
                CAST(tf AS BIGINT) AS tf, CAST(df AS BIGINT) AS df, score
         FROM ranked WHERE rank <= 3 ORDER BY doc_id, rank"""),
    QueryDef("q_bigram_pmi", (s, dir) =>
      TextAnalysis.bigramPmi(Tables.documents(s, dir), 15).orderBy("rank"),
      """WITH toks AS (SELECT doc_id, string_split_regex(trim(text), '\s+') AS t FROM documents),
         bi AS (SELECT unnest(list_transform(generate_series(1, len(t) - 1),
                  i -> struct_pack(w1 := t[i], w2 := t[i+1]))) AS bg FROM toks),
         bp AS (SELECT bg.w1 AS w1, bg.w2 AS w2 FROM bi),
         uni AS (SELECT unnest(t) AS w FROM toks),
         tot AS (SELECT (SELECT count(*) FROM bp) AS nbi, (SELECT count(*) FROM uni) AS nuni),
         bc AS (SELECT w1, w2, count(*) AS n_ab FROM bp GROUP BY w1, w2),
         uc AS (SELECT w, count(*) AS n_w FROM uni GROUP BY w),
         scored AS (
           SELECT bc.w1, bc.w2, bc.n_ab, a.n_w AS n_a, b.n_w AS n_b,
                  (CAST(n_ab AS DOUBLE) / CAST(nbi AS DOUBLE)) /
                  ((CAST(a.n_w AS DOUBLE) / CAST(nuni AS DOUBLE)) * (CAST(b.n_w AS DOUBLE) / CAST(nuni AS DOUBLE)))
                    AS pmi_ratio
           FROM bc JOIN uc a ON bc.w1 = a.w JOIN uc b ON bc.w2 = b.w CROSS JOIN tot),
         ranked AS (SELECT *, CAST(row_number() OVER (ORDER BY pmi_ratio DESC, w1 ASC, w2 ASC) AS BIGINT) AS rank
                    FROM scored)
         SELECT rank, w1, w2, n_ab, n_a, n_b, pmi_ratio
         FROM ranked WHERE rank <= 15 ORDER BY rank"""),
    QueryDef("q_array_funcs", (s, dir) =>
      TextAnalysis.arrayFuncs(Tables.documents(s, dir)).orderBy("doc_id"),
      """SELECT doc_id,
                CAST(len(toks) AS BIGINT) AS n_toks,
                CAST(len(list_distinct(toks)) AS BIGINT) AS n_uniq,
                toks[3] AS tok3,
                array_to_string(list_sort(list_distinct(toks))[1:5], ' ') AS first5_uniq,
                list_sort(list_distinct(toks))[-1] AS max_tok,
                list_contains(toks, 'the') AS has_the,
                CAST(coalesce(list_position(toks, 'data'), 0) AS BIGINT) AS pos_data,
                CAST(list_sum(list_transform(toks, t -> length(t))) AS BIGINT) AS sum_tok_len
         FROM (SELECT doc_id, string_split_regex(trim(text), '\s+') AS toks FROM documents)
         ORDER BY doc_id"""),
    QueryDef("q_repetition", (s, dir) =>
      TextAnalysis.repetitionStats(Tables.documents(s, dir)).orderBy("doc_id"),
      s"""WITH u AS (SELECT doc_id,
                  list_transform(generate_series(1, greatest(len(string_split_regex(trim(text), '\\s+')) - 2, 1)),
                    i -> array_to_string(string_split_regex(trim(text), '\\s+')[i:i+2], ' ')) AS grams
           FROM documents),
         d AS (SELECT doc_id, grams, list_distinct(grams) AS uniq FROM u)
         SELECT doc_id,
                CAST(len(grams) AS BIGINT) AS n_grams,
                CAST(len(uniq) AS BIGINT) AS n_distinct,
                CAST(len(grams) - len(uniq) AS DOUBLE) / CAST(len(grams) AS DOUBLE) AS dup_ratio,
                CAST(list_max(list_transform(uniq, g -> len(list_filter(grams, x -> x = g)))) AS BIGINT) AS max_gram_freq
         FROM d ORDER BY doc_id"""),
    QueryDef("q_pack", (s, dir) =>
      TextAnalysis.packSequences(Tables.documents(s, dir), 512).orderBy("source", "pack_id"),
      """WITH t AS (SELECT source, doc_id,
                  CAST(len(string_split_regex(trim(text), '\s+')) AS BIGINT) AS n_tokens
           FROM documents),
         c AS (SELECT source, doc_id, n_tokens,
                  CAST(coalesce(sum(n_tokens) OVER (PARTITION BY source ORDER BY doc_id
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS cum_before
           FROM t)
         SELECT source, cum_before // 512 AS pack_id,
                count(*) AS n_docs, CAST(sum(n_tokens) AS BIGINT) AS n_tokens,
                min(doc_id) AS first_doc, max(doc_id) AS last_doc
         FROM c GROUP BY source, cum_before // 512
         ORDER BY source, pack_id"""),
    QueryDef("q_mad_outliers", (s, dir) =>
      Relational.madOutliers(Tables.lineitem(s, dir)).orderBy("l_returnflag"),
      s"""WITH base AS (SELECT l_returnflag, ${Stages.centsSql("l_extendedprice")} // 100 AS x FROM lineitem),
         med AS (SELECT l_returnflag, quantile_cont(x, 0.5) AS med FROM base GROUP BY l_returnflag),
         mad AS (SELECT b.l_returnflag, m.med, quantile_cont(abs(b.x - m.med), 0.5) AS mad
                 FROM base b JOIN med m ON b.l_returnflag = m.l_returnflag
                 GROUP BY b.l_returnflag, m.med)
         SELECT b.l_returnflag, m.med AS median_dollars, m.mad AS mad_dollars,
                count(*) AS n_rows,
                count(CASE WHEN abs(b.x - m.med) > m.mad * 10 THEN 1 END) AS n_outliers
         FROM base b JOIN mad m ON b.l_returnflag = m.l_returnflag
         GROUP BY b.l_returnflag, m.med, m.mad
         ORDER BY b.l_returnflag"""),
    QueryDef("q_zscore", (s, dir) =>
      Relational.zscoreNormalize(Tables.lineitem(s, dir)).orderBy("l_orderkey", "l_linenumber"),
      s"""WITH base AS (SELECT l_orderkey, l_linenumber, l_returnflag,
                  ${Stages.centsSql("l_extendedprice")} // 100 AS x FROM lineitem),
         m AS (SELECT l_returnflag, count(*) AS n, sum(x) AS sx, sum(x * x) AS sxx
               FROM base GROUP BY l_returnflag)
         SELECT b.l_orderkey, b.l_linenumber, b.l_returnflag, b.x,
                ${Stages.zscoreSql} AS z
         FROM base b JOIN m ON b.l_returnflag = m.l_returnflag
         ORDER BY b.l_orderkey, b.l_linenumber"""),
    QueryDef("q_range_window", (s, dir) =>
      Analytics.timeRangeWindow(Tables.events(s, dir)).orderBy("user_id", "event_id"),
      s"""SELECT user_id, event_id, epoch_s,
                sum(cents) OVER w / CAST(100 AS DOUBLE) AS rolling_sum,
                count(*) OVER w AS n_in_range
         FROM (SELECT user_id, event_id, ${Stages.duckEpochBucketSql("ts", 1)} AS epoch_s,
                      ${Stages.centsSql("value")} AS cents FROM events)
         WINDOW w AS (PARTITION BY user_id ORDER BY epoch_s
                      RANGE BETWEEN 3600 PRECEDING AND CURRENT ROW)
         ORDER BY user_id, event_id"""),
    QueryDef("q_fuzzy_match", (s, dir) =>
      Joins.fuzzyBlockedMatch(Tables.customer(s, dir), 2).orderBy("cust_a", "cust_b"),
      """SELECT a.c_nationkey AS block, a.c_custkey AS cust_a, b.c_custkey AS cust_b,
                CAST(levenshtein(a.c_name, b.c_name) AS BIGINT) AS edit_dist
         FROM customer a JOIN customer b
           ON a.c_nationkey = b.c_nationkey AND a.c_custkey < b.c_custkey
         WHERE levenshtein(a.c_name, b.c_name) <= 2
         ORDER BY cust_a, cust_b"""),
    // ---- deduplication ----
    QueryDef("q_dedup_exact", (s, dir) =>
      Dedup.exact(Tables.documents(s, dir)).orderBy("text_md5"),
      """SELECT md5(text) AS text_md5, min(doc_id) AS keeper_doc_id, count(*) AS n_copies
         FROM documents GROUP BY md5(text) ORDER BY text_md5"""),
    QueryDef("q_decontaminate", (s, dir) =>
      Dedup.decontaminate(Tables.documents(s, dir), 50, 5).orderBy("doc_id"),
      s"""WITH g AS (SELECT doc_id, unnest(${duckShinglesN(5)}) AS gram FROM documents),
         e AS (SELECT doc_id AS eval_id, gram FROM g WHERE doc_id < 50),
         c AS (SELECT doc_id, gram FROM g WHERE doc_id >= 50)
         SELECT c.doc_id, count(DISTINCT c.gram) AS n_shared_grams,
                count(DISTINCT e.eval_id) AS n_eval_docs
         FROM c JOIN e ON c.gram = e.gram
         GROUP BY c.doc_id ORDER BY c.doc_id"""),
    QueryDef("q_dedup_clusters", (s, dir) =>
      Dedup.nearDupClusters(Tables.documents(s, dir), 0.5).orderBy("doc_id"),
      s"""WITH RECURSIVE
         g AS (SELECT doc_id, source, $duckShingles AS grams FROM documents),
         pairs AS (
           SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
           FROM g a JOIN g b ON a.source = b.source AND a.doc_id < b.doc_id
           WHERE CAST(len(list_intersect(a.grams, b.grams)) AS DOUBLE) /
                 CAST(len(list_distinct(list_concat(a.grams, b.grams))) AS DOUBLE) >= 0.5),
         edges AS (SELECT doc_a AS src, doc_b AS dst FROM pairs
                   UNION ALL SELECT doc_b, doc_a FROM pairs),
         reach(v, u) AS (
           SELECT doc_id, doc_id FROM documents
           UNION
           SELECT r.v, e.dst FROM reach r JOIN edges e ON r.u = e.src)
         SELECT v AS doc_id, min(u) AS cluster FROM reach GROUP BY v ORDER BY v"""),
    QueryDef("q_dedup_corpus", (s, dir) =>
      Dedup.dedupedCorpus(Tables.documents(s, dir), 0.5).orderBy("doc_id"),
      s"""WITH g AS (SELECT doc_id, source, $duckShingles AS grams FROM documents),
         drops AS (
           SELECT DISTINCT b.doc_id
           FROM g a JOIN g b ON a.source = b.source AND a.doc_id < b.doc_id
           WHERE CAST(len(list_intersect(a.grams, b.grams)) AS DOUBLE) /
                 CAST(len(list_distinct(list_concat(a.grams, b.grams))) AS DOUBLE) >= 0.5)
         SELECT doc_id, source, n_chars FROM documents
         WHERE doc_id NOT IN (SELECT doc_id FROM drops) ORDER BY doc_id"""),
    QueryDef("q_ngram_jaccard", (s, dir) =>
      Dedup.ngramJaccard(Tables.documents(s, dir), 0.5).orderBy("doc_a", "doc_b"),
      s"""WITH g AS (SELECT doc_id, source, $duckShingles AS grams FROM documents)
         SELECT a.source AS source, a.doc_id AS doc_a, b.doc_id AS doc_b,
                CAST(len(list_intersect(a.grams, b.grams)) AS DOUBLE) /
                CAST(len(list_distinct(list_concat(a.grams, b.grams))) AS DOUBLE) AS jaccard
         FROM g a JOIN g b ON a.source = b.source AND a.doc_id < b.doc_id
         WHERE CAST(len(list_intersect(a.grams, b.grams)) AS DOUBLE) /
               CAST(len(list_distinct(list_concat(a.grams, b.grams))) AS DOUBLE) >= 0.5
         ORDER BY doc_a, doc_b"""),
    QueryDef("q_containment", (s, dir) =>
      Dedup.ngramContainment(Tables.documents(s, dir), 0.6).orderBy("doc_a", "doc_b"),
      s"""WITH g AS (SELECT doc_id, source, ${duckShinglesN(3)} AS sh FROM documents),
         p AS (SELECT a.source AS source, a.doc_id AS doc_a, b.doc_id AS doc_b,
                      len(list_intersect(a.sh, b.sh)) AS n_inter, len(a.sh) AS n_a
               FROM g a JOIN g b ON a.source = b.source AND a.doc_id <> b.doc_id)
         SELECT source, doc_a, doc_b, CAST(n_inter AS BIGINT) AS n_inter,
                CAST(n_inter AS DOUBLE) / CAST(n_a AS DOUBLE) AS containment
         FROM p WHERE CAST(n_inter AS DOUBLE) / CAST(n_a AS DOUBLE) >= 0.6
         ORDER BY doc_a, doc_b"""),
    QueryDef("q_pii_scrub", (s, dir) =>
      TextAnalysis.piiScrub(Tables.documents(s, dir)).orderBy("doc_id"),
      """WITH aug AS (
           SELECT doc_id,
                  concat(text,
                    CASE WHEN doc_id % 7 = 0
                         THEN concat(' contact u', CAST(doc_id AS VARCHAR), '@example.com') ELSE '' END,
                    CASE WHEN doc_id % 11 = 0
                         THEN concat(' call 555-', lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')) ELSE '' END) AS aug
           FROM documents),
         c AS (SELECT doc_id, aug,
                      regexp_replace(regexp_replace(aug, '[a-z0-9]+@[a-z0-9.]+', '<EMAIL>', 'g'),
                                     '\b555-[0-9]{4}\b', '<PHONE>', 'g') AS clean
               FROM aug)
         SELECT doc_id,
                CAST(len(regexp_extract_all(aug, '[a-z0-9]+@[a-z0-9.]+')) AS BIGINT) AS n_emails,
                CAST(len(regexp_extract_all(aug, '\b555-[0-9]{4}\b')) AS BIGINT) AS n_phones,
                md5(clean) AS clean_md5,
                CAST(length(clean) AS BIGINT) AS clean_len
         FROM c ORDER BY doc_id"""),
    QueryDef("q_boilerplate", (s, dir) =>
      TextAnalysis.boilerplateStats(Tables.documents(s, dir), 0.05).orderBy("doc_id"),
      """WITH toks AS (SELECT doc_id, string_split_regex(trim(text), '\s+') AS t FROM documents),
         spans AS (SELECT doc_id,
                          unnest(list_transform(generate_series(1, greatest(len(t) - 1, 1)),
                                                i -> array_to_string(t[i:i+1], ' '))) AS gram
                   FROM toks),
         nd AS (SELECT count(*) AS n_docs FROM documents),
         common AS (SELECT gram
                    FROM (SELECT gram, count(DISTINCT doc_id) AS df FROM spans GROUP BY gram), nd
                    WHERE df >= n_docs * 0.05)
         SELECT s.doc_id, count(*) AS n_spans,
                CAST(sum(CASE WHEN c.gram IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_boiler,
                CAST(sum(CASE WHEN c.gram IS NOT NULL THEN 1 ELSE 0 END) AS DOUBLE)
                  / CAST(count(*) AS DOUBLE) AS boiler_ratio
         FROM spans s LEFT JOIN common c ON s.gram = c.gram
         GROUP BY s.doc_id ORDER BY s.doc_id"""),
    QueryDef("q_hhi", (s, dir) =>
      TextAnalysis.sourceHhi(Tables.documents(s, dir)).orderBy("source"),
      """WITH tf AS (SELECT source, unnest(string_split_regex(trim(text), '\s+')) AS tok FROM documents),
         c AS (SELECT source, tok, count(*) AS cnt FROM tf GROUP BY source, tok)
         SELECT source, count(*) AS n_distinct, CAST(sum(cnt) AS BIGINT) AS n_tokens,
                CAST(sum(cnt * cnt) AS DOUBLE)
                  / (CAST(sum(cnt) AS DOUBLE) * CAST(sum(cnt) AS DOUBLE)) AS hhi
         FROM c GROUP BY source ORDER BY source"""),
    QueryDef("q_dedup_minhash", (s, dir) =>
      Dedup.minhashNearDups(Tables.documents(s, dir)).orderBy("doc_a", "doc_b"),
      s"""WITH g AS (SELECT doc_id, $duckShingles AS grams FROM documents),
         $duckMinhashSigCtes,
         bands AS (SELECT doc_id, sig, unnest(generate_series(0,7)) AS band FROM sig),
         keyed AS (SELECT doc_id, band, sig[band*4+1:band*4+4] AS bsig FROM bands),
         kept AS (SELECT * FROM keyed QUALIFY count(*) OVER (PARTITION BY band, bsig) <= $bucketCap),
         cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
                  FROM kept a JOIN kept b ON a.band = b.band AND a.bsig = b.bsig AND a.doc_id < b.doc_id),
         sj AS (SELECT doc_a, doc_b, sa.sig AS sig_a, sb.sig AS sig_b
                FROM cand JOIN sig sa ON sa.doc_id = doc_a JOIN sig sb ON sb.doc_id = doc_b)
         SELECT doc_a, doc_b,
                CAST(len(list_filter(generate_series(1,32), i -> sig_a[i] = sig_b[i])) AS DOUBLE) / 32 AS est_jaccard
         FROM sj
         WHERE CAST(len(list_filter(generate_series(1,32), i -> sig_a[i] = sig_b[i])) AS DOUBLE) / 32 >= 0.5
         ORDER BY doc_a, doc_b"""),
    QueryDef("q_sig_agree_dist", (s, dir) =>
      Dedup.candidateAgreementDist(Tables.documents(s, dir)).orderBy("agree"),
      s"""WITH g AS (SELECT doc_id, $duckShingles AS grams FROM documents),
         $duckMinhashSigCtes,
         bands AS (SELECT doc_id, sig, unnest(generate_series(0,7)) AS band FROM sig),
         keyed AS (SELECT doc_id, band, sig[band*4+1:band*4+4] AS bsig FROM bands),
         kept AS (SELECT * FROM keyed QUALIFY count(*) OVER (PARTITION BY band, bsig) <= $bucketCap),
         cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
                  FROM kept a JOIN kept b ON a.band = b.band AND a.bsig = b.bsig AND a.doc_id < b.doc_id),
         sj AS (SELECT doc_a, doc_b, sa.sig AS sig_a, sb.sig AS sig_b
                FROM cand JOIN sig sa ON sa.doc_id = doc_a JOIN sig sb ON sb.doc_id = doc_b)
         SELECT CAST(len(list_filter(generate_series(1,32), i -> sig_a[i] = sig_b[i])) AS BIGINT) AS agree,
                count(*) AS n_pairs
         FROM sj GROUP BY 1 ORDER BY agree"""),
    QueryDef("q_dedup_transitivity", (s, dir) =>
      Dedup.dedupTransitivity(Tables.documents(s, dir)),
      s"""WITH g AS (SELECT doc_id, $duckShingles AS grams FROM documents),
         $duckMinhashSigCtes,
         bands AS (SELECT doc_id, sig, unnest(generate_series(0,7)) AS band FROM sig),
         keyed AS (SELECT doc_id, band, sig[band*4+1:band*4+4] AS bsig FROM bands),
         kept AS (SELECT * FROM keyed QUALIFY count(*) OVER (PARTITION BY band, bsig) <= $bucketCap),
         cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
                  FROM kept a JOIN kept b ON a.band = b.band AND a.bsig = b.bsig AND a.doc_id < b.doc_id),
         sj AS (SELECT doc_a, doc_b
                FROM cand JOIN sig sa ON sa.doc_id = doc_a JOIN sig sb ON sb.doc_id = doc_b
                WHERE CAST(len(list_filter(generate_series(1,32), i -> sa.sig[i] = sb.sig[i])) AS DOUBLE) / 32 >= 0.5),
         adj AS (SELECT doc_a, doc_b FROM sj UNION ALL SELECT doc_b AS doc_a, doc_a AS doc_b FROM sj),
         w AS (SELECT x.doc_b AS a, y.doc_b AS c
               FROM adj x JOIN adj y ON x.doc_a = y.doc_a WHERE x.doc_b < y.doc_b),
         cl AS (SELECT count(*) AS n_closed FROM w JOIN sj ON sj.doc_a = w.a AND sj.doc_b = w.c)
         SELECT (SELECT count(*) FROM sj) AS n_pairs,
                (SELECT count(*) FROM w) AS n_wedges,
                n_closed,
                CASE WHEN (SELECT count(*) FROM w) = 0 THEN NULL
                     ELSE CAST(n_closed AS DOUBLE) / CAST((SELECT count(*) FROM w) AS DOUBLE) END AS transitivity
         FROM cl"""),
    QueryDef("q_dedup_incremental", (s, dir) =>
      Dedup.incrementalBestMatch(Tables.documents(s, dir)).orderBy("new_doc"),
      s"""WITH g AS (SELECT doc_id, $duckShingles AS grams FROM documents),
         $duckMinhashSigCtes,
         split AS (SELECT doc_id,
                   ${Stages.duckMd5BitsSql("CAST(doc_id AS VARCHAR)", "1", 8)} % 10 = 0 AS is_new
                   FROM documents),
         bands AS (SELECT doc_id, sig, unnest(generate_series(0,7)) AS band FROM sig),
         keyed AS (SELECT doc_id, band, sig[band*4+1:band*4+4] AS bsig FROM bands),
         ckept AS (SELECT k.* FROM keyed k JOIN split s ON s.doc_id = k.doc_id AND NOT s.is_new
                   QUALIFY count(*) OVER (PARTITION BY k.band, k.bsig) <= $bucketCap),
         cand AS (SELECT DISTINCT a.doc_id AS new_doc, b.doc_id AS corpus_doc
                  FROM keyed a
                  JOIN split sa ON sa.doc_id = a.doc_id AND sa.is_new
                  JOIN ckept b ON a.band = b.band AND a.bsig = b.bsig),
         est AS (SELECT new_doc, corpus_doc,
                 CAST(len(list_filter(generate_series(1,32), i -> sn.sig[i] = sc.sig[i])) AS DOUBLE) / 32 AS est_jaccard
                 FROM cand JOIN sig sn ON sn.doc_id = new_doc JOIN sig sc ON sc.doc_id = corpus_doc),
         best AS (SELECT new_doc, corpus_doc, est_jaccard,
                  row_number() OVER (PARTITION BY new_doc ORDER BY est_jaccard DESC, corpus_doc ASC) AS rk
                  FROM est WHERE est_jaccard >= 0.5)
         SELECT s.doc_id AS new_doc, b.corpus_doc, b.est_jaccard, b.corpus_doc IS NULL AS admitted
         FROM split s LEFT JOIN (SELECT * FROM best WHERE rk = 1) b ON b.new_doc = s.doc_id
         WHERE s.is_new
         ORDER BY new_doc"""),
    QueryDef("q_doc_surprisal", (s, dir) =>
      TextAnalysis.docSurprisal(Tables.documents(s, dir)).orderBy("doc_id"),
      """WITH toks AS (SELECT doc_id, unnest(string_split_regex(trim(text), '\s+')) AS w
                       FROM documents),
         cw AS (SELECT w, CAST(count(*) AS BIGINT) AS n_w FROM toks GROUP BY 1),
         tot AS (SELECT CAST(sum(n_w) AS BIGINT) AS n_total FROM cw),
         per AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
                 CAST(sum(CAST(round(ln(n_w) * 1000000) AS BIGINT)) AS BIGINT) AS lp_micro
                 FROM toks JOIN cw USING (w) GROUP BY doc_id)
         SELECT doc_id, n_tokens,
                ln(CAST(n_total AS DOUBLE)) - CAST(lp_micro AS DOUBLE) / (1000000.0 * CAST(n_tokens AS DOUBLE)) AS surprisal
         FROM per, tot ORDER BY doc_id"""),
    QueryDef("q_minhash_acc", (s, dir) =>
      Dedup.minhashAccuracy(Tables.documents(s, dir)).orderBy("doc_a", "doc_b"),
      s"""WITH g AS (SELECT doc_id, $duckShingles AS grams FROM documents),
         $duckMinhashSigCtes,
         bands AS (SELECT doc_id, sig, unnest(generate_series(0,7)) AS band FROM sig),
         keyed AS (SELECT doc_id, band, sig[band*4+1:band*4+4] AS bsig FROM bands),
         kept AS (SELECT * FROM keyed QUALIFY count(*) OVER (PARTITION BY band, bsig) <= $bucketCap),
         cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
                  FROM kept a JOIN kept b ON a.band = b.band AND a.bsig = b.bsig AND a.doc_id < b.doc_id),
         est AS (SELECT doc_a, doc_b,
                        CAST(len(list_filter(generate_series(1,32), i -> sa.sig[i] = sb.sig[i])) AS DOUBLE) / 32 AS est_jaccard
                 FROM cand JOIN sig sa ON sa.doc_id = doc_a JOIN sig sb ON sb.doc_id = doc_b),
         q AS (SELECT * FROM est WHERE est_jaccard >= 0.25)
         SELECT doc_a, doc_b, est_jaccard,
                CAST(len(list_intersect(ga.grams, gb.grams)) AS DOUBLE)
                  / CAST(len(ga.grams) + len(gb.grams) - len(list_intersect(ga.grams, gb.grams)) AS DOUBLE) AS exact_jaccard,
                abs(est_jaccard
                  - CAST(len(list_intersect(ga.grams, gb.grams)) AS DOUBLE)
                    / CAST(len(ga.grams) + len(gb.grams) - len(list_intersect(ga.grams, gb.grams)) AS DOUBLE)) AS abs_err
         FROM q JOIN g ga ON ga.doc_id = q.doc_a JOIN g gb ON gb.doc_id = q.doc_b
         ORDER BY doc_a, doc_b"""),
    QueryDef("q_dedup_simhash", (s, dir) =>
      Dedup.simhashNearDups(Tables.documents(s, dir), 3).orderBy("doc_a", "doc_b"),
      duckSimhashSql(3)),
    // ---- similarity search over embeddings ----
    QueryDef("q_cosine_topk", (s, dir) =>
      Similarity.cosineTopK(Tables.embeddings(s, dir), 10, 5).orderBy("qid", "rank"),
      duckCosineTopKSql(10, 5)),
    QueryDef("q_ann_lsh", (s, dir) =>
      Similarity.lshBucketTopK(Tables.embeddings(s, dir), 10, 5).orderBy("qid", "rank"),
      duckAnnLshSql(10, 5, 4)),
    QueryDef("q_ann_lsh_mp", (s, dir) =>
      Similarity.lshMultiProbeTopK(Tables.embeddings(s, dir), 10, 5).orderBy("qid", "rank"),
      duckAnnLshSql(10, 5, 4, multiProbe = true)),
    QueryDef("q_ann_ivf", (s, dir) =>
      Similarity.ivfTopK(Tables.embeddings(s, dir), 10, 5).orderBy("qid", "rank"),
      duckAnnIvfSql(10, 5, 8)),
    QueryDef("q_ann_pq", (s, dir) =>
      Similarity.pqTopK(Tables.embeddings(s, dir), 10, 5).orderBy("qid", "rank"),
      duckAnnPqSql(10, 5, 8, 16)),
    QueryDef("q_ann_ivfpq", (s, dir) =>
      Similarity.ivfPqTopK(Tables.embeddings(s, dir), 10, 5).orderBy("qid", "rank"),
      duckAnnIvfPqSql(10, 5, 8, 8, 16)),
    QueryDef("q_ann_sq8", (s, dir) =>
      Similarity.sq8TopK(Tables.embeddings(s, dir), 10, 5).orderBy("qid", "rank"),
      duckAnnSq8Sql(10, 5)),
    QueryDef("q_ann_ivf2", (s, dir) =>
      Similarity.ivfProbe2TopK(Tables.embeddings(s, dir), 10, 5).orderBy("qid", "rank"),
      duckAnnIvf2Sql(10, 5, 8)),
    QueryDef("q_not_in", (s, dir) =>
      Joins.notInSubquery(s, Tables.customer(s, dir), Tables.supplier(s, dir))
        .orderBy("c_custkey"),
      """SELECT c_custkey, c_name, c_nationkey FROM customer
         WHERE c_nationkey NOT IN (SELECT s_nationkey FROM supplier WHERE s_acctbal >= 5000.0)
         ORDER BY c_custkey"""),
    QueryDef("q_ks_test", (s, dir) =>
      TextAnalysis.ksTest(Tables.documents(s, dir), "src0", "src1").orderBy("na"),
      """WITH d AS (SELECT source, n_chars AS x FROM documents WHERE source IN ('src0', 'src1')),
         grid AS (SELECT x,
                         sum(CASE WHEN source = 'src0' THEN 1 ELSE 0 END) AS a,
                         sum(CASE WHEN source = 'src1' THEN 1 ELSE 0 END) AS b
                  FROM d GROUP BY x),
         cum AS (SELECT x,
                        CAST(sum(a) OVER (ORDER BY x ROWS UNBOUNDED PRECEDING) AS BIGINT) AS ca,
                        CAST(sum(b) OVER (ORDER BY x ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cb
                 FROM grid),
         t AS (SELECT CAST(sum(a) AS BIGINT) AS na, CAST(sum(b) AS BIGINT) AS nb FROM grid)
         SELECT na, nb,
                CAST(max(abs(ca * nb - cb * na)) AS BIGINT) AS d_num,
                CAST(max(abs(ca * nb - cb * na)) AS DOUBLE) / nullif(CAST(na * nb AS DOUBLE), 0.0E0) AS d_stat
         FROM cum CROSS JOIN t GROUP BY na, nb ORDER BY na"""),
    QueryDef("q_vocab_overlap", (s, dir) =>
      TextAnalysis.vocabOverlap(Tables.documents(s, dir)).orderBy("source_a", "source_b"),
      """WITH st AS (SELECT DISTINCT source, unnest(string_split_regex(trim(text), '\s+')) AS tok
                     FROM documents),
         sizes AS (SELECT source, count(*) AS n_vocab FROM st GROUP BY source),
         p AS (SELECT a.source AS source_a, b.source AS source_b, count(*) AS n_shared
               FROM st a JOIN st b ON a.tok = b.tok AND a.source < b.source
               GROUP BY 1, 2)
         SELECT source_a, source_b, n_shared, sa.n_vocab AS n_a, sb.n_vocab AS n_b,
                CAST(n_shared AS DOUBLE) / CAST(sa.n_vocab + sb.n_vocab - n_shared AS DOUBLE) AS jaccard
         FROM p JOIN sizes sa ON p.source_a = sa.source
                JOIN sizes sb ON p.source_b = sb.source
         ORDER BY source_a, source_b"""),
    QueryDef("q_knn", (s, dir) =>
      Similarity.knnClassify(Tables.embeddings(s, dir), 10, 5).orderBy("qid"),
      s"""WITH topk AS (SELECT qid, nid FROM (${duckCosineTopKSql(10, 5)})),
         votes AS (SELECT t.qid, e.label AS n_label, count(*) AS votes
                   FROM topk t JOIN embeddings e ON e.vec_id = t.nid GROUP BY 1, 2),
         pred AS (SELECT qid, n_label AS pred_label, votes
                  FROM (SELECT *, row_number() OVER (PARTITION BY qid
                          ORDER BY votes DESC, n_label ASC) AS rn FROM votes)
                  WHERE rn = 1)
         SELECT p.qid, CAST(q.label AS BIGINT) AS true_label,
                CAST(p.pred_label AS BIGINT) AS pred_label, p.votes,
                q.label = p.pred_label AS correct
         FROM pred p JOIN embeddings q ON q.vec_id = p.qid ORDER BY qid"""),
    QueryDef("q_ann_recall", (s, dir) =>
      Similarity.annRecall(Tables.embeddings(s, dir), 10, 5).orderBy("qid"),
      s"""WITH bf AS (SELECT qid, nid FROM (${duckCosineTopKSql(10, 5)})),
         ap AS (SELECT qid, nid FROM (${duckAnnLshSql(10, 5, 4)})),
         h AS (SELECT qid, count(*) AS n_hit FROM bf JOIN ap USING (qid, nid) GROUP BY qid),
         t AS (SELECT qid, count(*) AS n_true FROM bf GROUP BY qid)
         SELECT t.qid, t.n_true, coalesce(h.n_hit, 0) AS n_hit,
                CAST(coalesce(h.n_hit, 0) AS DOUBLE) / CAST(t.n_true AS DOUBLE) AS recall
         FROM t LEFT JOIN h ON t.qid = h.qid ORDER BY t.qid"""),
    QueryDef("q_confusion", (s, dir) =>
      TextAnalysis.langConfusion(Tables.documents(s, dir)).orderBy("true_lang", "pred_lang"),
      s"""WITH pred AS ($duckLangIdSql)
         SELECT d.lang AS true_lang, p.pred_lang, count(*) AS n
         FROM pred p JOIN documents d ON d.doc_id = p.doc_id
         GROUP BY 1, 2 ORDER BY 1, 2"""),
    QueryDef("q_source_stats", (s, dir) =>
      TextAnalysis.sourceStats(Tables.documents(s, dir)).orderBy("source"),
      """SELECT source, count(*) AS n_docs,
                CAST(sum(n_chars) AS BIGINT) AS total_chars,
                max(n_chars) AS max_chars,
                CAST(sum(len(string_split_regex(trim(text), '\s+'))) AS BIGINT) AS total_tokens,
                count(DISTINCT md5(text)) AS n_uniq_texts,
                count(*) - count(DISTINCT md5(text)) AS n_dup_docs
         FROM documents GROUP BY source ORDER BY source"""),
    QueryDef("q_semantic_dedup", (s, dir) =>
      Similarity.semanticDedupSummary(Tables.embeddings(s, dir), 0.3).orderBy("label"),
      """WITH pairs AS (
           SELECT a.label AS label, b.vec_id AS vec_id
           FROM embeddings a JOIN embeddings b ON a.label = b.label AND a.vec_id < b.vec_id
           WHERE round(list_dot_product(a.embedding::DOUBLE[], b.embedding::DOUBLE[]) /
                       (sqrt(list_dot_product(a.embedding::DOUBLE[], a.embedding::DOUBLE[])) *
                        sqrt(list_dot_product(b.embedding::DOUBLE[], b.embedding::DOUBLE[]))), 3) >= 0.3),
         dropped AS (SELECT DISTINCT label, vec_id FROM pairs)
         SELECT e.label, count(*) AS n_vecs,
                count(d.vec_id) AS n_dropped,
                count(*) - count(d.vec_id) AS n_kept
         FROM embeddings e LEFT JOIN dropped d ON e.label = d.label AND e.vec_id = d.vec_id
         GROUP BY e.label ORDER BY e.label"""),
    QueryDef("q_hard_negatives", (s, dir) =>
      Similarity.hardNegatives(Tables.embeddings(s, dir), 10, 5).orderBy("qid", "rank"),
      """WITH q AS (SELECT vec_id AS qid, label AS qlabel, embedding::DOUBLE[] AS qe
                    FROM embeddings WHERE vec_id < 10),
         pairs AS (
           SELECT q.qid, e.vec_id AS nid, e.label AS neg_label,
                  round(list_dot_product(q.qe, e.embedding::DOUBLE[]) /
                        (sqrt(list_dot_product(q.qe, q.qe)) *
                         sqrt(list_dot_product(e.embedding::DOUBLE[], e.embedding::DOUBLE[]))), 3) AS cos_sim
           FROM q JOIN embeddings e ON e.label <> q.qlabel),
         ranked AS (
           SELECT qid, nid, neg_label, cos_sim,
                  row_number() OVER (PARTITION BY qid ORDER BY cos_sim DESC, nid) AS rank
           FROM pairs)
         SELECT qid, CAST(rank AS BIGINT) AS rank, nid, neg_label, cos_sim
         FROM ranked WHERE rank <= 5 ORDER BY qid, rank"""),
    QueryDef("q_embed_near_dup", (s, dir) =>
      Similarity.cosineNearDups(Tables.embeddings(s, dir), 0.3).orderBy("vec_a", "vec_b"),
      """SELECT a.label AS label, a.vec_id AS vec_a, b.vec_id AS vec_b,
                round(list_dot_product(a.embedding::DOUBLE[], b.embedding::DOUBLE[]) /
                      (sqrt(list_dot_product(a.embedding::DOUBLE[], a.embedding::DOUBLE[])) *
                       sqrt(list_dot_product(b.embedding::DOUBLE[], b.embedding::DOUBLE[]))), 3) AS cos_sim
         FROM embeddings a JOIN embeddings b ON a.label = b.label AND a.vec_id < b.vec_id
         WHERE round(list_dot_product(a.embedding::DOUBLE[], b.embedding::DOUBLE[]) /
                     (sqrt(list_dot_product(a.embedding::DOUBLE[], a.embedding::DOUBLE[])) *
                      sqrt(list_dot_product(b.embedding::DOUBLE[], b.embedding::DOUBLE[]))), 3) >= 0.3
         ORDER BY vec_a, vec_b"""),
    // ---- multimodal binary columns ----
    QueryDef("q_multimodal_meta", (s, dir) =>
      Multimodal.mediaTable(Tables.documents(s, dir))
        .drop("payload")
        .orderBy("doc_id"),
      // header = first 8 BYTES of the utf-8 payload (Spark slices the
      // BINARY column): slice the hex text 2 chars per byte — the old
      // encode(substring(text,...)) sliced CODEPOINTS first and emitted
      // up to 4 extra bytes on multi-byte text (extreme sweep, r10).
      """SELECT doc_id,
                octet_length(encode(text)) AS byte_len,
                sha256(text) AS sha,
                lower(substring(hex(encode(text)), 1, 16)) AS header_hex
         FROM documents ORDER BY doc_id"""),
    QueryDef("q_payload_slices", (s, dir) =>
      Multimodal.payloadSlices(Multimodal.mediaTable(Tables.documents(s, dir)))
        .orderBy("doc_id", "slice_id"),
      """WITH s AS (SELECT doc_id, length(text) AS byte_len,
                unnest(generate_series(0, (length(text) - 1) // 128)) AS slice_id, text
              FROM documents WHERE length(text) > 0)
         SELECT doc_id, slice_id, slice_id * 128 AS byte_off,
                CAST(octet_length(encode(substring(text, CAST(slice_id * 128 + 1 AS INTEGER), 64))) AS BIGINT) AS n_bytes,
                md5(lower(hex(encode(substring(text, CAST(slice_id * 128 + 1 AS INTEGER), 64))))) AS slice_md5
         FROM s ORDER BY doc_id, slice_id"""),
    QueryDef("q_frame_features", (s, dir) =>
      Multimodal
        .frameFeatures(s, Multimodal.mediaTable(Tables.documents(s, dir)), 2)
        .orderBy("doc_id"),
      // The decode is BYTE-based (the engine folds unsigned bytes of
      // the BINARY payload): all positions index the hex text 2 chars
      // per byte — the old ascii(substring(text,...)) read CODEPOINTS,
      // which coincides with bytes only on pure-ascii fixtures
      // (extreme sweep, r10).
      """WITH m AS (SELECT doc_id, hex(encode(text)) AS hx,
                octet_length(encode(text)) AS blen,
                (octet_length(encode(text)) + 15) // 16 AS chunks
              FROM documents),
         f AS (SELECT doc_id, blen, hx,
                unnest(generate_series(0, chunks - 1, 2)) AS fi
              FROM m WHERE chunks > 0),
         ch AS (SELECT doc_id, fi, hx, fi * 16 AS off,
                unnest(generate_series(1, CAST(least(16, blen - fi * 16) AS BIGINT))) AS j
              FROM f),
         cs AS (SELECT doc_id, fi,
                CAST(sum(CAST(concat('0x', substring(hx, CAST((off + j) * 2 - 1 AS INTEGER), 2)) AS INTEGER)) AS BIGINT) AS s,
                count(*) AS l
              FROM ch GROUP BY doc_id, fi),
         agg AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n,
                CAST(sum(s * (720720 // l)) AS BIGINT) AS isum
              FROM cs GROUP BY doc_id)
         SELECT m.doc_id,
                COALESCE(agg.n, 0) AS n_frames,
                CASE WHEN coalesce(m.blen, 0) = 0 THEN 0
                     ELSE 16 + CAST(concat('0x', substring(m.hx, 1, 2)) AS INTEGER) % 128 END AS width,
                CASE WHEN coalesce(m.blen, 0) = 0 THEN 0
                     WHEN m.blen < 2 THEN 9
                     ELSE 9 + CAST(concat('0x', substring(m.hx, 3, 2)) AS INTEGER) % 64 END AS height,
                CASE WHEN COALESCE(agg.n, 0) = 0 THEN 0.0
                     ELSE CAST((2 * isum * 100 + 720720 * agg.n) // (2 * 720720 * agg.n) AS DOUBLE) / 100.0
                END AS mean_intensity
         FROM m LEFT JOIN agg ON m.doc_id = agg.doc_id
         ORDER BY m.doc_id"""),
    QueryDef("q_slice_neardup", (s, dir) =>
      Multimodal.sliceNearDup(Multimodal.mediaTable(Tables.documents(s, dir))),
      """WITH s AS (SELECT doc_id,
                unnest(generate_series(0, (length(text) - 1) // 128)) AS slice_id, text
              FROM documents WHERE length(text) > 0),
         sl AS (SELECT DISTINCT doc_id,
                md5(lower(hex(encode(substring(text, CAST(slice_id * 128 + 1 AS INTEGER), 64))))) AS slice_md5
              FROM s),
         nd AS (SELECT doc_id, count(*) AS n_slices FROM sl GROUP BY doc_id),
         buck AS (SELECT slice_md5 FROM sl GROUP BY slice_md5 HAVING count(*) BETWEEN 2 AND 50),
         pairs AS (SELECT a.doc_id AS da, b.doc_id AS db, count(*) AS shared
                   FROM sl a JOIN buck USING (slice_md5) JOIN sl b USING (slice_md5)
                   WHERE a.doc_id < b.doc_id GROUP BY 1, 2 HAVING count(*) >= 2)
         SELECT da, db, shared, x.n_slices AS na, y.n_slices AS nb,
                CAST((2000 * shared + least(x.n_slices, y.n_slices))
                     // (2 * least(x.n_slices, y.n_slices)) AS BIGINT) AS overlap_permille
         FROM pairs JOIN nd x ON pairs.da = x.doc_id JOIN nd y ON pairs.db = y.doc_id
         ORDER BY da, db"""),
    QueryDef("q_shard_locality", (s, dir) =>
      Multimodal.sliceShardLocality(Multimodal.mediaTable(Tables.documents(s, dir))),
      """WITH s AS (SELECT doc_id,
                unnest(generate_series(0, (length(text) - 1) // 128)) AS slice_id, text
              FROM documents WHERE length(text) > 0),
         sl AS (SELECT DISTINCT doc_id,
                md5(lower(hex(encode(substring(text, CAST(slice_id * 128 + 1 AS INTEGER), 64))))) AS slice_md5
              FROM s),
         buck AS (SELECT slice_md5 FROM sl GROUP BY slice_md5 HAVING count(*) BETWEEN 2 AND 50),
         pairs AS (SELECT a.doc_id AS da, b.doc_id AS db, count(*) AS shared
                   FROM sl a JOIN buck USING (slice_md5) JOIN sl b USING (slice_md5)
                   WHERE a.doc_id < b.doc_id GROUP BY 1, 2 HAVING count(*) >= 2),
         n AS (SELECT unnest([4, 16, 64]) AS n_shards)
         SELECT CAST(n_shards AS BIGINT) AS n_shards,
                count(*) AS dup_pairs,
                CAST(sum(CASE WHEN da % n_shards = db % n_shards THEN 1 ELSE 0 END) AS BIGINT)
                  AS intra_shard_pairs,
                CAST((2000 * CAST(sum(CASE WHEN da % n_shards = db % n_shards THEN 1 ELSE 0 END) AS BIGINT)
                      + count(*)) // (2 * count(*)) AS BIGINT) AS catch_permille
         FROM pairs CROSS JOIN n GROUP BY 1 ORDER BY 1"""),
    QueryDef("q_slice_containment", (s, dir) =>
      Multimodal.sliceContainment(Multimodal.mediaTable(Tables.documents(s, dir))),
      """WITH s AS (SELECT doc_id,
                unnest(generate_series(0, (length(text) - 1) // 128)) AS slice_id, text
              FROM documents WHERE length(text) > 0),
         sl AS (SELECT DISTINCT doc_id,
                md5(lower(hex(encode(substring(text, CAST(slice_id * 128 + 1 AS INTEGER), 64))))) AS slice_md5
              FROM s),
         nd AS (SELECT doc_id, count(*) AS n_slices FROM sl GROUP BY doc_id),
         buck AS (SELECT slice_md5 FROM sl GROUP BY slice_md5 HAVING count(*) BETWEEN 2 AND 50),
         pairs AS (SELECT a.doc_id AS da, b.doc_id AS db, count(*) AS shared
                   FROM sl a JOIN buck USING (slice_md5) JOIN sl b USING (slice_md5)
                   WHERE a.doc_id < b.doc_id GROUP BY 1, 2),
         sided AS (SELECT pairs.da, pairs.db, shared,
                          x.n_slices AS na, y.n_slices AS nb
                   FROM pairs JOIN nd x ON pairs.da = x.doc_id JOIN nd y ON pairs.db = y.doc_id),
         dir AS (SELECT da AS inner_doc, db AS outer_doc, shared, na AS n_inner, nb AS n_outer
                 FROM sided WHERE 1000 * shared >= 800 * na
                 UNION ALL
                 SELECT db, da, shared, nb, na FROM sided WHERE 1000 * shared >= 800 * nb)
         SELECT inner_doc, outer_doc, shared, n_inner, n_outer,
                CAST((2000 * shared + n_inner) // (2 * n_inner) AS BIGINT) AS containment_permille
         FROM dir ORDER BY inner_doc, outer_doc"""),
    QueryDef("q_slice_dedup_ratio", (s, dir) =>
      Multimodal.sliceDedupRatio(Multimodal.mediaTable(Tables.documents(s, dir))),
      """WITH s AS (SELECT doc_id,
                unnest(generate_series(0, (length(text) - 1) // 128)) AS slice_id, text
              FROM documents WHERE length(text) > 0),
         sl AS (SELECT octet_length(encode(substring(text, CAST(slice_id * 128 + 1 AS INTEGER), 64))) AS nb,
                md5(lower(hex(encode(substring(text, CAST(slice_id * 128 + 1 AS INTEGER), 64))))) AS h
              FROM s),
         per AS (SELECT h, count(*) AS copies, max(nb) AS nb FROM sl GROUP BY h)
         SELECT CAST(sum(copies) AS BIGINT) AS total_slices,
                count(*) AS distinct_slices,
                CAST(sum(copies * nb) AS BIGINT) AS total_bytes,
                CAST(sum(nb) AS BIGINT) AS distinct_bytes,
                CAST((2000 * (CAST(sum(copies * nb) AS BIGINT) - CAST(sum(nb) AS BIGINT))
                      + CAST(sum(copies * nb) AS BIGINT))
                     // (2 * CAST(sum(copies * nb) AS BIGINT)) AS BIGINT) AS savings_permille
         FROM per"""),
    QueryDef("q_slice_screen", (s, dir) =>
      Multimodal.sliceScreen(Tables.documents(s, dir)),
      s"""WITH s AS (SELECT doc_id,
                unnest(generate_series(0, (length(text) - 1) // 128)) AS slice_id, text
              FROM documents WHERE length(text) > 0),
         sl AS (SELECT DISTINCT doc_id,
                md5(lower(hex(encode(substring(text, CAST(slice_id * 128 + 1 AS INTEGER), 64))))) AS slice_md5
              FROM s),
         split AS (SELECT doc_id,
                   ${Stages.duckMd5BitsSql("CAST(doc_id AS VARCHAR)", "1", 8)} % 5 = 0 AS is_new
                   FROM documents),
         hits AS (SELECT b.doc_id AS new_doc, c.doc_id AS best_match, count(*) AS shared
                  FROM sl b JOIN split sb ON b.doc_id = sb.doc_id AND sb.is_new
                  JOIN sl c ON b.slice_md5 = c.slice_md5
                  JOIN split sc ON c.doc_id = sc.doc_id AND NOT sc.is_new
                  GROUP BY 1, 2 HAVING count(*) >= 2),
         best AS (SELECT new_doc, best_match, shared,
                         row_number() OVER (PARTITION BY new_doc ORDER BY shared DESC, best_match ASC) AS rk
                  FROM hits)
         SELECT d.doc_id AS new_doc, best.best_match,
                COALESCE(best.shared, 0) AS shared,
                best.best_match IS NOT NULL AS is_dup
         FROM documents d JOIN split ON d.doc_id = split.doc_id AND split.is_new
         LEFT JOIN best ON d.doc_id = best.new_doc AND best.rk = 1
         ORDER BY new_doc"""),
    // ---- data-quality audits & distribution reports ----
    QueryDef("q_rule_violations", (s, dir) =>
      Relational.ruleViolations(Tables.events(s, dir)).orderBy("rule"),
      raw"""WITH a AS (SELECT count(*) AS n_rows,
                CAST(sum(CASE WHEN event_id % 7 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS r_null,
                CAST(sum(CASE WHEN value < 0.05 OR value > 400.0 THEN 1 ELSE 0 END) AS BIGINT) AS r_range,
                CAST(sum(CASE WHEN event_type NOT IN ('click','view','purchase','signup') THEN 1 ELSE 0 END) AS BIGINT) AS r_type,
                CAST(sum(CASE WHEN ${Stages.duckEpochBucketSql("ts", 1)} < 1704153600 THEN 1 ELSE 0 END) AS BIGINT) AS r_stale,
                CAST(sum(CASE WHEN NOT regexp_matches(props, '^\{"k": [0-9]+\}$$') THEN 1 ELSE 0 END) AS BIGINT) AS r_props
         FROM events)
         SELECT rule, n_violations, n_rows,
                CAST(n_violations AS DOUBLE) / CAST(n_rows AS DOUBLE) AS violation_rate
         FROM (SELECT 'null_value' AS rule, r_null AS n_violations, n_rows FROM a
               UNION ALL SELECT 'out_of_range', r_range, n_rows FROM a
               UNION ALL SELECT 'unknown_type', r_type, n_rows FROM a
               UNION ALL SELECT 'stale_ts', r_stale, n_rows FROM a
               UNION ALL SELECT 'malformed_props', r_props, n_rows FROM a)
         ORDER BY rule"""),
    QueryDef("q_late_events", (s, dir) =>
      Analytics.latenessAudit(Tables.events(s, dir)).orderBy("event_type"),
      s"""WITH ev AS (SELECT event_type,
                            ${Stages.duckEpochBucketSql("ts", 1)}
                              - CASE WHEN event_id % 13 = 0 THEN 21600
                                     WHEN event_id % 97 = 0 THEN 86400
                                     ELSE 0 END AS ts_sec,
                            event_id // 250 AS batch
                     FROM events),
         wm AS (SELECT batch,
                       max(max_ts) OVER (ORDER BY batch
                         ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS watermark
                FROM (SELECT batch, max(ts_sec) AS max_ts FROM ev GROUP BY batch)),
         l AS (SELECT ev.event_type, greatest(wm.watermark - ev.ts_sec, 0) AS late_sec
               FROM ev JOIN wm USING (batch))
         SELECT event_type, count(*) AS n_events,
                CAST(sum(CASE WHEN late_sec > 3600 THEN 1 ELSE 0 END) AS BIGINT) AS n_late,
                CAST(sum(CASE WHEN late_sec > 7200 THEN 1 ELSE 0 END) AS BIGINT) AS n_dropped,
                max(late_sec) AS max_late_sec,
                CAST(sum(late_sec) AS BIGINT) AS late_sec_sum
         FROM l GROUP BY event_type ORDER BY event_type"""),
    QueryDef("q_iqr_outliers", (s, dir) =>
      Analytics.iqrOutliers(Tables.events(s, dir)).orderBy("event_type"),
      s"""WITH base AS (SELECT event_type, ${Stages.centsSql("value")} AS cents FROM events),
         f AS (SELECT event_type,
                      quantile_cont(cents, 0.25) AS q1, quantile_cont(cents, 0.75) AS q3
               FROM base GROUP BY event_type),
         f2 AS (SELECT event_type, q1, q3,
                       q1 - (q3 - q1) * 1.5 AS lo, q3 + (q3 - q1) * 1.5 AS hi
                FROM f)
         SELECT b.event_type, count(*) AS n_events,
                CAST(sum(CASE WHEN b.cents < f2.lo OR b.cents > f2.hi THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers,
                CAST(sum(CASE WHEN b.cents < f2.lo OR b.cents > f2.hi THEN b.cents ELSE 0 END) AS BIGINT) AS outlier_cents,
                max(f2.q1) AS q1, max(f2.q3) AS q3
         FROM base b JOIN f2 USING (event_type)
         GROUP BY b.event_type ORDER BY b.event_type"""),
    QueryDef("q_decile_stats", (s, dir) =>
      Analytics.decileStats(Tables.orders(s, dir)).orderBy("decile"),
      s"""WITH c AS (SELECT ${Stages.centsSql("o_totalprice")} AS cents, o_orderkey FROM orders),
         r AS (SELECT cents,
                      CAST(row_number() OVER (ORDER BY cents, o_orderkey) AS BIGINT) AS rank
               FROM c),
         n AS (SELECT count(*) AS n FROM c)
         SELECT (rank - 1) * 10 // n + 1 AS decile, count(*) AS n_orders,
                min(cents) AS lo_cents, max(cents) AS hi_cents,
                CAST(sum(cents) AS BIGINT) AS decile_cents
         FROM r, n GROUP BY 1 ORDER BY 1"""),
    QueryDef("q_lorenz", (s, dir) =>
      Analytics.lorenzCurve(Tables.events(s, dir)).orderBy("decile"),
      s"""WITH pu AS (SELECT user_id, CAST(sum(${Stages.centsSql("value")}) AS BIGINT) AS x
                      FROM events GROUP BY user_id),
         r AS (SELECT x, CAST(row_number() OVER (ORDER BY x, user_id) AS BIGINT) AS rank FROM pu),
         n AS (SELECT count(*) AS n FROM pu),
         b AS (SELECT (rank - 1) * 10 // n + 1 AS decile, count(*) AS n_users,
                      CAST(sum(x) AS BIGINT) AS decile_cents
               FROM r, n GROUP BY 1),
         t AS (SELECT CAST(sum(decile_cents) AS BIGINT) AS total_cents FROM b)
         SELECT decile, n_users, decile_cents,
                CAST(sum(decile_cents) OVER (ORDER BY decile
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE)
                  / CAST(total_cents AS DOUBLE) AS cum_share
         FROM b, t ORDER BY decile"""),
    QueryDef("q_simpson", (s, dir) =>
      TextAnalysis.simpsonDiversity(Tables.documents(s, dir)).orderBy("source"),
      """WITH t AS (SELECT source, unnest(string_split_regex(trim(text), '\s+')) AS tok
                    FROM documents),
         g AS (SELECT source, tok, count(*) AS cnt FROM t GROUP BY 1, 2),
         s AS (SELECT source, count(*) AS n_types, CAST(sum(cnt) AS BIGINT) AS n_tokens,
                      CAST(sum(cnt * (cnt - 1)) AS BIGINT) AS snn1
               FROM g GROUP BY source)
         SELECT source, n_types, n_tokens,
                CASE WHEN n_tokens < 2 THEN NULL
                     ELSE 1 - CAST(snn1 AS DOUBLE)
                              / (CAST(n_tokens AS DOUBLE) * CAST(n_tokens - 1 AS DOUBLE)) END
                  AS simpson
         FROM s ORDER BY source"""),
    QueryDef("q_readability", (s, dir) =>
      TextAnalysis.readability(Tables.documents(s, dir)).orderBy("doc_id"),
      """SELECT doc_id,
                CAST(len(string_split_regex(trim(text), '\s+')) AS BIGINT) AS n_words,
                CAST(len(list_filter(string_split_regex(trim(text), '\s+'),
                                     t -> len(t) >= 6)) AS BIGINT) AS n_long_words,
                CAST(len(regexp_extract_all(text, '[aeiouy]+')) AS BIGINT) AS n_syllables,
                (n_words + 11) // 12 AS n_sentences,
                206.835
                  - 1.015 * (CAST(n_words AS DOUBLE) / CAST(n_sentences AS DOUBLE))
                  - 84.6 * (CAST(n_syllables AS DOUBLE) / CAST(n_words AS DOUBLE)) AS flesch
         FROM documents ORDER BY doc_id"""),
    QueryDef("q_cross_corr", (s, dir) =>
      Analytics.crossCorr(Tables.events(s, dir)).orderBy("lag"),
      {
      val stats = Stages.momentStatsSql
        .filter { case (name, _) => name == "corr_xy" }
        .map { case (name, sql) => s"$sql AS $name" }
        .mkString
      s"""WITH h AS (SELECT ${Stages.duckEpochBucketSql("ts", 3600)} AS hour,
                      CAST(sum(${Stages.centsSql("value")}) AS BIGINT) AS cents,
                      count(*) AS cnt
               FROM events GROUP BY 1),
         l AS (SELECT unnest(generate_series(0, 3)) AS lag),
         p AS (SELECT l.lag AS lag, a.cnt AS x, b.cents AS y
               FROM h a CROSS JOIN l JOIN h b ON b.hour = a.hour + l.lag),
         m AS (SELECT lag, count(*) AS n, CAST(sum(x) AS BIGINT) AS sx,
                      CAST(sum(y) AS BIGINT) AS sy, CAST(sum(CAST(x AS HUGEINT) * y) AS HUGEINT) AS sxy,
                      CAST(sum(CAST(x AS HUGEINT) * x) AS HUGEINT) AS sxx, CAST(sum(CAST(y AS HUGEINT) * y) AS HUGEINT) AS syy
               FROM p GROUP BY lag)
         SELECT lag, n AS n_pairs, $stats
         FROM m ORDER BY lag"""
    }),
    QueryDef("q_bfs_reach", (s, dir) =>
      Graph.bfsReach(Tables.lineitem(s, dir)).orderBy("node"),
      """WITH RECURSIVE
         op AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem),
         e AS (SELECT a.pk AS pa, b.pk AS pb FROM op a JOIN op b ON a.ok = b.ok AND a.pk < b.pk
               GROUP BY 1, 2 HAVING count(*) >= 2),
         ed AS (SELECT pa AS src, pb AS dst FROM e UNION ALL SELECT pb, pa FROM e),
         deg AS (SELECT src AS node, count(*) AS d FROM ed GROUP BY 1),
         seed AS (SELECT node FROM deg ORDER BY d DESC, node ASC LIMIT 1),
         r AS (SELECT node, CAST(0 AS BIGINT) AS hop FROM seed
               UNION
               SELECT ed.dst, r.hop + 1 FROM r JOIN ed ON ed.src = r.node WHERE r.hop < 3)
         SELECT node, CAST(min(hop) AS BIGINT) AS hop FROM r GROUP BY node ORDER BY node"""),
    QueryDef("q_kmeans_assign", (s, dir) =>
      Similarity.kmeansAssign(Tables.embeddings(s, dir)).orderBy("cluster", "label"),
      """WITH n AS (SELECT vec_id, label, embedding::DOUBLE[] AS e,
                           sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])) AS norm
                    FROM embeddings),
         s AS (SELECT vec_id AS seed_id, e AS se, norm AS snorm FROM n WHERE vec_id < 4),
         p AS (SELECT n.vec_id, n.label, s.seed_id,
                      round(list_dot_product(s.se, n.e) / (s.snorm * n.norm), 3) AS cos_sim
               FROM n CROSS JOIN s),
         a AS (SELECT *, row_number() OVER (PARTITION BY vec_id
                 ORDER BY cos_sim DESC, seed_id ASC) AS rn FROM p)
         SELECT seed_id AS cluster, label, count(*) AS n_vecs,
                CAST(sum(CAST(round(cos_sim * 1000) AS BIGINT)) AS BIGINT) AS sim_milli_sum
         FROM a WHERE rn = 1 GROUP BY 1, 2 ORDER BY cluster, label"""),
    QueryDef("q_bollinger", (s, dir) =>
      Analytics.bollingerBands(Tables.events(s, dir)).orderBy("hour"),
      s"""WITH h AS (SELECT ${Stages.duckEpochBucketSql("ts", 3600)} AS hour,
                      CAST(sum(${Stages.centsSql("value")}) AS BIGINT) AS cents
               FROM events GROUP BY 1),
         w AS (SELECT hour, cents,
                      count(*) OVER fr AS n_win,
                      CAST(sum(cents) OVER fr AS BIGINT) AS s_win,
                      CAST(sum(CAST(cents AS HUGEINT) * cents) OVER fr AS HUGEINT) AS ss_win
               FROM h WINDOW fr AS (ORDER BY hour ROWS BETWEEN 23 PRECEDING AND CURRENT ROW))
         SELECT hour, cents, n_win,
                CAST(s_win AS DOUBLE) / CAST(n_win AS DOUBLE) AS ma,
                sqrt(CAST(ss_win AS DOUBLE) / CAST(n_win AS DOUBLE)
                  - (CAST(s_win AS DOUBLE) / CAST(n_win AS DOUBLE))
                    * (CAST(s_win AS DOUBLE) / CAST(n_win AS DOUBLE))) AS sd,
                CAST(CASE WHEN CAST(cents AS DOUBLE) >
                       CAST(s_win AS DOUBLE) / CAST(n_win AS DOUBLE)
                       + 2 * sqrt(CAST(ss_win AS DOUBLE) / CAST(n_win AS DOUBLE)
                         - (CAST(s_win AS DOUBLE) / CAST(n_win AS DOUBLE))
                           * (CAST(s_win AS DOUBLE) / CAST(n_win AS DOUBLE))) THEN 1
                     WHEN CAST(cents AS DOUBLE) <
                       CAST(s_win AS DOUBLE) / CAST(n_win AS DOUBLE)
                       - 2 * sqrt(CAST(ss_win AS DOUBLE) / CAST(n_win AS DOUBLE)
                         - (CAST(s_win AS DOUBLE) / CAST(n_win AS DOUBLE))
                           * (CAST(s_win AS DOUBLE) / CAST(n_win AS DOUBLE))) THEN -1
                     ELSE 0 END AS BIGINT) AS signal
         FROM w ORDER BY hour"""),
    QueryDef("q_ewma", (s, dir) =>
      Analytics.ewmaSeries(Tables.events(s, dir)).orderBy("hour"),
      s"""WITH h AS (SELECT ${Stages.duckEpochBucketSql("ts", 3600)} AS hour,
                      count(*) AS cnt
               FROM events GROUP BY 1),
         l AS (SELECT hour, cnt,
                      lag(cnt, 1) OVER o AS l1, lag(cnt, 2) OVER o AS l2,
                      lag(cnt, 3) OVER o AS l3, lag(cnt, 4) OVER o AS l4,
                      lag(cnt, 5) OVER o AS l5
               FROM h WINDOW o AS (ORDER BY hour))
         SELECT hour, cnt,
                (CAST(cnt AS DOUBLE)
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
                + CASE WHEN l5 IS NULL THEN 0.0 ELSE 0.03125 END) AS ewma
         FROM l ORDER BY hour"""),
    QueryDef("q_event_dedup", (s, dir) =>
      Relational.eventDedup(Tables.events(s, dir)).orderBy("event_type"),
      s"""WITH c AS (SELECT user_id, event_type,
                           ${Stages.duckEpochBucketSql("ts", 3600)} AS hour,
                           count(*) AS n_in_cell
                    FROM events GROUP BY 1, 2, 3)
         SELECT event_type, CAST(sum(n_in_cell) AS BIGINT) AS n_raw,
                count(*) AS n_kept,
                CAST(sum(n_in_cell) - count(*) AS BIGINT) AS n_dropped
         FROM c GROUP BY event_type ORDER BY event_type"""),
    QueryDef("q_seasonal_anomaly", (s, dir) =>
      Analytics.seasonalAnomaly(Tables.events(s, dir)).orderBy("hour_epoch"),
      s"""WITH h AS (SELECT ${Stages.duckEpochBucketSql("ts", 3600)} AS hour_epoch,
                      count(*) AS cnt
               FROM events GROUP BY 1),
         d AS (SELECT hour_epoch, cnt,
                      (hour_epoch // 24 + 4) % 7 AS dow, hour_epoch % 24 AS hod
               FROM h),
         p AS (SELECT dow, hod, count(*) AS cell_n, CAST(sum(cnt) AS BIGINT) AS cell_sum
               FROM d GROUP BY 1, 2)
         SELECT hour_epoch, dow, hod, cnt, cell_n, cell_sum,
                CAST(cnt AS DOUBLE) * CAST(cell_n AS DOUBLE) / CAST(cell_sum AS DOUBLE) AS ratio
         FROM d JOIN p USING (dow, hod)
         WHERE CAST(cnt AS DOUBLE) * CAST(cell_n AS DOUBLE) / CAST(cell_sum AS DOUBLE) >= 1.5
         ORDER BY hour_epoch"""),
    QueryDef("q_calibration", (s, dir) =>
      Analytics.calibrationCurve(Tables.events(s, dir)).orderBy("bin"),
      """WITH s AS (SELECT (event_id % 1000003) * 2654435761 % 1000 AS score_milli,
                           CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS pos
                    FROM events)
         SELECT score_milli // 100 AS bin, count(*) AS n,
                CAST(sum(pos) AS BIGINT) AS n_pos,
                CAST(sum(pos) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS pos_rate,
                CAST(sum(score_milli) AS DOUBLE) / (CAST(count(*) AS DOUBLE) * 1000.0) AS avg_score
         FROM s GROUP BY 1 ORDER BY bin"""),
    QueryDef("q_auc", (s, dir) =>
      Analytics.aucRankSum(Tables.events(s, dir)).orderBy("n_pos"),
      """WITH s AS (SELECT (event_id % 1000003) * 2654435761 % 1000 AS s,
                           CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS pos
                    FROM events),
         b AS (SELECT s, CAST(sum(pos) AS BIGINT) AS pos_n,
                      CAST(sum(1 - pos) AS BIGINT) AS neg_n
               FROM s GROUP BY s),
         w AS (SELECT pos_n, neg_n,
                      coalesce(CAST(sum(neg_n) OVER (ORDER BY s
                        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS BIGINT), 0)
                        AS neg_below
               FROM b)
         SELECT CAST(sum(pos_n) AS BIGINT) AS n_pos, CAST(sum(neg_n) AS BIGINT) AS n_neg,
                CAST(sum(pos_n * (2 * neg_below + neg_n)) AS BIGINT) AS u2,
                CAST(sum(pos_n * (2 * neg_below + neg_n)) AS DOUBLE)
                  / nullif(2.0 * CAST(sum(pos_n) AS DOUBLE) * CAST(sum(neg_n) AS DOUBLE), 0.0E0) AS auc
         FROM w"""),
    QueryDef("q_sax", (s, dir) =>
      Analytics.saxSymbols(Tables.events(s, dir)).orderBy("hour"),
      s"""WITH h AS (SELECT ${Stages.duckEpochBucketSql("ts", 3600)} AS hour,
                      count(*) AS cnt
               FROM events GROUP BY 1),
         st AS (SELECT count(*) AS n, CAST(sum(cnt) AS BIGINT) AS s,
                       CAST(sum(cnt * cnt) AS BIGINT) AS ss
                FROM h),
         z AS (SELECT hour, cnt,
                      (CAST(cnt AS DOUBLE) - CAST(s AS DOUBLE) / CAST(n AS DOUBLE))
                      / nullif(sqrt(CAST(ss AS DOUBLE) / CAST(n AS DOUBLE)
                        - (CAST(s AS DOUBLE) / CAST(n AS DOUBLE))
                          * (CAST(s AS DOUBLE) / CAST(n AS DOUBLE))), 0.0E0) AS z
               FROM h CROSS JOIN st)
         SELECT hour, cnt, z,
                CASE WHEN z < -0.6745 THEN 'a' WHEN z < 0.0 THEN 'b'
                     WHEN z < 0.6745 THEN 'c' ELSE 'd' END AS symbol
         FROM z ORDER BY hour"""),
    QueryDef("q_gap_interp", (s, dir) =>
      Analytics.gapInterpolate(Tables.events(s, dir)).orderBy("hour"),
      s"""WITH h AS (SELECT ${Stages.duckEpochBucketSql("ts", 3600)} AS hour,
                      count(*) AS cnt
               FROM events GROUP BY 1),
         sp AS (SELECT unnest(generate_series(min(hour), max(hour))) AS hour FROM h),
         j AS (SELECT sp.hour AS hour, h.cnt AS cnt FROM sp LEFT JOIN h USING (hour)),
         w AS (SELECT hour, cnt,
                      last_value(cnt IGNORE NULLS) OVER
                        (ORDER BY hour ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                        AS prev_val,
                      last_value(CASE WHEN cnt IS NOT NULL THEN hour END IGNORE NULLS) OVER
                        (ORDER BY hour ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                        AS prev_hour,
                      first_value(cnt IGNORE NULLS) OVER
                        (ORDER BY hour ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
                        AS next_val,
                      first_value(CASE WHEN cnt IS NOT NULL THEN hour END IGNORE NULLS) OVER
                        (ORDER BY hour ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
                        AS next_hour
               FROM j)
         SELECT hour, cnt,
                CASE
                  WHEN cnt IS NOT NULL THEN CAST(cnt AS DOUBLE)
                  WHEN prev_val IS NOT NULL AND next_val IS NOT NULL THEN
                    CAST(prev_val AS DOUBLE)
                    + CAST(next_val - prev_val AS DOUBLE)
                      * (CAST(hour - prev_hour AS DOUBLE)
                         / CAST(next_hour - prev_hour AS DOUBLE))
                  WHEN prev_val IS NOT NULL THEN CAST(prev_val AS DOUBLE)
                  ELSE CAST(next_val AS DOUBLE)
                END AS filled,
                CAST(cnt IS NULL AS BIGINT) AS was_gap
         FROM w ORDER BY hour"""),
    QueryDef("q_keyword_lift", (s, dir) =>
      TextAnalysis.keywordLift(Tables.documents(s, dir)).orderBy("source", "rank"),
      """WITH t AS (SELECT source, unnest(string_split_regex(trim(text), '\s+')) AS tok
                    FROM documents),
         pst AS (SELECT source, tok, count(*) AS cnt FROM t GROUP BY 1, 2),
         pt AS (SELECT tok, CAST(sum(cnt) AS BIGINT) AS tc FROM pst GROUP BY tok
                HAVING CAST(sum(cnt) AS BIGINT) >= 5),
         ps AS (SELECT source, CAST(sum(cnt) AS BIGINT) AS sn FROM pst GROUP BY source),
         tot AS (SELECT CAST(sum(sn) AS BIGINT) AS nn FROM ps),
         lf AS (SELECT pst.source, pst.tok, pst.cnt,
                       CAST(cnt AS DOUBLE) * CAST(nn AS DOUBLE)
                         / (CAST(sn AS DOUBLE) * CAST(tc AS DOUBLE)) AS lift
                FROM pst JOIN pt USING (tok) JOIN ps USING (source) CROSS JOIN tot),
         r AS (SELECT *, CAST(row_number() OVER (PARTITION BY source
                 ORDER BY lift DESC, tok ASC) AS BIGINT) AS rank FROM lf)
         SELECT source, rank, tok, cnt, lift FROM r WHERE rank <= 5
         ORDER BY source, rank"""),
    QueryDef("q_dict_coverage", (s, dir) =>
      TextAnalysis.dictCoverage(Tables.documents(s, dir)).orderBy("source"),
      """WITH t AS (SELECT source, unnest(string_split_regex(trim(text), '\s+')) AS tok
                    FROM documents),
         pst AS (SELECT source, tok, count(*) AS cnt FROM t GROUP BY 1, 2),
         d AS (SELECT tok FROM (SELECT tok, CAST(sum(cnt) AS BIGINT) AS tc
                                FROM pst GROUP BY tok)
               ORDER BY tc DESC, tok ASC LIMIT 10)
         SELECT source, CAST(sum(cnt) AS BIGINT) AS n_tokens,
                CAST(sum(CASE WHEN d.tok IS NOT NULL THEN cnt ELSE 0 END) AS BIGINT)
                  AS n_covered,
                CAST(sum(CASE WHEN d.tok IS NOT NULL THEN cnt ELSE 0 END) AS DOUBLE)
                  / CAST(sum(cnt) AS DOUBLE) AS coverage
         FROM pst LEFT JOIN d ON pst.tok = d.tok
         GROUP BY source ORDER BY source"""),
    QueryDef("q_url_extract", (s, dir) =>
      TextAnalysis.urlExtract(Tables.documents(s, dir)).orderBy("doc_id"),
      """WITH u AS (SELECT doc_id,
                           'https://' || source || '.example.com/' || lang || '/doc-'
                             || CAST(doc_id AS VARCHAR) || '?len='
                             || CAST(n_chars AS VARCHAR) AS url
                    FROM documents)
         SELECT doc_id, url,
                regexp_extract(url, '^https://([^/]+)/', 1) AS host,
                regexp_extract(url, '^https://[^/]+/([^/]+)/', 1) AS path_lang,
                CAST(regexp_extract(url, 'len=([0-9]+)', 1) AS BIGINT) AS len_param
         FROM u ORDER BY doc_id"""),
    QueryDef("q_rolling_median", (s, dir) =>
      Analytics.rollingMedian(Tables.events(s, dir)).orderBy("hour"),
      s"""WITH h AS (SELECT ${Stages.duckEpochBucketSql("ts", 3600)} AS hour,
                      count(*) AS cnt
               FROM events GROUP BY 1)
         SELECT hour, cnt,
                quantile_cont(cnt, 0.5) OVER fr AS med,
                quantile_cont(cnt, 0.9) OVER fr AS p90
         FROM h WINDOW fr AS (ORDER BY hour ROWS BETWEEN 23 PRECEDING AND CURRENT ROW)
         ORDER BY hour"""),
    QueryDef("q_log_histogram", (s, dir) =>
      Analytics.logHistogram(Tables.lineitem(s, dir)).orderBy("bin"),
      s"""WITH c AS (SELECT ${Stages.centsSql("l_extendedprice")} AS cents FROM lineitem)
         SELECT CAST(length(bin(cents)) - 1 AS BIGINT) AS bin, count(*) AS n,
                min(cents) AS min_cents, max(cents) AS max_cents,
                CAST(sum(cents) AS BIGINT) AS sum_cents
         FROM c GROUP BY 1 ORDER BY bin"""),
    QueryDef("q_velocity", (s, dir) =>
      Analytics.velocityScreen(Tables.events(s, dir)).orderBy("user_id"),
      s"""WITH e AS (SELECT user_id,
                           ${Stages.duckEpochBucketSql("ts", 1)} AS ts_sec
                    FROM events),
         w AS (SELECT user_id,
                      count(*) OVER (PARTITION BY user_id ORDER BY ts_sec
                        RANGE BETWEEN 86399 PRECEDING AND CURRENT ROW) AS burst
               FROM e)
         SELECT user_id, count(*) AS n_events, CAST(max(burst) AS BIGINT) AS max_burst,
                CAST(max(burst) >= 8 AS BIGINT) AS flagged
         FROM w GROUP BY user_id ORDER BY user_id"""),
    QueryDef("q_segment_shift", (s, dir) =>
      Analytics.segmentShift(Tables.events(s, dir)).orderBy("q_from", "q_to"),
      s"""WITH wk AS (SELECT user_id,
                      ${Stages.duckEpochBucketSql("ts", 604800)} AS week,
                      CAST(sum(${Stages.centsSql("value")}) AS BIGINT) AS cents
               FROM events GROUP BY 1, 2),
         a AS (SELECT min(week) AS w0 FROM wk),
         r AS (SELECT user_id, week - w0 AS rel_week, cents FROM wk CROSS JOIN a
               WHERE week - w0 IN (0, 3)),
         q AS (SELECT user_id, rel_week,
                      CAST(ntile(4) OVER (PARTITION BY rel_week
                        ORDER BY cents ASC, user_id ASC) AS BIGINT) AS quartile
               FROM r)
         SELECT f.quartile AS q_from, t.quartile AS q_to, count(*) AS n_users
         FROM (SELECT user_id, quartile FROM q WHERE rel_week = 0) f
         JOIN (SELECT user_id, quartile FROM q WHERE rel_week = 3) t USING (user_id)
         GROUP BY 1, 2 ORDER BY q_from, q_to"""),
    QueryDef("q_interarrival", (s, dir) =>
      Analytics.interArrival(Tables.events(s, dir)).orderBy("event_type"),
      s"""WITH e AS (SELECT user_id, event_type, event_id,
                           ${Stages.duckEpochBucketSql("ts", 1)} AS ts_sec
                    FROM events),
         g AS (SELECT event_type,
                      ts_sec - lag(ts_sec, 1) OVER (PARTITION BY user_id, event_type
                        ORDER BY ts_sec ASC, event_id ASC) AS gap
               FROM e)
         SELECT event_type, count(*) AS n_gaps, min(gap) AS min_gap,
                quantile_cont(gap, 0.5) AS p50_gap, quantile_cont(gap, 0.9) AS p90_gap,
                max(gap) AS max_gap
         FROM g WHERE gap IS NOT NULL GROUP BY event_type ORDER BY event_type"""),
    QueryDef("q_mrr", (s, dir) =>
      Similarity.mrrEval(Tables.embeddings(s, dir)).orderBy("n_queries"),
      s"""WITH tk AS (${duckCosineTopKSql(10, 5)}),
         lab AS (SELECT vec_id, label FROM embeddings),
         j AS (SELECT tk.qid, tk.rank, ql.label AS q_label, nl.label AS n_label
               FROM tk JOIN lab ql ON ql.vec_id = tk.qid
                       JOIN lab nl ON nl.vec_id = tk.nid),
         f AS (SELECT qid, CAST(min(rank) AS BIGINT) AS first_rank
               FROM j WHERE q_label = n_label GROUP BY qid)
         SELECT CAST(10 AS BIGINT) AS n_queries, count(*) AS n_matched,
                CAST(sum(60 // first_rank) AS BIGINT) AS rr60_sum,
                CAST(sum(60 // first_rank) AS DOUBLE) / (60.0 * 10) AS mrr
         FROM f"""),
    QueryDef("q_audience_overlap", (s, dir) =>
      Relational.audienceOverlap(Tables.events(s, dir)).orderBy("type_a", "type_b"),
      """WITH tu AS (SELECT DISTINCT event_type, user_id FROM events),
         sz AS (SELECT event_type, count(*) AS n FROM tu GROUP BY 1),
         iv AS (SELECT a.event_type AS type_a, b.event_type AS type_b,
                       count(*) AS n_common
                FROM tu a JOIN tu b
                  ON a.user_id = b.user_id AND a.event_type < b.event_type
                GROUP BY 1, 2)
         SELECT type_a, type_b, sa.n AS n_a, sb.n AS n_b, n_common,
                CAST(n_common AS DOUBLE) / CAST(sa.n + sb.n - n_common AS DOUBLE)
                  AS jaccard
         FROM iv JOIN sz sa ON sa.event_type = iv.type_a
                 JOIN sz sb ON sb.event_type = iv.type_b
         ORDER BY type_a, type_b"""),
    QueryDef("q_user_features", (s, dir) =>
      Relational.userFeatures(Tables.events(s, dir)).orderBy("user_id"),
      s"""SELECT user_id, count(*) AS n_events,
                CAST(count(DISTINCT event_type) AS BIGINT) AS n_types,
                CAST(count(DISTINCT ${Stages.duckEpochBucketSql("ts", 86400)})
                  AS BIGINT) AS active_days,
                min(${Stages.duckEpochBucketSql("ts", 1)}) AS first_seen,
                max(${Stages.duckEpochBucketSql("ts", 1)}) AS last_seen,
                CAST(sum(${Stages.centsSql("value")}) AS BIGINT) AS spend_cents,
                CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT)
                  AS n_purchases,
                (max(${Stages.duckEpochBucketSql("ts", 1)})
                 - min(${Stages.duckEpochBucketSql("ts", 1)})) // 86400 AS tenure_days,
                CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS DOUBLE)
                  / CAST(count(*) AS DOUBLE) AS purchase_ratio
         FROM events GROUP BY user_id ORDER BY user_id"""),
    QueryDef("q_lsh_bucket_stats", (s, dir) =>
      Dedup.lshBucketStats(Tables.documents(s, dir)).orderBy("band"),
      s"""WITH g AS (SELECT doc_id, $duckShingles AS grams FROM documents),
         $duckMinhashSigCtes,
         bands AS (SELECT doc_id, sig, unnest(generate_series(0,7)) AS band FROM sig),
         keyed AS (SELECT doc_id, band, sig[band*4+1:band*4+4] AS bsig FROM bands),
         bk AS (SELECT band, bsig, count(*) AS s FROM keyed GROUP BY 1, 2)
         SELECT band, count(*) AS n_buckets,
                CAST(sum(CASE WHEN s = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_singletons,
                CAST(max(s) AS BIGINT) AS max_bucket,
                CAST(sum(s * (s - 1) // 2) AS BIGINT) AS cand_pairs
         FROM bk GROUP BY band ORDER BY band"""),
    QueryDef("q_stop_bucket_sweep", (s, dir) =>
      Dedup.stopBucketSweep(Tables.documents(s, dir)).orderBy("cap"),
      s"""WITH g AS (SELECT doc_id, $duckShingles AS grams FROM documents),
         $duckMinhashSigCtes,
         bands AS (SELECT doc_id, sig, unnest(generate_series(0,7)) AS band FROM sig),
         keyed AS (SELECT doc_id, band, sig[band*4+1:band*4+4] AS bsig FROM bands),
         bk AS (SELECT band, bsig, count(*) AS s FROM keyed GROUP BY 1, 2),
         tot AS (SELECT CAST(sum(s * (s - 1) // 2) AS BIGINT) AS pairs_total FROM bk),
         caps AS (SELECT unnest([${graft.text.Dedup.SweepCaps.mkString(", ")}]) AS cap),
         agg AS (SELECT cap,
                   CAST(sum(CASE WHEN s > cap THEN 1 ELSE 0 END) AS BIGINT) AS n_buckets_over,
                   CAST(sum(CASE WHEN s > cap THEN s * (s - 1) // 2 ELSE 0 END) AS BIGINT) AS pairs_dropped
                 FROM bk CROSS JOIN caps GROUP BY cap)
         SELECT CAST(cap AS BIGINT) AS cap, n_buckets_over, pairs_dropped, pairs_total,
                CASE WHEN pairs_total = 0 THEN NULL
                     ELSE CAST(pairs_dropped AS DOUBLE) / CAST(pairs_total AS DOUBLE) END AS drop_frac
         FROM agg CROSS JOIN tot ORDER BY cap"""),
    QueryDef("q_url_dedup", (s, dir) =>
      TextAnalysis.urlCanonicalDedup(Tables.documents(s, dir)).orderBy("canonical_url"),
      """WITH u AS (SELECT doc_id,
           (CASE WHEN doc_id % 2 = 0 THEN 'https://' ELSE 'https://WWW.' END) ||
           (CASE WHEN doc_id % 3 = 0 THEN 'DOCS.example.com' ELSE 'docs.example.com' END) ||
           '/corpus/page-' || CAST(doc_id // 2 AS VARCHAR) ||
           (CASE WHEN doc_id % 5 = 0 THEN '/' ELSE '' END) ||
           (CASE WHEN doc_id % 2 = 1 THEN '?utm_source=' || coalesce(source, '') ELSE '' END) ||
           (CASE WHEN doc_id % 7 = 0 THEN '#frag-' || coalesce(lang, '') ELSE '' END) AS url
         FROM documents),
         c AS (SELECT doc_id, url,
                 regexp_replace(regexp_replace(regexp_replace(lower(url),
                   '[?#].*$', ''), '^https://www\.', 'https://'), '/$', '') AS canonical_url
               FROM u)
         SELECT canonical_url, count(*) AS n_raw_urls,
                CAST(count(DISTINCT url) AS BIGINT) AS n_variants,
                min(doc_id) AS keeper_doc_id
         FROM c GROUP BY 1 ORDER BY canonical_url"""),
    QueryDef("q_simhash_chunk_stats", (s, dir) =>
      Dedup.simhashChunkStats(Tables.documents(s, dir)).orderBy("chunk"),
      s"""WITH $duckSimhashSigCtes,
         chunks AS (SELECT doc_id, s, unnest(generate_series(0,3)) AS c FROM sig),
         keyed AS (SELECT doc_id, c, (s >> (c*16)) & 65535 AS cv FROM chunks),
         bk AS (SELECT c, cv, count(*) AS cnt FROM keyed GROUP BY 1, 2)
         SELECT CAST(c AS BIGINT) AS chunk, count(*) AS n_buckets,
                CAST(sum(CASE WHEN cnt = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_singletons,
                CAST(max(cnt) AS BIGINT) AS max_bucket,
                CAST(sum(cnt * (cnt - 1) // 2) AS BIGINT) AS cand_pairs
         FROM bk GROUP BY c ORDER BY chunk"""),
    QueryDef("q_rollup_percentiles", (s, dir) =>
      Relational.rollupPercentiles(Tables.lineitem(s, dir))
        .orderBy(col("l_returnflag").asc_nulls_first, col("l_linestatus").asc_nulls_first),
      s"""SELECT l_returnflag, l_linestatus, count(*) AS n,
                quantile_cont(${Stages.centsSql("l_extendedprice")}, 0.5) AS p50_cents,
                quantile_cont(${Stages.centsSql("l_extendedprice")}, 0.95) AS p95_cents
         FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)
         ORDER BY l_returnflag NULLS FIRST, l_linestatus NULLS FIRST"""),
    QueryDef("q_rare_collapse", (s, dir) =>
      Relational.rareCollapse(Tables.events(s, dir)).orderBy("final_cat"),
      """WITH c AS (SELECT concat(event_type, '_', CAST(event_id % 13 AS VARCHAR)) AS cat,
                           count(*) AS cnt
                    FROM events GROUP BY 1),
         t AS (SELECT CAST(sum(cnt) AS BIGINT) AS total FROM c)
         SELECT CASE WHEN cnt * 100 < total THEN 'other' ELSE cat END AS final_cat,
                CAST(sum(cnt) AS BIGINT) AS n_events, count(*) AS n_src_cats
         FROM c CROSS JOIN t GROUP BY 1 ORDER BY final_cat"""),
    QueryDef("q_target_encoding", (s, dir) =>
      Relational.targetEncoding(Tables.events(s, dir)).orderBy("category"),
      s"""WITH s AS (SELECT concat(event_type, '_',
                      CAST(${Stages.duckEpochBucketSql("ts", 3600)} % 4 AS VARCHAR))
                      AS category,
                           CASE WHEN value > 100.0 THEN 1 ELSE 0 END AS pos
                    FROM events),
         pc AS (SELECT category, count(*) AS n, CAST(sum(pos) AS BIGINT) AS n_pos
                FROM s GROUP BY 1),
         pr AS (SELECT CAST(sum(n) AS BIGINT) AS tn, CAST(sum(n_pos) AS BIGINT) AS tp FROM pc)
         SELECT category, n, n_pos,
                CAST(tp AS DOUBLE) / CAST(tn AS DOUBLE) AS prior,
                (CAST(n_pos AS DOUBLE) + 10 * (CAST(tp AS DOUBLE) / CAST(tn AS DOUBLE)))
                  / CAST(n + 10 AS DOUBLE) AS te
         FROM pc CROSS JOIN pr ORDER BY category"""),
    QueryDef("q_norm_stats", (s, dir) =>
      Similarity.normStats(Tables.embeddings(s, dir)).orderBy("label"),
      """WITH n AS (SELECT label,
                           sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])) AS norm
                    FROM embeddings)
         SELECT label, count(*) AS n_vecs, min(norm) AS min_norm,
                quantile_cont(norm, 0.5) AS med_norm, max(norm) AS max_norm
         FROM n GROUP BY label ORDER BY label"""),
    QueryDef("q_skew_report", (s, dir) =>
      Relational.skewReport(Tables.lineitem(s, dir), Tables.orders(s, dir))
        .orderBy("key_col"),
      """WITH fa AS (SELECT l_orderkey AS k, count(*) AS f FROM lineitem GROUP BY 1),
         fb AS (SELECT o_custkey AS k, count(*) AS f FROM orders GROUP BY 1),
         pa AS (SELECT 'lineitem.l_orderkey' AS key_col, count(*) AS n_keys,
                       CAST(max(f) AS BIGINT) AS max_freq,
                       quantile_cont(f, 0.5) AS p50_freq, quantile_cont(f, 0.99) AS p99_freq
                FROM fa),
         pb AS (SELECT 'orders.o_custkey' AS key_col, count(*) AS n_keys,
                       CAST(max(f) AS BIGINT) AS max_freq,
                       quantile_cont(f, 0.5) AS p50_freq, quantile_cont(f, 0.99) AS p99_freq
                FROM fb)
         SELECT key_col, n_keys, max_freq, p50_freq, p99_freq,
                CAST(max_freq AS DOUBLE) / p50_freq AS skew
         FROM (SELECT * FROM pa UNION ALL SELECT * FROM pb)
         ORDER BY key_col"""),
    QueryDef("q_survivorship", (s, dir) =>
      Relational.survivorship(Tables.events(s, dir))
        .orderBy("user_id", "event_type", "day"),
      s"""WITH b AS (SELECT user_id, event_type,
                           ${Stages.duckEpochBucketSql("ts", 86400)} AS day,
                           event_id,
                           ${Stages.duckEpochBucketSql("ts", 1)} AS ts_sec,
                           ${Stages.centsSql("value")} AS cents
                    FROM events),
         w AS (SELECT user_id, event_type, day, event_id,
                      row_number() OVER cell_o AS rn,
                      count(*) OVER cell AS n_merged,
                      max(cents) OVER cell AS max_cents
               FROM b
               WINDOW cell AS (PARTITION BY user_id, event_type, day),
                      cell_o AS (PARTITION BY user_id, event_type, day
                                 ORDER BY ts_sec DESC, event_id ASC))
         SELECT user_id, event_type, day, event_id AS survivor_id,
                CAST(n_merged AS BIGINT) AS n_merged, max_cents
         FROM w WHERE rn = 1 ORDER BY user_id, event_type, day"""),
    QueryDef("q_table_checksum", (s, dir) =>
      Relational.tableChecksum(Tables.lineitem(s, dir)).orderBy("n_rows"),
      {
      val row = "concat_ws('|', CAST(l_orderkey AS VARCHAR), CAST(l_linenumber AS VARCHAR), l_returnflag, " +
        s"l_linestatus, CAST(${Stages.centsSql("l_extendedprice")} AS VARCHAR))"
      s"""WITH r AS (SELECT ${Stages.duckMd5BitsSql(row, "1", 4)} AS word
               FROM lineitem)
         SELECT count(*) AS n_rows, CAST(sum(word) AS BIGINT) AS word_sum,
                min(word) AS min_word, max(word) AS max_word
         FROM r"""
    }),
    QueryDef("q_partition_balance", (s, dir) =>
      Relational.partitionBalance(Tables.events(s, dir)).orderBy("bucket"),
      s"""WITH c AS (SELECT ${Stages.duckMd5BitsSql("CAST(user_id AS VARCHAR)", "1", 8)} % 32 AS bucket, count(*) AS n
                    FROM events GROUP BY 1),
         t AS (SELECT CAST(sum(n) AS BIGINT) AS total FROM c)
         SELECT bucket, n, CAST(n AS DOUBLE) * 32 / CAST(total AS DOUBLE) AS balance
         FROM c CROSS JOIN t ORDER BY bucket"""),
    QueryDef("q_multihot", (s, dir) =>
      Relational.multihotEncode(Tables.events(s, dir)).orderBy("mask"),
      """WITH b AS (SELECT user_id,
                           CASE event_type WHEN 'click' THEN 1 WHEN 'error' THEN 2
                             WHEN 'purchase' THEN 4 WHEN 'signup' THEN 8
                             WHEN 'view' THEN 16 ELSE 32 END AS bit
                    FROM events),
         m AS (SELECT user_id, CAST(sum(DISTINCT bit) AS BIGINT) AS mask FROM b GROUP BY 1)
         SELECT mask, CAST(bit_count(mask) AS BIGINT) AS n_types, count(*) AS n_users
         FROM m GROUP BY mask ORDER BY mask"""),
    QueryDef("q_srm", (s, dir) =>
      Relational.srmCheck(Tables.events(s, dir)).orderBy("n1"),
      """WITH v AS (SELECT DISTINCT user_id, user_id % 2 AS variant FROM events),
         c AS (SELECT CAST(sum(CASE WHEN variant = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n1,
                      CAST(sum(CASE WHEN variant = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n2
               FROM v)
         SELECT n1, n2,
                CAST((n1 - n2) * (n1 - n2) AS DOUBLE) / nullif(CAST(n1 + n2 AS DOUBLE), 0.0E0) AS chi2,
                CAST(CAST((n1 - n2) * (n1 - n2) AS DOUBLE) / CAST(n1 + n2 AS DOUBLE) > 3.84
                  AS BIGINT) AS flagged
         FROM c"""),
    QueryDef("q_quantile_transform", (s, dir) =>
      Relational.quantileTransform(Tables.orders(s, dir)).orderBy("o_orderkey"),
      s"""WITH c AS (SELECT ${Stages.centsSql("o_totalprice")} AS cents, o_orderkey FROM orders),
         r AS (SELECT o_orderkey, cents,
                      CAST(row_number() OVER (ORDER BY cents, o_orderkey) AS BIGINT) AS rank
               FROM c),
         n AS (SELECT count(*) AS n FROM c)
         SELECT o_orderkey, cents,
                CASE WHEN n = 1 THEN NULL ELSE CAST(rank - 1 AS DOUBLE) / CAST(n - 1 AS DOUBLE) END AS qt
         FROM r CROSS JOIN n ORDER BY o_orderkey"""),
    QueryDef("q_chi2_independence", (s, dir) =>
      TextAnalysis.chi2Independence(Tables.documents(s, dir)).orderBy("source", "lang"),
      """WITH cells AS (SELECT source, lang, count(*) AS obs FROM documents GROUP BY 1, 2),
         rt AS (SELECT source, CAST(sum(obs) AS BIGINT) AS rt FROM cells GROUP BY 1),
         ct AS (SELECT lang, CAST(sum(obs) AS BIGINT) AS ct FROM cells GROUP BY 1),
         t AS (SELECT CAST(sum(obs) AS BIGINT) AS n FROM cells)
         SELECT source, lang, obs,
                CAST(rt AS DOUBLE) * CAST(ct AS DOUBLE) / CAST(n AS DOUBLE) AS exp,
                (CAST(obs AS DOUBLE) - CAST(rt AS DOUBLE) * CAST(ct AS DOUBLE) / CAST(n AS DOUBLE))
                * (CAST(obs AS DOUBLE) - CAST(rt AS DOUBLE) * CAST(ct AS DOUBLE) / CAST(n AS DOUBLE))
                / nullif(CAST(rt AS DOUBLE) * CAST(ct AS DOUBLE) / CAST(n AS DOUBLE), 0.0E0) AS contrib
         FROM cells JOIN rt USING (source) JOIN ct USING (lang) CROSS JOIN t
         ORDER BY source, lang"""),
    QueryDef("q_ltv_curve", (s, dir) =>
      Analytics.ltvCurve(Tables.events(s, dir)).orderBy("cohort_week", "week_offset"),
      s"""WITH b AS (SELECT user_id, ${Stages.duckEpochBucketSql("ts", 86400)} AS day,
                      ${Stages.centsSql("value")} AS cents
               FROM events),
         f AS (SELECT user_id, min(day) AS day0 FROM b GROUP BY 1),
         cs AS (SELECT day0 // 7 AS cohort_week, count(*) AS n_users FROM f GROUP BY 1),
         sp AS (SELECT f.day0 // 7 AS cohort_week, (b.day - f.day0) // 7 AS week_offset,
                       CAST(sum(b.cents) AS BIGINT) AS week_cents
                FROM b JOIN f USING (user_id) GROUP BY 1, 2),
         cum AS (SELECT cohort_week, week_offset, week_cents,
                        CAST(sum(week_cents) OVER (PARTITION BY cohort_week ORDER BY week_offset
                          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_cents
                 FROM sp)
         SELECT cohort_week, week_offset, n_users, week_cents, cum_cents,
                CAST(cum_cents AS DOUBLE) / CAST(n_users AS DOUBLE) AS ltv_cents
         FROM cum JOIN cs USING (cohort_week)
         ORDER BY cohort_week, week_offset"""),
    QueryDef("q_ewma_anomaly", (s, dir) =>
      Analytics.ewmaAnomaly(Tables.events(s, dir)).orderBy("hour"),
      s"""WITH h AS (SELECT ${Stages.duckEpochBucketSql("ts", 3600)} AS hour,
                      count(*) AS cnt
               FROM events GROUP BY 1),
         l AS (SELECT hour, cnt,
                      lag(cnt, 1) OVER o AS l1, lag(cnt, 2) OVER o AS l2,
                      lag(cnt, 3) OVER o AS l3, lag(cnt, 4) OVER o AS l4,
                      lag(cnt, 5) OVER o AS l5
               FROM h WINDOW o AS (ORDER BY hour)),
         p AS (SELECT hour, cnt,
                      CASE WHEN l1 IS NULL THEN NULL ELSE
                      (CAST(l1 AS DOUBLE)
                      + CASE WHEN l2 IS NULL THEN 0.0 ELSE 0.5 * CAST(l2 AS DOUBLE) END
                      + CASE WHEN l3 IS NULL THEN 0.0 ELSE 0.25 * CAST(l3 AS DOUBLE) END
                      + CASE WHEN l4 IS NULL THEN 0.0 ELSE 0.125 * CAST(l4 AS DOUBLE) END
                      + CASE WHEN l5 IS NULL THEN 0.0 ELSE 0.0625 * CAST(l5 AS DOUBLE) END)
                      / (1.0
                      + CASE WHEN l2 IS NULL THEN 0.0 ELSE 0.5 END
                      + CASE WHEN l3 IS NULL THEN 0.0 ELSE 0.25 END
                      + CASE WHEN l4 IS NULL THEN 0.0 ELSE 0.125 END
                      + CASE WHEN l5 IS NULL THEN 0.0 ELSE 0.0625 END) END AS pred
               FROM l)
         SELECT hour, cnt, pred, CAST(cnt AS DOUBLE) / pred AS ratio,
                CAST(CASE WHEN pred IS NULL THEN 0
                          WHEN CAST(cnt AS DOUBLE) / pred >= 2.0
                            OR CAST(cnt AS DOUBLE) / pred <= 0.5 THEN 1
                          ELSE 0 END AS BIGINT) AS flag
         FROM p ORDER BY hour"""),
    QueryDef("q_centroids", (s, dir) =>
      Similarity.labelCentroids(Tables.embeddings(s, dir)).orderBy("label", "dim"),
      """WITH e AS (SELECT label, unnest(generate_series(1, 64)) AS dim, embedding
                    FROM embeddings),
         m AS (SELECT label, CAST(dim AS BIGINT) AS dim,
                      CAST(round(CAST(embedding[dim] AS DOUBLE) * 1000) AS BIGINT) AS milli
               FROM e)
         SELECT label, dim, count(*) AS n_vecs, CAST(sum(milli) AS BIGINT) AS milli_sum,
                CAST(sum(milli) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS centroid_milli
         FROM m GROUP BY 1, 2 ORDER BY label, dim"""),
    QueryDef("q_stickiness", (s, dir) =>
      Analytics.stickiness(Tables.events(s, dir)).orderBy("day"),
      s"""WITH a AS (SELECT DISTINCT user_id,
                           ${Stages.duckEpochBucketSql("ts", 86400)} AS day
                    FROM events),
         d AS (SELECT day, count(*) AS dau FROM a GROUP BY 1),
         w AS (SELECT d.day, count(DISTINCT a.user_id) AS wau
               FROM d JOIN a ON a.day >= d.day - 6 AND a.day <= d.day
               GROUP BY d.day)
         SELECT day, dau, CAST(wau AS BIGINT) AS wau,
                CAST(dau AS DOUBLE) / CAST(wau AS DOUBLE) AS stickiness
         FROM d JOIN w USING (day) ORDER BY day"""),
    QueryDef("q_psi_chi2", (s, dir) =>
      Analytics.driftBins(Tables.events(s, dir)).orderBy("bin"),
      s"""WITH b AS (SELECT ${Stages.duckEpochBucketSql("ts", 86400)} AS day,
                      least(${Stages.centsSql("value")} // 5000, 9) AS bin
               FROM events),
         sp AS (SELECT min(day) + 15 AS split_day FROM b),
         c AS (SELECT bin,
                      CAST(sum(CASE WHEN day < split_day THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
                      CAST(sum(CASE WHEN day >= split_day THEN 1 ELSE 0 END) AS BIGINT) AS n_b
               FROM b CROSS JOIN sp GROUP BY bin),
         t AS (SELECT CAST(sum(n_a) AS BIGINT) AS ta, CAST(sum(n_b) AS BIGINT) AS tb FROM c)
         SELECT bin, n_a, n_b,
                CAST(n_a + n_b AS DOUBLE) * CAST(ta AS DOUBLE) / CAST(ta + tb AS DOUBLE) AS e_a,
                (CAST(n_a AS DOUBLE) - CAST(n_a + n_b AS DOUBLE) * CAST(ta AS DOUBLE) / CAST(ta + tb AS DOUBLE))
                * (CAST(n_a AS DOUBLE) - CAST(n_a + n_b AS DOUBLE) * CAST(ta AS DOUBLE) / CAST(ta + tb AS DOUBLE))
                / nullif(CAST(n_a + n_b AS DOUBLE) * CAST(ta AS DOUBLE) / CAST(ta + tb AS DOUBLE), 0.0E0)
                + (CAST(n_b AS DOUBLE) - CAST(n_a + n_b AS DOUBLE) * CAST(tb AS DOUBLE) / CAST(ta + tb AS DOUBLE))
                * (CAST(n_b AS DOUBLE) - CAST(n_a + n_b AS DOUBLE) * CAST(tb AS DOUBLE) / CAST(ta + tb AS DOUBLE))
                / nullif(CAST(n_a + n_b AS DOUBLE) * CAST(tb AS DOUBLE) / CAST(ta + tb AS DOUBLE), 0.0E0) AS contrib
         FROM c CROSS JOIN t ORDER BY bin"""),
    QueryDef("q_attribution", (s, dir) =>
      Analytics.linearAttribution(Tables.events(s, dir)).orderBy("touch_type"),
      s"""WITH b AS (SELECT user_id, event_id, event_type,
                      ${Stages.duckEpochBucketSql("ts", 1)} AS ts_sec,
                      ${Stages.centsSql("value")} AS cents
               FROM events),
         p AS (SELECT user_id, event_id AS purchase_id, ts_sec AS p_ts, cents AS p_cents
               FROM b WHERE event_type = 'purchase'),
         t AS (SELECT user_id, event_id AS touch_id, event_type AS touch_type, ts_sec AS t_ts
               FROM b),
         j AS (SELECT p.purchase_id, p.p_cents, t.touch_type,
                      count(*) OVER (PARTITION BY p.purchase_id) AS k
               FROM p JOIN t ON p.user_id = t.user_id
                 AND t.t_ts >= p.p_ts - 604800 AND t.t_ts < p.p_ts)
         SELECT touch_type, count(*) AS n_touches,
                CAST(sum(p_cents * 1000 // k) AS BIGINT) AS attributed_milli
         FROM j GROUP BY touch_type ORDER BY touch_type"""),
    QueryDef("q_ship_latency", (s, dir) =>
      Relational.shipLatency(Tables.lineitem(s, dir), Tables.orders(s, dir))
        .orderBy("o_orderpriority"),
      s"""WITH j AS (SELECT o.o_orderpriority,
                      (${Stages.duckEpochBucketSql("l.l_shipdate", 1)}
                       - ${Stages.duckEpochBucketSql("o.o_orderdate", 1)}) // 86400 AS days
               FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey)
         SELECT o_orderpriority, count(*) AS n_lines,
                quantile_cont(days, 0.5) AS p50_days,
                quantile_cont(days, 0.95) AS p95_days,
                quantile_cont(days, 0.99) AS p99_days,
                max(days) AS max_days
         FROM j GROUP BY o_orderpriority ORDER BY o_orderpriority"""),
    QueryDef("q_rolling_sums", (s, dir) =>
      Analytics.rollingSums(Tables.events(s, dir)).orderBy("day"),
      s"""WITH d AS (SELECT ${Stages.duckEpochBucketSql("ts", 86400)} AS day,
                      CAST(sum(${Stages.centsSql("value")}) AS BIGINT) AS cents
               FROM events GROUP BY 1)
         SELECT day, cents,
                CAST(sum(cents) OVER (ORDER BY day RANGE BETWEEN 6 PRECEDING AND CURRENT ROW)
                  AS BIGINT) AS r7_cents,
                CAST(sum(cents) OVER (ORDER BY day RANGE BETWEEN 27 PRECEDING AND CURRENT ROW)
                  AS BIGINT) AS r28_cents
         FROM d ORDER BY day"""),
    QueryDef("q_item_rec", (s, dir) =>
      Graph.itemRecommendations(Tables.lineitem(s, dir)).orderBy("part", "rank"),
      """WITH op AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem),
         e AS (SELECT a.pk AS pa, b.pk AS pb, count(*) AS w
               FROM op a JOIN op b ON a.ok = b.ok AND a.pk < b.pk GROUP BY 1, 2),
         bidir AS (SELECT pa AS part, pb AS rec_part, w FROM e
                   UNION ALL SELECT pb, pa, w FROM e),
         r AS (SELECT part, rec_part, w,
                      CAST(row_number() OVER (PARTITION BY part
                        ORDER BY w DESC, rec_part ASC) AS BIGINT) AS rank
               FROM bidir)
         SELECT part, rank, rec_part, w FROM r WHERE rank <= 3
         ORDER BY part, rank"""),
    QueryDef("q_nullsafe_join", (s, dir) =>
      Relational.nullSafeJoinReport(Tables.events(s, dir), Tables.orders(s, dir))
        .orderBy("n_keys_a"),
      """WITH a AS (SELECT DISTINCT CASE WHEN event_id % 7 = 0 THEN NULL
                                         ELSE event_id % 100 END AS k FROM events),
         b AS (SELECT DISTINCT CASE WHEN o_orderkey % 11 = 0 THEN NULL
                                    ELSE o_orderkey % 100 END AS k FROM orders),
         eq AS (SELECT count(*) AS matched_eq FROM a JOIN b ON a.k = b.k),
         ns AS (SELECT count(*) AS matched_nullsafe
                FROM a JOIN b ON a.k IS NOT DISTINCT FROM b.k),
         sa AS (SELECT count(*) AS n_keys_a,
                       CAST(sum(CASE WHEN k IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_null_a
                FROM a),
         sb AS (SELECT count(*) AS n_keys_b FROM b)
         SELECT n_keys_a, n_null_a, n_keys_b, matched_eq, matched_nullsafe
         FROM sa CROSS JOIN sb CROSS JOIN eq CROSS JOIN ns"""),
    QueryDef("q_freshness", (s, dir) =>
      Analytics.freshness(Tables.events(s, dir)).orderBy("event_type"),
      s"""WITH t AS (SELECT event_type, count(*) AS n_events,
                           max(${Stages.duckEpochBucketSql("ts", 1)}) AS max_ts
                    FROM events GROUP BY 1),
         g AS (SELECT max(max_ts) AS global_max FROM t)
         SELECT event_type, n_events, max_ts, global_max - max_ts AS lag_sec
         FROM t CROSS JOIN g ORDER BY event_type"""),
    QueryDef("q_lag_features", (s, dir) =>
      Analytics.lagFeatures(Tables.events(s, dir)).orderBy("event_id"),
      s"""WITH e AS (SELECT user_id, event_id,
                      ${Stages.duckEpochBucketSql("ts", 1)} AS ts_sec,
                      ${Stages.centsSql("value")} AS cents
               FROM events)
         SELECT event_id, user_id, cents,
                lag(cents, 1) OVER u AS v_lag1,
                lag(cents, 2) OVER u AS v_lag2,
                CASE WHEN count(*) OVER t3 = 0 THEN NULL
                ELSE CAST(sum(cents) OVER t3 AS DOUBLE)
                     / CAST(count(*) OVER t3 AS DOUBLE) END AS v_ma3
         FROM e
         WINDOW u AS (PARTITION BY user_id ORDER BY ts_sec ASC, event_id ASC),
                t3 AS (PARTITION BY user_id ORDER BY ts_sec ASC, event_id ASC
                       ROWS BETWEEN 3 PRECEDING AND 1 PRECEDING)
         ORDER BY event_id"""),
    QueryDef("q_table_diff", (s, dir) =>
      Relational.tableDiff(Tables.orders(s, dir)).orderBy("n_same"),
      s"""WITH a AS (SELECT o_orderkey AS k,
                      md5(concat_ws('|', CAST(o_orderkey AS VARCHAR), o_orderstatus,
                          CAST(${Stages.centsSql("o_totalprice")} AS VARCHAR))) AS fp_a
               FROM orders),
         b AS (SELECT o_orderkey AS k,
                      md5(concat_ws('|', CAST(o_orderkey AS VARCHAR), o_orderstatus,
                          CAST(${Stages.centsSql("o_totalprice")}
                               + CASE WHEN o_orderkey % 97 = 0 THEN 1 ELSE 0 END AS VARCHAR)))
                        AS fp_b
               FROM orders WHERE o_orderkey % 101 != 0)
         SELECT CAST(sum(CASE WHEN fp_b IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_only_a,
                CAST(sum(CASE WHEN fp_a IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_only_b,
                CAST(sum(CASE WHEN fp_a IS NOT NULL AND fp_b IS NOT NULL AND fp_a <> fp_b
                  THEN 1 ELSE 0 END) AS BIGINT) AS n_changed,
                CAST(sum(CASE WHEN fp_a = fp_b THEN 1 ELSE 0 END) AS BIGINT) AS n_same
         FROM a FULL OUTER JOIN b USING (k)"""),
    QueryDef("q_pareto", (s, dir) =>
      Relational.paretoParts(Tables.lineitem(s, dir)).orderBy("rank"),
      s"""WITH r0 AS (SELECT l_partkey, CAST(sum(${Stages.centsSql("l_extendedprice")}) AS BIGINT) AS cents
               FROM lineitem GROUP BY 1),
         t AS (SELECT CAST(sum(cents) AS BIGINT) AS total_cents FROM r0),
         r AS (SELECT l_partkey, cents,
                      CAST(row_number() OVER (ORDER BY cents DESC, l_partkey ASC) AS BIGINT) AS rank
               FROM r0),
         f AS (SELECT * FROM r WHERE rank <= 100),
         c AS (SELECT rank, l_partkey, cents,
                      CAST(sum(cents) OVER (ORDER BY rank
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_cents
               FROM f)
         SELECT rank, l_partkey, cents, cum_cents,
                CAST(cum_cents AS DOUBLE) / CAST(total_cents AS DOUBLE) AS cum_share
         FROM c CROSS JOIN t WHERE rank IN (1, 5, 10, 20, 50, 100)
         ORDER BY rank"""),
    QueryDef("q_filter_funnel", (s, dir) =>
      TextAnalysis.filterFunnel(Tables.documents(s, dir)).orderBy("n_docs"),
      """SELECT count(*) AS n_docs,
                CAST(sum(CASE WHEN n_chars >= 100 THEN 1 ELSE 0 END) AS BIGINT) AS pass_len,
                CAST(sum(CASE WHEN n_chars >= 100
                  AND len(string_split_regex(trim(text), '\s+')) >= 20
                  THEN 1 ELSE 0 END) AS BIGINT) AS pass_tokens,
                CAST(sum(CASE WHEN n_chars >= 100
                  AND len(string_split_regex(trim(text), '\s+')) >= 20
                  AND len(list_distinct(string_split_regex(trim(text), '\s+'))) * 10
                      >= len(string_split_regex(trim(text), '\s+')) * 3
                  THEN 1 ELSE 0 END) AS BIGINT) AS pass_diversity,
                CAST(sum(CASE WHEN n_chars >= 100
                  AND len(string_split_regex(trim(text), '\s+')) >= 20
                  AND len(list_distinct(string_split_regex(trim(text), '\s+'))) * 10
                      >= len(string_split_regex(trim(text), '\s+')) * 3
                  AND lang IN ('en', 'es', 'de', 'fr')
                  THEN 1 ELSE 0 END) AS BIGINT) AS pass_lang,
                CAST(sum(CASE WHEN n_chars >= 100
                  AND len(string_split_regex(trim(text), '\s+')) >= 20
                  AND len(list_distinct(string_split_regex(trim(text), '\s+'))) * 10
                      >= len(string_split_regex(trim(text), '\s+')) * 3
                  AND lang IN ('en', 'es', 'de', 'fr')
                  THEN 1 ELSE 0 END) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS final_yield
         FROM documents"""),
    QueryDef("q_interval_union", (s, dir) =>
      Analytics.intervalUnion(Tables.events(s, dir)).orderBy("user_id"),
      s"""WITH iv AS (SELECT user_id, event_id,
                      ${Stages.duckEpochBucketSql("ts", 1)} - 900 AS start_sec,
                      ${Stages.duckEpochBucketSql("ts", 1)} + 900 AS end_sec
               FROM events),
         m AS (SELECT user_id, event_id, start_sec, end_sec,
                      max(end_sec) OVER (PARTITION BY user_id
                        ORDER BY start_sec ASC, end_sec ASC, event_id ASC
                        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev_max
               FROM iv),
         fl AS (SELECT user_id, start_sec, end_sec,
                       CASE WHEN prev_max IS NULL OR start_sec > prev_max THEN 1 ELSE 0 END
                         AS new_island, event_id
                FROM m),
         isl AS (SELECT user_id, start_sec, end_sec,
                        CAST(sum(new_island) OVER (PARTITION BY user_id
                          ORDER BY start_sec ASC, end_sec ASC, event_id ASC
                          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
                          AS island
                 FROM fl),
         g AS (SELECT user_id, island, min(start_sec) AS s, max(end_sec) AS e
               FROM isl GROUP BY 1, 2)
         SELECT user_id, count(*) AS n_islands,
                CAST(sum(e - s) AS BIGINT) AS covered_sec,
                max(e - s) AS longest_sec
         FROM g GROUP BY user_id ORDER BY user_id"""),
    QueryDef("q_embed_outliers", (s, dir) =>
      Similarity.embedOutliers(Tables.embeddings(s, dir)).orderBy("label", "rank"),
      """WITH e AS (SELECT vec_id, label, unnest(generate_series(1, 64)) AS dim, embedding
                    FROM embeddings),
         m AS (SELECT vec_id, label, CAST(dim AS BIGINT) AS dim,
                      CAST(round(CAST(embedding[dim] AS DOUBLE) * 1000) AS BIGINT) AS milli
               FROM e),
         c AS (SELECT label, dim,
                      CAST(round(CAST(CAST(sum(milli) AS BIGINT) AS DOUBLE)
                                 / CAST(count(*) AS DOUBLE)) AS BIGINT) AS c
               FROM m GROUP BY 1, 2),
         d AS (SELECT m.label, m.vec_id,
                      CAST(sum((m.milli - c.c) * (m.milli - c.c)) AS BIGINT) AS dist2
               FROM m JOIN c ON m.label = c.label AND m.dim = c.dim
               GROUP BY 1, 2),
         r AS (SELECT label, vec_id, dist2,
                      CAST(row_number() OVER (PARTITION BY label
                        ORDER BY dist2 DESC, vec_id ASC) AS BIGINT) AS rank
               FROM d)
         SELECT label, rank, vec_id, dist2 FROM r WHERE rank <= 3
         ORDER BY label, rank"""),
    QueryDef("q_lifecycle", (s, dir) =>
      Relational.lifecycleStages(Tables.events(s, dir)).orderBy("stage"),
      s"""WITH b AS (SELECT user_id, ${Stages.duckEpochBucketSql("ts", 1)} AS ts_sec
                    FROM events),
         a AS (SELECT max(ts_sec) AS now_sec FROM b),
         pu AS (SELECT user_id, count(*) AS freq,
                       (max(now_sec) - max(ts_sec)) // 86400 AS recency_days
                FROM b CROSS JOIN a GROUP BY 1),
         md AS (SELECT quantile_cont(recency_days, 0.5) AS med_r,
                       quantile_cont(freq, 0.5) AS med_f
                FROM pu)
         SELECT CASE
                  WHEN recency_days <= med_r AND freq >= med_f THEN 'core'
                  WHEN recency_days <= med_r THEN 'casual'
                  WHEN freq >= med_f THEN 'lapsing'
                  ELSE 'dormant'
                END AS stage, count(*) AS n_users
         FROM pu CROSS JOIN md GROUP BY 1 ORDER BY stage"""),
    QueryDef("q_dedup_agreement", (s, dir) =>
      Dedup.dedupAgreement(Tables.documents(s, dir)).orderBy("n_pairs"),
      s"""WITH mh AS (SELECT doc_a, doc_b FROM ($duckMinhashPairsSql)),
         sh AS (SELECT doc_a, doc_b FROM (${duckSimhashSql(3)})),
         j AS (SELECT coalesce(mh.doc_a, sh.doc_a) AS doc_a,
                      coalesce(mh.doc_b, sh.doc_b) AS doc_b,
                      CASE WHEN mh.doc_a IS NOT NULL THEN 1 END AS in_mh,
                      CASE WHEN sh.doc_a IS NOT NULL THEN 1 END AS in_sh
               FROM mh FULL OUTER JOIN sh
                 ON mh.doc_a = sh.doc_a AND mh.doc_b = sh.doc_b)
         SELECT count(*) AS n_pairs,
                CAST(sum(CASE WHEN in_mh IS NOT NULL AND in_sh IS NOT NULL
                  THEN 1 ELSE 0 END) AS BIGINT) AS n_both,
                CAST(sum(CASE WHEN in_sh IS NULL THEN 1 ELSE 0 END) AS BIGINT)
                  AS n_minhash_only,
                CAST(sum(CASE WHEN in_mh IS NULL THEN 1 ELSE 0 END) AS BIGINT)
                  AS n_simhash_only
         FROM j"""),
    QueryDef("q_mannwhitney", (s, dir) =>
      Analytics.mannWhitney(Tables.events(s, dir), "purchase", "click").orderBy("na"),
      s"""WITH g AS (SELECT ${Stages.centsSql("value")} AS x,
                    CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS a,
                    CAST(sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS BIGINT) AS b
             FROM events WHERE event_type IN ('purchase', 'click') GROUP BY 1),
         r AS (SELECT a, a + b AS t,
                      CAST(coalesce(sum(a + b) OVER (ORDER BY x
                        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS c
               FROM g),
         s AS (SELECT CAST(sum(a) AS BIGINT) AS na,
                      CAST(sum(t - a) AS BIGINT) AS nb,
                      CAST(sum(CAST(a AS HUGEINT) * (2 * c + t + 1)) AS HUGEINT) AS two_ra,
                      CAST(sum(CAST(t AS HUGEINT) * t * t - t) AS HUGEINT) AS tie3
               FROM r),
         u AS (SELECT na, nb,
                      CAST(two_ra - CAST(na AS HUGEINT) * (na + 1) AS DECIMAL(38,0)) AS two_u_a,
                      tie3 FROM s)
         SELECT na, nb, CAST(two_u_a AS DOUBLE) AS two_u_a,
                CASE WHEN na = 0 OR nb = 0 OR
                     tie3 = CAST(na + nb AS HUGEINT) * (na + nb - 1) * (na + nb + 1)
                THEN NULL
                ELSE CAST(two_u_a - CAST(na AS HUGEINT) * nb AS DOUBLE) /
                (2.0 * sqrt((CAST(na AS DOUBLE) * CAST(nb AS DOUBLE) / 12.0) *
                            (CAST(na + nb + 1 AS DOUBLE) -
                             CAST(tie3 AS DOUBLE) /
                             (CAST(na + nb AS DOUBLE) * CAST(na + nb - 1 AS DOUBLE))))) END AS z
         FROM u ORDER BY na"""),
    QueryDef("q_mood_median", (s, dir) =>
      Inference.moodMedian(Tables.events(s, dir), "purchase", "click").orderBy("median_cents"),
      s"""WITH g AS (SELECT ${Stages.centsSql("value")} AS x,
                    CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS a,
                    CAST(sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS BIGINT) AS b
             FROM events WHERE event_type IN ('purchase', 'click') GROUP BY 1),
         cumt AS (SELECT x, CAST(sum(a + b) OVER (ORDER BY x
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS c FROM g),
         nn AS (SELECT CAST(sum(a + b) AS BIGINT) AS n FROM g),
         med AS (SELECT CAST(min(x) AS BIGINT) AS median_cents
                 FROM cumt CROSS JOIN nn WHERE 2 * c >= n),
         tab AS (SELECT max(median_cents) AS median_cents,
                        CAST(sum(CASE WHEN x > median_cents THEN a ELSE 0 END) AS BIGINT) AS a_above,
                        CAST(sum(CASE WHEN x <= median_cents THEN a ELSE 0 END) AS BIGINT) AS a_below,
                        CAST(sum(CASE WHEN x > median_cents THEN b ELSE 0 END) AS BIGINT) AS b_above,
                        CAST(sum(CASE WHEN x <= median_cents THEN b ELSE 0 END) AS BIGINT) AS b_below
                 FROM g CROSS JOIN med)
         SELECT median_cents, a_above, a_below, b_above, b_below,
                ${Inference.moodChi2Sql} AS chi2
         FROM tab ORDER BY median_cents"""),
    QueryDef("q_cochran_q", (s, dir) =>
      Inference.cochranQ(Tables.events(s, dir)).orderBy("n_users"),
      s"""WITH pres AS (SELECT user_id, event_type,
                        CASE WHEN max(${Stages.centsSql("value")}) >= 10000
                             THEN 1 ELSE 0 END AS v
                        FROM events WHERE event_type IN ('view', 'click', 'purchase')
                        GROUP BY 1, 2),
         r AS (SELECT user_id, CAST(sum(v) AS BIGINT) AS r FROM pres GROUP BY 1),
         rs AS (SELECT CAST(count(*) AS BIGINT) AS n_users, CAST(sum(r) AS BIGINT) AS t,
                       CAST(sum(r * r) AS BIGINT) AS sum_r2 FROM r),
         c AS (SELECT event_type, CAST(sum(v) AS BIGINT) AS c FROM pres GROUP BY 1),
         cs AS (SELECT CAST(sum(c * c) AS BIGINT) AS sum_c2 FROM c)
         SELECT n_users, t, sum_r2, sum_c2, ${Inference.cochranQSql(3)} AS q_stat
         FROM rs CROSS JOIN cs ORDER BY n_users"""),
    QueryDef("q_ams_f2", (s, dir) =>
      TextAnalysis.amsF2(Tables.documents(s, dir)).orderBy("n_tokens"),
      s"""WITH t AS (SELECT unnest(string_split_regex(trim(text), '\\s+')) AS tok FROM documents),
         cnt AS (SELECT tok, CAST(count(*) AS BIGINT) AS cnt FROM t GROUP BY 1),
         sg AS (SELECT cnt,
                  ${Stages.duckMd5BitsSql("tok", "1", 8)} % 256 AS bucket,
                  ${Stages.duckMd5BitsSql("tok", "17", 1)} % 2 * 2 - 1 AS sgn
                FROM cnt),
         sk AS (SELECT CAST(count(*) AS BIGINT) AS n_buckets, CAST(sum(s * s) AS BIGINT) AS f2_est
                FROM (SELECT bucket, CAST(sum(sgn * cnt) AS BIGINT) AS s FROM sg GROUP BY 1)),
         ex AS (SELECT CAST(count(*) AS BIGINT) AS n_tokens,
                       CAST(sum(cnt * cnt) AS BIGINT) AS f2_exact FROM cnt)
         SELECT n_tokens, n_buckets, f2_exact, f2_est,
                CAST(f2_est - f2_exact AS DOUBLE) / CAST(f2_exact AS DOUBLE) AS rel_err
         FROM ex CROSS JOIN sk ORDER BY n_tokens"""),
    QueryDef("q_cms", (s, dir) =>
      TextAnalysis.cmsAccuracy(Tables.documents(s, dir)).orderBy("rank"),
      s"""WITH t AS (SELECT unnest(string_split_regex(trim(text), '\\s+')) AS tok FROM documents),
         cnt AS (SELECT tok, CAST(count(*) AS BIGINT) AS true_cnt FROM t GROUP BY 1),
         k AS (SELECT tok, true_cnt, unnest(generate_series(0, 3)) AS j FROM cnt),
         kb AS (SELECT tok, true_cnt, j,
                  ${Stages.duckMd5BitsSql("tok", "j * 8 + 1", 8)} % 512 AS bucket
                FROM k),
         c AS (SELECT j, bucket, CAST(sum(true_cnt) AS BIGINT) AS counter FROM kb GROUP BY 1, 2),
         e AS (SELECT kb.tok, max(kb.true_cnt) AS true_cnt, min(c.counter) AS cms_est
               FROM kb JOIN c ON kb.j = c.j AND kb.bucket = c.bucket GROUP BY 1),
         r AS (SELECT tok, true_cnt, cms_est,
                 CAST(row_number() OVER (ORDER BY true_cnt DESC, tok ASC) AS BIGINT) AS rank
               FROM e)
         SELECT rank, tok, true_cnt, cms_est, cms_est - true_cnt AS err
         FROM r WHERE rank <= 20 ORDER BY rank"""),
    QueryDef("q_rrf", (s, dir) =>
      Similarity.rrfFusion(Tables.embeddings(s, dir)).orderBy("qid", "rank"),
      s"""WITH ex AS (SELECT qid, nid, rank AS r_exact FROM (${duckCosineTopKSql(10, 5)})),
         iv AS (SELECT qid, nid, rank AS r_ivf FROM (${duckAnnIvfSql(10, 5, 8)})),
         f AS (SELECT coalesce(ex.qid, iv.qid) AS qid, coalesce(ex.nid, iv.nid) AS nid,
                      coalesce(1.0 / (60 + CAST(r_exact AS DOUBLE)), 0.0) +
                      coalesce(1.0 / (60 + CAST(r_ivf AS DOUBLE)), 0.0) AS rrf
               FROM ex FULL OUTER JOIN iv ON ex.qid = iv.qid AND ex.nid = iv.nid),
         ranked AS (SELECT qid, nid, rrf,
                      CAST(row_number() OVER (PARTITION BY qid
                        ORDER BY rrf DESC, nid ASC) AS BIGINT) AS rank
                    FROM f)
         SELECT qid, rank, nid, rrf FROM ranked WHERE rank <= 5 ORDER BY qid, rank"""),
    QueryDef("q_zone_map", (s, dir) =>
      Relational.zoneMapSkipping(Tables.lineitem(s, dir)).orderBy("layout"),
      """WITH base AS (SELECT l_orderkey, l_linenumber, CAST(l_shipdate AS DATE) AS d FROM lineitem),
         mk AS (SELECT max(l_orderkey) AS mk FROM base),
         nr AS (SELECT count(*) AS nr FROM base),
         nat AS (SELECT l_orderkey * 64 // (mk + 1) AS zone, d FROM base CROSS JOIN mk),
         rk AS (SELECT d, row_number() OVER (ORDER BY d, l_orderkey, l_linenumber) AS rank FROM base),
         clu AS (SELECT (rank - 1) * 64 // nr AS zone, d FROM rk CROSS JOIN nr),
         zn AS (SELECT 'natural' AS layout, zone, d FROM nat
                UNION ALL SELECT 'clustered' AS layout, zone, d FROM clu),
         z AS (SELECT layout, zone, count(*) AS zr, min(d) AS zmin, max(d) AS zmax
               FROM zn GROUP BY 1, 2)
         SELECT layout, CAST(count(*) AS BIGINT) AS n_zones,
                CAST(sum(CASE WHEN zmax < DATE '1998-01-01' OR zmin >= DATE '1999-01-01'
                  THEN 1 ELSE 0 END) AS BIGINT) AS n_pruned,
                CAST(sum(zr) AS BIGINT) AS rows_total,
                CAST(sum(CASE WHEN zmax < DATE '1998-01-01' OR zmin >= DATE '1999-01-01'
                  THEN 0 ELSE zr END) AS BIGINT) AS rows_scanned,
                CAST(sum(CASE WHEN zmax < DATE '1998-01-01' OR zmin >= DATE '1999-01-01'
                  THEN 0 ELSE zr END) AS DOUBLE) / CAST(sum(zr) AS DOUBLE) AS scan_frac
         FROM z GROUP BY 1 ORDER BY layout"""),
    QueryDef("q_mann_kendall", (s, dir) =>
      Analytics.mannKendall(Tables.events(s, dir)).orderBy("n_days"),
      s"""WITH daily AS (SELECT CAST(ts AS DATE) AS d,
                        CAST(sum(${Stages.centsSql("value")}) AS BIGINT) AS x
                 FROM events GROUP BY 1),
         s AS (SELECT CAST(coalesce(sum(CAST(sign(j.x - i.x) AS BIGINT)), 0) AS BIGINT) AS s_stat
               FROM daily i JOIN daily j ON i.d < j.d),
         t AS (SELECT CAST(count(*) AS BIGINT) AS t FROM daily GROUP BY x),
         tt AS (SELECT CAST(sum(t) AS BIGINT) AS n_days,
                       CAST(sum(t * (t - 1) * (2 * t + 5)) AS BIGINT) AS tie_term
                FROM t)
         SELECT n_days, s_stat,
                CASE WHEN s_stat > 0 THEN CAST(s_stat - 1 AS DOUBLE)
                     WHEN s_stat < 0 THEN CAST(s_stat + 1 AS DOUBLE)
                     ELSE 0.0 END /
                nullif(sqrt(CAST(n_days * (n_days - 1) * (2 * n_days + 5) - tie_term AS DOUBLE) / 18.0), 0.0E0) AS z
         FROM s CROSS JOIN tt ORDER BY n_days"""),
    QueryDef("q_merge_stats", (s, dir) =>
      Analytics.mergeStats(Tables.events(s, dir)).orderBy("event_type"),
      s"""WITH base AS (SELECT event_type, event_id % 2 AS h,
                       ${Stages.centsSql("value")} AS c FROM events),
         p AS (SELECT event_type, h, CAST(count(*) AS BIGINT) AS n,
                      CAST(sum(c) AS BIGINT) AS s, CAST(sum(c * c) AS BIGINT) AS ss
               FROM base GROUP BY 1, 2),
         m AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n_partials,
                      CAST(sum(n) AS BIGINT) AS n, CAST(sum(s) AS BIGINT) AS sum_cents,
                      CAST(sum(ss) AS BIGINT) AS sumsq_cents
               FROM p GROUP BY 1),
         d AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n_d,
                      CAST(sum(c) AS BIGINT) AS s_d, CAST(sum(c * c) AS BIGINT) AS ss_d
               FROM base GROUP BY 1)
         SELECT m.event_type, n_partials, n, sum_cents, sumsq_cents,
                (n = n_d AND sum_cents = s_d AND sumsq_cents = ss_d) AS merge_exact,
                CAST(sum_cents AS DOUBLE) / CAST(n AS DOUBLE) / 100.0 AS mean_dollars,
                sqrt((CAST(sumsq_cents AS DOUBLE) -
                      CAST(sum_cents AS DOUBLE) * CAST(sum_cents AS DOUBLE) / CAST(n AS DOUBLE)) /
                     nullif(CAST(n - 1 AS DOUBLE), 0.0E0)) / 100.0 AS stddev_dollars
         FROM m JOIN d USING (event_type) ORDER BY event_type"""),
    QueryDef("q_kendall_tau", (s, dir) =>
      Analytics.kendallTau(Tables.events(s, dir)).orderBy("n0"),
      s"""WITH daily AS (SELECT CAST(ts AS DATE) AS d,
                        CAST(sum(${Stages.centsSql("value")}) AS BIGINT) AS x,
                        CAST(count(DISTINCT user_id) AS BIGINT) AS y
                 FROM events GROUP BY 1),
         agg AS (SELECT CAST(count(*) AS BIGINT) AS n0,
                        CAST(coalesce(sum(CAST(sign(j.x - i.x) AS BIGINT) *
                                          CAST(sign(j.y - i.y) AS BIGINT)), 0) AS BIGINT) AS s_stat,
                        CAST(sum(CASE WHEN j.x = i.x THEN 1 ELSE 0 END) AS BIGINT) AS tx_pairs,
                        CAST(sum(CASE WHEN j.y = i.y THEN 1 ELSE 0 END) AS BIGINT) AS ty_pairs
                 FROM daily i JOIN daily j ON i.d < j.d)
         SELECT n0, s_stat, tx_pairs, ty_pairs,
                CAST(s_stat AS DOUBLE) /
                sqrt(CAST(n0 - tx_pairs AS DOUBLE) * CAST(n0 - ty_pairs AS DOUBLE)) AS tau_b
         FROM agg ORDER BY n0"""),
    QueryDef("q_runs_test", (s, dir) =>
      Analytics.runsTest(Tables.events(s, dir)).orderBy("n1"),
      s"""WITH daily AS (SELECT CAST(ts AS DATE) AS d,
                        CAST(sum(${Stages.centsSql("value")}) AS BIGINT) AS x
                 FROM events GROUP BY 1),
         md AS (SELECT quantile_cont(x, 0.5) AS med FROM daily),
         sgn AS (SELECT d, CASE WHEN x > med THEN 1 ELSE 0 END AS s
                 FROM daily CROSS JOIN md WHERE CAST(x AS DOUBLE) <> med),
         ch AS (SELECT s, CASE WHEN lag(s) OVER (ORDER BY d) IS NULL
                                 OR lag(s) OVER (ORDER BY d) <> s THEN 1 ELSE 0 END AS chg
                FROM sgn),
         agg AS (SELECT CAST(sum(CASE WHEN s = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n1,
                        CAST(sum(CASE WHEN s = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n2,
                        CAST(sum(chg) AS BIGINT) AS r
                 FROM ch)
         SELECT n1, n2, r,
                (CAST(r AS DOUBLE) -
                 (2.0 * CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE) / CAST(n1 + n2 AS DOUBLE) + 1.0)) /
                sqrt(2.0 * CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE) *
                     (2.0 * CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE) - CAST(n1 + n2 AS DOUBLE)) /
                     (CAST(n1 + n2 AS DOUBLE) * CAST(n1 + n2 AS DOUBLE) *
                      CAST(n1 + n2 - 1 AS DOUBLE))) AS z
         FROM agg ORDER BY n1"""),
    QueryDef("q_hll", (s, dir) =>
      Analytics.hllDistinct(Tables.events(s, dir)).orderBy("event_type"),
      s"""WITH h AS (SELECT event_type,
                     ${Stages.duckMd5BitsSql("concat(CAST(user_id AS VARCHAR), '-', CAST(CAST(ts AS DATE) AS VARCHAR))", "1", 8)} AS h
              FROM events),
         br AS (SELECT event_type, h >> 24 AS bucket, h & 16777215 AS rem FROM h),
         rr AS (SELECT event_type, bucket, $hllRhoLadder AS rho FROM br),
         regs AS (SELECT event_type, bucket, max(rho) AS r FROM rr GROUP BY 1, 2),
         sk AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n_used,
                       CAST(sum(1 << (25 - r)) AS BIGINT) AS s_present
                FROM regs GROUP BY 1),
         si AS (SELECT event_type, n_used, s_present + (256 - n_used) * 33554432 AS s_int FROM sk),
         ex AS (SELECT event_type,
                       CAST(count(DISTINCT concat(CAST(user_id AS VARCHAR), '-',
                         CAST(CAST(ts AS DATE) AS VARCHAR))) AS BIGINT) AS n_exact
                FROM events GROUP BY 1),
         est AS (SELECT si.event_type, n_used, n_exact,
                        CAST(0.7213 AS DOUBLE) / (1.0 + CAST(1.079 AS DOUBLE) / 256.0) *
                        65536.0 * 33554432.0 / CAST(s_int AS DOUBLE) AS hll_est
                 FROM si JOIN ex USING (event_type))
         SELECT event_type, n_used, n_exact, hll_est,
                (hll_est - CAST(n_exact AS DOUBLE)) / CAST(n_exact AS DOUBLE) AS rel_err
         FROM est ORDER BY event_type"""),
    QueryDef("q_changepoint", (s, dir) =>
      Analytics.changepoint(Tables.events(s, dir)).orderBy("split_day"),
      s"""WITH daily AS (SELECT CAST(ts AS DATE) AS d,
                        CAST(sum(${Stages.centsSql("value")}) AS BIGINT) AS x
                 FROM events GROUP BY 1),
         pre AS (SELECT d,
                        CAST(sum(x) OVER (ORDER BY d ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS sl,
                        CAST(sum(CAST(x AS HUGEINT) * x) OVER (ORDER BY d ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS HUGEINT) AS ql,
                        CAST(sum(1) OVER (ORDER BY d ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS nl
                 FROM daily),
         tot AS (SELECT CAST(count(*) AS BIGINT) AS n, CAST(sum(x) AS BIGINT) AS s,
                        CAST(sum(CAST(x AS HUGEINT) * x) AS HUGEINT) AS q
                 FROM daily),
         cand AS (SELECT ${Stages.duckEpochBucketSql("d", 86400)} AS split_day,
                         nl AS n_left, n - nl AS n_right,
                         (CAST(ql AS DOUBLE) -
                          CAST(sl AS DOUBLE) * CAST(sl AS DOUBLE) / CAST(nl AS DOUBLE)) +
                         (CAST(q - ql AS DOUBLE) -
                          CAST(s - sl AS DOUBLE) * CAST(s - sl AS DOUBLE) / CAST(n - nl AS DOUBLE)) AS cost
                  FROM pre CROSS JOIN tot WHERE nl < n)
         SELECT split_day, n_left, n_right, cost FROM cand
         ORDER BY cost ASC, split_day ASC LIMIT 1"""),
    QueryDef("q_theil_sen", (s, dir) =>
      Analytics.theilSen(Tables.events(s, dir)).orderBy("n_pairs"),
      s"""WITH daily AS (SELECT CAST(ts AS DATE) AS d,
                        CAST(sum(${Stages.centsSql("value")}) AS BIGINT) AS x
                 FROM events GROUP BY 1),
         dd AS (SELECT ${Stages.duckEpochBucketSql("d", 86400)} AS dn, x FROM daily),
         sl AS (SELECT CAST(round(CAST((j.x - i.x) * 1000 AS DOUBLE) /
                                  CAST(j.dn - i.dn AS DOUBLE)) AS BIGINT) AS slope_milli
                FROM dd i JOIN dd j ON i.dn < j.dn)
         SELECT CAST(count(*) AS BIGINT) AS n_pairs,
                quantile_cont(slope_milli, 0.5) AS slope_milli_median
         FROM sl ORDER BY n_pairs"""),
    QueryDef("q_k_anonymity", (s, dir) =>
      Relational.kAnonymity(Tables.events(s, dir)).orderBy("n_groups"),
      s"""WITH qi AS (SELECT event_type, ${Stages.centsSql("value")} // 2000 AS band,
                     CAST(ts AS DATE) AS day
              FROM events),
         g AS (SELECT event_type, band, day, CAST(count(*) AS BIGINT) AS gsz
               FROM qi GROUP BY 1, 2, 3),
         agg AS (SELECT CAST(count(*) AS BIGINT) AS n_groups,
                        CAST(min(gsz) AS BIGINT) AS min_group,
                        CAST(sum(CASE WHEN gsz < 5 THEN 1 ELSE 0 END) AS BIGINT) AS n_groups_below_k,
                        CAST(sum(CASE WHEN gsz < 5 THEN gsz ELSE 0 END) AS BIGINT) AS n_rows_below_k,
                        CAST(sum(gsz) AS BIGINT) AS n_rows
                 FROM g)
         SELECT n_groups, min_group, n_groups_below_k, n_rows_below_k, n_rows,
                CAST(n_rows_below_k AS DOUBLE) / CAST(n_rows AS DOUBLE) AS risk_frac
         FROM agg ORDER BY n_groups"""),
    QueryDef("q_spearman", (s, dir) =>
      Analytics.spearman(Tables.events(s, dir)).orderBy("n"),
      s"""WITH daily AS (SELECT CAST(ts AS DATE) AS d,
                        CAST(sum(${Stages.centsSql("value")}) AS BIGINT) AS x,
                        CAST(count(DISTINCT user_id) AS BIGINT) AS y
                 FROM events GROUP BY 1),
         rk AS (SELECT CAST(2 * rank() OVER (ORDER BY x) +
                            count(*) OVER (PARTITION BY x) - 1 AS BIGINT) AS u,
                       CAST(2 * rank() OVER (ORDER BY y) +
                            count(*) OVER (PARTITION BY y) - 1 AS BIGINT) AS v
                FROM daily),
         agg AS (SELECT CAST(count(*) AS BIGINT) AS n,
                        CAST(sum(u) AS BIGINT) AS su, CAST(sum(v) AS BIGINT) AS sv,
                        CAST(sum(u * u) AS BIGINT) AS suu, CAST(sum(v * v) AS BIGINT) AS svv,
                        CAST(sum(u * v) AS BIGINT) AS suv
                 FROM rk)
         SELECT n,
                CAST(n * suv - su * sv AS DOUBLE) /
                nullif(sqrt(CAST(n * suu - su * su AS DOUBLE) * CAST(n * svv - sv * sv AS DOUBLE)), 0.0E0) AS rho
         FROM agg ORDER BY n"""),
    QueryDef("q_hash_uniformity", (s, dir) =>
      Relational.hashUniformity(Tables.events(s, dir)).orderBy("n"),
      s"""WITH c AS (SELECT ${Stages.duckMd5BitsSql("CAST(user_id AS VARCHAR)", "1", 8)} % 256 AS b,
                    CAST(count(*) AS BIGINT) AS o
             FROM events GROUP BY 1),
         grid AS (SELECT g.b, coalesce(c.o, 0) AS o
                  FROM (SELECT unnest(generate_series(0, 255)) AS b) g
                  LEFT JOIN c ON c.b = g.b),
         tot AS (SELECT CAST(sum(o) AS BIGINT) AS n,
                        CAST(sum(CASE WHEN o > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_buckets_used,
                        CAST(sum(o * o) AS BIGINT) AS sumsq
                 FROM grid),
         cum AS (SELECT b, o,
                        CAST(sum(o) OVER (ORDER BY b ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum
                 FROM grid),
         agg AS (SELECT max(n) AS n, max(n_buckets_used) AS n_buckets_used,
                        max(sumsq) AS sumsq,
                        max(abs(256 * cum - n * (b + 1))) AS ks_num
                 FROM cum CROSS JOIN tot)
         SELECT n, n_buckets_used,
                (256.0 * CAST(sumsq AS DOUBLE) - CAST(n AS DOUBLE) * CAST(n AS DOUBLE)) / nullif(CAST(n AS DOUBLE), 0.0E0) AS chi2,
                CAST(ks_num AS DOUBLE) / nullif(256.0 * CAST(n AS DOUBLE), 0.0E0) AS ks_d
         FROM agg ORDER BY n"""),
    QueryDef("q_median_ci", (s, dir) =>
      Analytics.medianCI(Tables.events(s, dir)).orderBy("event_type"),
      s"""WITH base AS (SELECT event_type, event_id,
                       ${Stages.centsSql("value")} AS c FROM events),
         rks AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n,
                        quantile_cont(c, 0.5) AS median_cents
                 FROM base GROUP BY 1),
         bounds AS (SELECT event_type, n, median_cents,
                           greatest(CAST(1 AS BIGINT),
                             CAST(floor((CAST(n AS DOUBLE) -
                               CAST(1.96 AS DOUBLE) * sqrt(CAST(n AS DOUBLE))) / 2.0) AS BIGINT)) AS lo_rank,
                           least(n,
                             CAST(ceil((CAST(n AS DOUBLE) + 2.0 +
                               CAST(1.96 AS DOUBLE) * sqrt(CAST(n AS DOUBLE))) / 2.0) AS BIGINT)) AS hi_rank
                    FROM rks),
         rn AS (SELECT event_type, c,
                       CAST(row_number() OVER (PARTITION BY event_type
                         ORDER BY c ASC, event_id ASC) AS BIGINT) AS rn
                FROM base)
         SELECT rn.event_type, max(b.n) AS n, max(b.median_cents) AS median_cents,
                max(b.lo_rank) AS lo_rank, max(b.hi_rank) AS hi_rank,
                min(CASE WHEN rn.rn = b.lo_rank THEN rn.c END) AS lo_cents,
                min(CASE WHEN rn.rn = b.hi_rank THEN rn.c END) AS hi_cents
         FROM rn JOIN bounds b ON rn.event_type = b.event_type
         WHERE rn.rn = b.lo_rank OR rn.rn = b.hi_rank
         GROUP BY 1 ORDER BY rn.event_type"""),
    QueryDef("q_cov_matrix", (s, dir) =>
      Similarity.covMatrix(Tables.embeddings(s, dir)).orderBy("i", "j"),
      """WITH m AS (SELECT vec_id, CAST(dim AS BIGINT) AS dim,
                    CAST(round(CAST(embedding[dim] AS DOUBLE) * 1000) AS BIGINT) AS m
             FROM (SELECT vec_id, embedding, unnest(generate_series(1, 8)) AS dim
                   FROM embeddings))
         SELECT a.dim AS i, b.dim AS j, CAST(sum(a.m * b.m) AS BIGINT) AS s
         FROM m a JOIN m b ON a.vec_id = b.vec_id
         GROUP BY 1, 2 ORDER BY i, j"""),
    QueryDef("q_power_iteration", (s, dir) =>
      Similarity.powerIteration(Tables.embeddings(s, dir)).orderBy("dim"),
      """WITH m AS (SELECT vec_id, CAST(dim AS BIGINT) AS dim,
                    CAST(round(CAST(embedding[dim] AS DOUBLE) * 1000) AS BIGINT) AS m
             FROM (SELECT vec_id, embedding, unnest(generate_series(1, 64)) AS dim
                   FROM embeddings)),
         cells AS (SELECT a.dim AS i, b.dim AS j, CAST(sum(a.m * b.m) AS BIGINT) AS s
                   FROM m a JOIN m b ON a.vec_id = b.vec_id GROUP BY 1, 2),
         u0 AS (SELECT CAST(unnest(generate_series(1, 64)) AS BIGINT) AS udim,
                       CAST(1 AS BIGINT) AS u),
         w1 AS (SELECT i, CAST(sum(s * u) AS BIGINT) AS w
                FROM cells JOIN u0 ON j = udim GROUP BY 1),
         mx1 AS (SELECT max(abs(w)) AS mx FROM w1),
         u1 AS (SELECT i AS udim,
                       CAST(round(1000.0 * CAST(w AS DOUBLE) / CAST(mx AS DOUBLE)) AS BIGINT) AS u
                FROM w1 CROSS JOIN mx1),
         w2 AS (SELECT i, CAST(sum(s * u) AS BIGINT) AS w
                FROM cells JOIN u1 ON j = udim GROUP BY 1),
         mx2 AS (SELECT max(abs(w)) AS mx FROM w2),
         u2 AS (SELECT i AS udim,
                       CAST(round(1000.0 * CAST(w AS DOUBLE) / CAST(mx AS DOUBLE)) AS BIGINT) AS u
                FROM w2 CROSS JOIN mx2)
         SELECT udim AS dim, u AS loading_milli FROM u2 ORDER BY dim"""),
    QueryDef("q_cosine_hist", (s, dir) =>
      Similarity.cosineHistogram(Tables.embeddings(s, dir)).orderBy("bin"),
      """WITH q AS (SELECT vec_id AS qid, embedding::DOUBLE[] AS qe
                    FROM embeddings WHERE vec_id < 10),
         p AS (SELECT CAST(round(100 * (list_dot_product(q.qe, e.embedding::DOUBLE[]) /
                      (sqrt(list_dot_product(q.qe, q.qe)) *
                       sqrt(list_dot_product(e.embedding::DOUBLE[], e.embedding::DOUBLE[]))))) AS BIGINT)
                      + 100 AS cent_shift
               FROM q JOIN embeddings e ON e.vec_id <> q.qid)
         SELECT cent_shift // 5 AS bin, CAST(count(*) AS BIGINT) AS n_pairs
         FROM p GROUP BY 1 ORDER BY bin"""),
    QueryDef("q_motif", (s, dir) =>
      Analytics.motifCensus(Tables.events(s, dir)).orderBy("motif"),
      s"""WITH keyed AS (SELECT user_id,
                        concat(lpad(CAST(${Stages.duckEpochBucketSql("ts", 1)} + 100000000000 AS VARCHAR), 12, '0'),
                               lpad(CAST(event_id + 100000000000 AS VARCHAR), 12, '0'),
                               substring(event_type, 1, 1)) AS k
                 FROM events),
         paths AS (SELECT user_id,
                          array_to_string(list_transform(list_sort(list(k)), x -> right(x, 1)), '') AS path
                   FROM keyed GROUP BY 1),
         tot AS (SELECT CAST(count(*) AS BIGINT) AS n_users FROM paths),
         hits AS (SELECT 'vcp' AS motif,
                         CAST(sum(CASE WHEN instr(path, 'vcp') > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_matching
                  FROM paths
                  UNION ALL
                  SELECT 'cp' AS motif,
                         CAST(sum(CASE WHEN instr(path, 'cp') > 0 THEN 1 ELSE 0 END) AS BIGINT)
                  FROM paths
                  UNION ALL
                  SELECT 'ss' AS motif,
                         CAST(sum(CASE WHEN instr(path, 'ss') > 0 THEN 1 ELSE 0 END) AS BIGINT)
                  FROM paths)
         SELECT motif, n_matching, n_users,
                CAST(n_matching AS DOUBLE) / CAST(n_users AS DOUBLE) AS frac
         FROM hits CROSS JOIN tot ORDER BY motif"""),
    QueryDef("q_compaction_plan", (s, dir) =>
      Relational.compactionPlan(Tables.events(s, dir)).orderBy("bucket"),
      s"""WITH files AS (SELECT ${Stages.duckEpochBucketSql("CAST(ts AS DATE)", 86400)} AS day,
                        event_type, CAST(count(*) AS BIGINT) AS rows
                 FROM events GROUP BY 1, 2),
         packed AS (SELECT day, event_type, rows,
                           CAST(coalesce(sum(rows) OVER (ORDER BY day, event_type
                             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) // 2000 AS bucket
                    FROM files)
         SELECT bucket, CAST(count(*) AS BIGINT) AS n_files,
                CAST(sum(rows) AS BIGINT) AS total_rows,
                CAST(min(day) AS BIGINT) AS min_day, CAST(max(day) AS BIGINT) AS max_day
         FROM packed GROUP BY 1 ORDER BY bucket"""),
    QueryDef("q_recall_curve", (s, dir) =>
      Similarity.recallCurve(Tables.embeddings(s, dir)).orderBy("k"),
      s"""WITH ex AS (SELECT qid, nid, rank AS r_exact FROM (${duckCosineTopKSql(10, 5)})),
         iv AS (SELECT qid, nid, rank AS r_ivf FROM (${duckAnnIvfSql(10, 5, 8)})),
         grid AS (SELECT CAST(unnest(generate_series(1, 5)) AS BIGINT) AS k),
         hits AS (SELECT k, CAST(count(*) AS BIGINT) AS h
                  FROM ex JOIN iv USING (qid, nid) CROSS JOIN grid
                  WHERE r_exact <= k AND r_ivf <= k
                  GROUP BY 1),
         truth AS (SELECT k, CAST(count(*) AS BIGINT) AS t
                   FROM ex CROSS JOIN grid WHERE r_exact <= k GROUP BY 1)
         SELECT g.k, coalesce(h.h, 0) AS n_hits, coalesce(t.t, 0) AS n_truth,
                CASE WHEN coalesce(t.t, 0) = 0 THEN NULL
                     ELSE CAST(coalesce(h.h, 0) AS DOUBLE) / CAST(coalesce(t.t, 0) AS DOUBLE) END AS recall
         FROM grid g LEFT JOIN hits h ON g.k = h.k LEFT JOIN truth t ON g.k = t.k
         ORDER BY g.k"""),
    QueryDef("q_ridge2", (s, dir) =>
      Analytics.ridgeRegression(Tables.events(s, dir)).orderBy("n"),
      {
      val det = Stages.det3Sql("a", "b", "c", "b", "e", "f", "c", "f", "i")
      val d1 = Stages.det3Sql("r1", "b", "c", "r2", "e", "f", "r3", "f", "i")
      val d2 = Stages.det3Sql("a", "r1", "c", "b", "r2", "f", "c", "r3", "i")
      val d3 = Stages.det3Sql("a", "b", "r1", "b", "e", "r2", "c", "f", "r3")
      s"""WITH base AS (SELECT CAST(hour(CAST(ts AS TIMESTAMP)) AS BIGINT) AS x1,
                        (${Stages.duckEpochBucketSql("ts", 86400)} + 3) % 7 + 1 AS x2,
                        ${Stages.centsSql("value")} AS y
                 FROM events),
         m AS (SELECT CAST(count(*) AS BIGINT) AS n,
                      CAST(sum(x1) AS BIGINT) AS s1, CAST(sum(x2) AS BIGINT) AS s2,
                      CAST(sum(y) AS BIGINT) AS sy,
                      CAST(sum(x1 * x1) AS BIGINT) AS s11, CAST(sum(x1 * x2) AS BIGINT) AS s12,
                      CAST(sum(x2 * x2) AS BIGINT) AS s22,
                      CAST(sum(x1 * y) AS BIGINT) AS sb1, CAST(sum(x2 * y) AS BIGINT) AS sb2
               FROM base),
         d AS (SELECT n,
                      CAST(s11 AS DOUBLE) + CAST(1000.0 AS DOUBLE) AS a,
                      CAST(s12 AS DOUBLE) AS b, CAST(s1 AS DOUBLE) AS c,
                      CAST(s22 AS DOUBLE) + CAST(1000.0 AS DOUBLE) AS e,
                      CAST(s2 AS DOUBLE) AS f, CAST(n AS DOUBLE) AS i,
                      CAST(sb1 AS DOUBLE) AS r1, CAST(sb2 AS DOUBLE) AS r2,
                      CAST(sy AS DOUBLE) AS r3
               FROM m)
         SELECT n, $d1 / nullif($det, 0.0E0) AS coef_hour, $d2 / nullif($det, 0.0E0) AS coef_dow,
                $d3 / nullif($det, 0.0E0) AS intercept
         FROM d ORDER BY n"""
    }),
    QueryDef("q_markov_stationary", (s, dir) =>
      Analytics.markovStationary(Tables.events(s, dir)).orderBy("event_type"),
      """WITH seq AS (SELECT event_type AS curr,
                      lag(event_type, 1) OVER (PARTITION BY user_id
                        ORDER BY ts ASC, event_id ASC) AS prev
               FROM events),
         pairs AS (SELECT prev, curr, CAST(count(*) AS BIGINT) AS cnt
                   FROM seq WHERE prev IS NOT NULL GROUP BY 1, 2),
         rsum AS (SELECT prev, CAST(sum(cnt) AS BIGINT) AS tot FROM pairs GROUP BY 1),
         p AS (SELECT pairs.prev, pairs.curr,
                      CAST(round(1000000.0 * CAST(cnt AS DOUBLE) / CAST(tot AS DOUBLE)) AS BIGINT) AS p_ppm
               FROM pairs JOIN rsum USING (prev)),
         v0 AS (SELECT DISTINCT event_type AS vtype, CAST(1000 AS BIGINT) AS v FROM events),
         w1 AS (SELECT curr, CAST(sum(p_ppm * v) AS BIGINT) AS w
                FROM p JOIN v0 ON prev = vtype GROUP BY 1),
         m1 AS (SELECT max(abs(w)) AS mx FROM w1),
         v1 AS (SELECT curr AS vtype,
                       CAST(round(1000.0 * CAST(w AS DOUBLE) / CAST(mx AS DOUBLE)) AS BIGINT) AS v
                FROM w1 CROSS JOIN m1),
         w2 AS (SELECT curr, CAST(sum(p_ppm * v) AS BIGINT) AS w
                FROM p JOIN v1 ON prev = vtype GROUP BY 1),
         m2 AS (SELECT max(abs(w)) AS mx FROM w2),
         v2 AS (SELECT curr AS vtype,
                       CAST(round(1000.0 * CAST(w AS DOUBLE) / CAST(mx AS DOUBLE)) AS BIGINT) AS v
                FROM w2 CROSS JOIN m2)
         SELECT vtype AS event_type, v AS stationary_milli FROM v2 ORDER BY event_type"""),
    QueryDef("q_watermark_reco", (s, dir) =>
      Analytics.watermarkReco(Tables.events(s, dir)).orderBy("n_events"),
      s"""WITH ev AS (SELECT ${Stages.duckEpochBucketSql("ts", 1)}
                       - CASE WHEN event_id % 13 = 0 THEN 21600
                              WHEN event_id % 97 = 0 THEN 86400
                              ELSE 0 END AS ts_sec,
                     event_id // 250 AS batch
              FROM events),
         wm AS (SELECT batch,
                       max(max_ts) OVER (ORDER BY batch
                         ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS watermark
                FROM (SELECT batch, max(ts_sec) AS max_ts FROM ev GROUP BY batch)),
         l AS (SELECT greatest(wm.watermark - ev.ts_sec, 0) AS late_sec
               FROM ev JOIN wm USING (batch)),
         p AS (SELECT CAST(count(*) AS BIGINT) AS n_events,
                      quantile_cont(late_sec, 0.5) AS p50_sec,
                      quantile_cont(late_sec, 0.9) AS p90_sec,
                      quantile_cont(late_sec, 0.99) AS reco_watermark_sec
               FROM l),
         agg AS (SELECT max(n_events) AS n_events, max(p50_sec) AS p50_sec,
                        max(p90_sec) AS p90_sec,
                        max(reco_watermark_sec) AS reco_watermark_sec,
                        CAST(sum(CASE WHEN CAST(late_sec AS DOUBLE) > reco_watermark_sec
                          THEN 1 ELSE 0 END) AS BIGINT) AS n_dropped_at_reco
                 FROM l CROSS JOIN p)
         SELECT n_events, p50_sec, p90_sec, reco_watermark_sec, n_dropped_at_reco,
                CAST(n_dropped_at_reco AS DOUBLE) / CAST(n_events AS DOUBLE) AS drop_frac
         FROM agg ORDER BY n_events"""),
    QueryDef("q_emd", (s, dir) =>
      TextAnalysis.emd(Tables.documents(s, dir), "src0", "src1").orderBy("na"),
      """WITH g AS (SELECT n_chars AS x,
                    CAST(sum(CASE WHEN source = 'src0' THEN 1 ELSE 0 END) AS BIGINT) AS a,
                    CAST(sum(CASE WHEN source = 'src1' THEN 1 ELSE 0 END) AS BIGINT) AS b
             FROM documents WHERE source IN ('src0', 'src1') GROUP BY 1),
         cum AS (SELECT x,
                        CAST(sum(a) OVER (ORDER BY x ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS ca,
                        CAST(sum(b) OVER (ORDER BY x ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cb,
                        lead(x, 1) OVER (ORDER BY x) - x AS gap
                 FROM g),
         t AS (SELECT CAST(sum(a) AS BIGINT) AS na, CAST(sum(b) AS BIGINT) AS nb FROM g),
         agg AS (SELECT max(na) AS na, max(nb) AS nb,
                        CAST(sum(abs(ca * nb - cb * na) * gap) AS BIGINT) AS w1_num
                 FROM cum CROSS JOIN t WHERE gap IS NOT NULL)
         SELECT na, nb, w1_num,
                CAST(w1_num AS DOUBLE) / nullif(CAST(na * nb AS DOUBLE), 0.0E0) AS emd
         FROM agg ORDER BY na"""),
    QueryDef("q_hist_quantile", (s, dir) =>
      Analytics.histQuantile(Tables.events(s, dir)).orderBy("q"),
      s"""WITH base AS (SELECT ${Stages.centsSql("value")} AS c FROM events),
         ext AS (SELECT min(c) AS mn, max(c) AS mx, CAST(count(*) AS BIGINT) AS n,
                        quantile_cont(c, 0.5) AS ex50, quantile_cont(c, 0.9) AS ex90,
                        quantile_cont(c, 0.99) AS ex99
                 FROM base),
         binned AS (SELECT (c - mn) * 256 // (mx - mn + 1) AS bin,
                           CAST(count(*) AS BIGINT) AS cnt
                    FROM base CROSS JOIN ext GROUP BY 1),
         cum AS (SELECT bin, cnt,
                        CAST(sum(cnt) OVER (ORDER BY bin ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum
                 FROM binned),
         est AS (SELECT 'p50' AS q, n,
                        CAST(mn AS DOUBLE) +
                        (CAST(bin AS DOUBLE) +
                         CAST(CAST(ceil(0.5 * CAST(n AS DOUBLE)) AS BIGINT) - (cum - cnt) AS DOUBLE) / CAST(cnt AS DOUBLE)) *
                        (CAST(mx - mn + 1 AS DOUBLE) / 256.0) AS est_cents,
                        ex50 AS exact_cents
                 FROM cum CROSS JOIN ext
                 WHERE cum >= CAST(ceil(0.5 * CAST(n AS DOUBLE)) AS BIGINT)
                 ORDER BY bin LIMIT 1),
         est90 AS (SELECT 'p90' AS q, n,
                        CAST(mn AS DOUBLE) +
                        (CAST(bin AS DOUBLE) +
                         CAST(CAST(ceil(0.9 * CAST(n AS DOUBLE)) AS BIGINT) - (cum - cnt) AS DOUBLE) / CAST(cnt AS DOUBLE)) *
                        (CAST(mx - mn + 1 AS DOUBLE) / 256.0) AS est_cents,
                        ex90 AS exact_cents
                 FROM cum CROSS JOIN ext
                 WHERE cum >= CAST(ceil(0.9 * CAST(n AS DOUBLE)) AS BIGINT)
                 ORDER BY bin LIMIT 1),
         est99 AS (SELECT 'p99' AS q, n,
                        CAST(mn AS DOUBLE) +
                        (CAST(bin AS DOUBLE) +
                         CAST(CAST(ceil(0.99 * CAST(n AS DOUBLE)) AS BIGINT) - (cum - cnt) AS DOUBLE) / CAST(cnt AS DOUBLE)) *
                        (CAST(mx - mn + 1 AS DOUBLE) / 256.0) AS est_cents,
                        ex99 AS exact_cents
                 FROM cum CROSS JOIN ext
                 WHERE cum >= CAST(ceil(0.99 * CAST(n AS DOUBLE)) AS BIGINT)
                 ORDER BY bin LIMIT 1),
         u AS (SELECT * FROM est UNION ALL SELECT * FROM est90 UNION ALL SELECT * FROM est99)
         SELECT q, n, est_cents, exact_cents, est_cents - exact_cents AS err_cents
         FROM u ORDER BY q"""),
    QueryDef("q_outlier_ensemble", (s, dir) =>
      Analytics.outlierEnsemble(Tables.events(s, dir)).orderBy("event_type"),
      s"""WITH base AS (SELECT event_type, ${Stages.centsSql("value")} // 100 AS x FROM events),
         m AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n,
                      CAST(sum(x) AS BIGINT) AS sx, CAST(sum(x * x) AS BIGINT) AS sxx
               FROM base GROUP BY 1),
         qr AS (SELECT event_type, quantile_cont(x, 0.25) AS q1, quantile_cont(x, 0.75) AS q3
                FROM base GROUP BY 1),
         md AS (SELECT event_type, quantile_cont(x, 0.5) AS med FROM base GROUP BY 1),
         ma AS (SELECT b.event_type, md.med, quantile_cont(abs(b.x - md.med), 0.5) AS mad
                FROM base b JOIN md ON b.event_type = md.event_type
                GROUP BY 1, 2),
         f AS (SELECT b.event_type,
                      CASE WHEN abs(CAST(x AS DOUBLE) - CAST(sx AS DOUBLE) / CAST(n AS DOUBLE)) >
                             3.0 * sqrt((CAST(sxx AS DOUBLE) -
                                         CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) / CAST(n AS DOUBLE)) /
                                        CAST(n - 1 AS DOUBLE))
                      THEN 1 ELSE 0 END AS fz,
                      CASE WHEN CAST(x AS DOUBLE) < q1 - 1.5 * (q3 - q1)
                             OR CAST(x AS DOUBLE) > q3 + 1.5 * (q3 - q1)
                      THEN 1 ELSE 0 END AS fi,
                      CASE WHEN abs(CAST(x AS DOUBLE) - med) >
                             3.0 * CAST(1.4826 AS DOUBLE) * mad
                      THEN 1 ELSE 0 END AS fm
               FROM base b
               JOIN m ON b.event_type = m.event_type
               JOIN qr ON b.event_type = qr.event_type
               JOIN ma ON b.event_type = ma.event_type)
         SELECT event_type, CAST(count(*) AS BIGINT) AS n,
                CAST(sum(fz) AS BIGINT) AS n_z,
                CAST(sum(fi) AS BIGINT) AS n_iqr,
                CAST(sum(fm) AS BIGINT) AS n_mad,
                CAST(sum(CASE WHEN fz + fi + fm >= 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_any,
                CAST(sum(CASE WHEN fz + fi + fm = 3 THEN 1 ELSE 0 END) AS BIGINT) AS n_all
         FROM f GROUP BY 1 ORDER BY event_type"""),
    QueryDef("q_kcore", (s, dir) =>
      Graph.kcorePeel(Tables.lineitem(s, dir)).orderBy("round"),
      duckKcoreSql(3, 3)),
    QueryDef("q_bm25", (s, dir) =>
      TextAnalysis.bm25TopDocs(Tables.documents(s, dir)).orderBy("term", "rank"),
      """WITH t AS (SELECT doc_id, unnest(string_split_regex(trim(text), '\s+')) AS tok FROM documents),
         tf AS (SELECT doc_id, tok, CAST(count(*) AS BIGINT) AS tfreq FROM t GROUP BY 1, 2),
         dl AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS dl FROM t GROUP BY 1),
         df AS (SELECT tok, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY 1),
         st AS (SELECT CAST(count(*) AS BIGINT) AS n_docs, CAST(sum(dl) AS BIGINT) AS total_len FROM dl),
         terms AS (SELECT tok, df FROM df ORDER BY df DESC, tok ASC LIMIT 3),
         sc AS (SELECT tf.tok, tf.doc_id,
                       (CAST(n_docs - df AS DOUBLE) + 0.5) / (CAST(df AS DOUBLE) + 0.5) *
                       (CAST(tfreq AS DOUBLE) * (CAST(1.2 AS DOUBLE) + 1.0) /
                        (CAST(tfreq AS DOUBLE) + CAST(1.2 AS DOUBLE) *
                         (1.0 - CAST(0.75 AS DOUBLE) + CAST(0.75 AS DOUBLE) * CAST(dl AS DOUBLE) /
                          (CAST(total_len AS DOUBLE) / CAST(n_docs AS DOUBLE))))) AS score
                FROM tf JOIN terms USING (tok) JOIN dl USING (doc_id) CROSS JOIN st),
         r AS (SELECT tok AS term, doc_id, score,
                      CAST(row_number() OVER (PARTITION BY tok
                        ORDER BY score DESC, doc_id ASC) AS BIGINT) AS rank
               FROM sc)
         SELECT term, rank, doc_id, score FROM r WHERE rank <= 5 ORDER BY term, rank"""),
    QueryDef("q_quarantine", (s, dir) =>
      Relational.quarantineRouter(Tables.events(s, dir)).orderBy("reason"),
      """WITH c AS (SELECT CASE WHEN event_id % 13 = 0 THEN NULL
                               WHEN event_id % 11 = 0 THEN concat(props, 'x')
                               ELSE props END AS p
              FROM events),
         r AS (SELECT CASE WHEN p IS NULL THEN 'null_props'
                           WHEN NOT regexp_matches(p, '^\{"k": [0-9]+\}$') THEN 'malformed'
                           ELSE 'ok' END AS reason,
                      CAST(regexp_extract(p, '"k": ([0-9]+)', 1) AS BIGINT) AS k
               FROM c)
         SELECT reason, CAST(count(*) AS BIGINT) AS n_rows,
                CAST(sum(CASE WHEN reason = 'ok' THEN k ELSE 0 END) AS BIGINT) AS k_sum
         FROM r GROUP BY 1 ORDER BY reason"""),
    QueryDef("q_stump", (s, dir) =>
      Analytics.decisionStump(Tables.events(s, dir)).orderBy("split_dollars"),
      s"""WITH grid AS (SELECT ${Stages.centsSql("value")} // 100 AS x,
                       CAST(sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS BIGINT) AS c_click,
                       CAST(sum(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS BIGINT) AS c_error,
                       CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS c_purchase,
                       CAST(sum(CASE WHEN event_type = 'signup' THEN 1 ELSE 0 END) AS BIGINT) AS c_signup,
                       CAST(sum(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS BIGINT) AS c_view
                FROM events GROUP BY 1),
         cum AS (SELECT x,
                        CAST(sum(c_click) OVER wsum AS BIGINT) AS l_click,
                        CAST(sum(c_error) OVER wsum AS BIGINT) AS l_error,
                        CAST(sum(c_purchase) OVER wsum AS BIGINT) AS l_purchase,
                        CAST(sum(c_signup) OVER wsum AS BIGINT) AS l_signup,
                        CAST(sum(c_view) OVER wsum AS BIGINT) AS l_view
                 FROM grid
                 WINDOW wsum AS (ORDER BY x ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
         tot AS (SELECT CAST(sum(c_click) AS BIGINT) AS n_click,
                        CAST(sum(c_error) AS BIGINT) AS n_error,
                        CAST(sum(c_purchase) AS BIGINT) AS n_purchase,
                        CAST(sum(c_signup) AS BIGINT) AS n_signup,
                        CAST(sum(c_view) AS BIGINT) AS n_view
                 FROM grid),
         cand AS (SELECT x AS split_dollars,
                         l_click + l_error + l_purchase + l_signup + l_view AS l_rows,
                         (n_click - l_click) + (n_error - l_error) + (n_purchase - l_purchase) + (n_signup - l_signup) + (n_view - l_view) AS r_rows,
                         l_click * l_click + l_error * l_error + l_purchase * l_purchase + l_signup * l_signup + l_view * l_view AS l_sq,
                         (n_click - l_click) * (n_click - l_click) + (n_error - l_error) * (n_error - l_error) + (n_purchase - l_purchase) * (n_purchase - l_purchase) + (n_signup - l_signup) * (n_signup - l_signup) + (n_view - l_view) * (n_view - l_view) AS r_sq
                  FROM cum CROSS JOIN tot)
         SELECT split_dollars, l_rows, r_rows,
                (CAST(l_rows AS DOUBLE) - CAST(l_sq AS DOUBLE) / CAST(l_rows AS DOUBLE)) +
                (CAST(r_rows AS DOUBLE) - CAST(r_sq AS DOUBLE) / CAST(r_rows AS DOUBLE)) AS gini_cost
         FROM cand WHERE l_rows > 0 AND r_rows > 0
         ORDER BY gini_cost ASC, split_dollars ASC LIMIT 1"""),
    QueryDef("q_cronbach", (s, dir) =>
      Analytics.cronbachAlpha(Tables.events(s, dir)).orderBy("n"),
      s"""WITH items AS (SELECT user_id, CAST(count(*) AS BIGINT) AS x1,
                        CAST(count(DISTINCT ${Stages.duckEpochBucketSql("ts", 86400)}) AS BIGINT) AS x2,
                        CAST(sum(${Stages.centsSql("value")}) AS BIGINT) // 100 AS x3
                 FROM events GROUP BY 1),
         it AS (SELECT x1, x2, x3, x1 + x2 + x3 AS xt FROM items),
         m AS (SELECT CAST(count(*) AS BIGINT) AS n,
                      CAST(sum(x1) AS BIGINT) AS s1, CAST(sum(x1 * x1) AS BIGINT) AS q1,
                      CAST(sum(x2) AS BIGINT) AS s2, CAST(sum(x2 * x2) AS BIGINT) AS q2,
                      CAST(sum(x3) AS BIGINT) AS s3, CAST(sum(x3 * x3) AS BIGINT) AS q3,
                      CAST(sum(xt) AS BIGINT) AS st, CAST(sum(xt * xt) AS BIGINT) AS qt
               FROM it)
         SELECT n,
                (3.0 / 2.0) *
                (1.0 - ((CAST(q1 AS DOUBLE) - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE)) +
                        (CAST(q2 AS DOUBLE) - CAST(s2 AS DOUBLE) * CAST(s2 AS DOUBLE) / CAST(n AS DOUBLE)) +
                        (CAST(q3 AS DOUBLE) - CAST(s3 AS DOUBLE) * CAST(s3 AS DOUBLE) / CAST(n AS DOUBLE))) /
                       nullif(CAST(qt AS DOUBLE) - CAST(st AS DOUBLE) * CAST(st AS DOUBLE) / CAST(n AS DOUBLE), 0.0E0)) AS alpha
         FROM m ORDER BY n"""),
    QueryDef("q_jl_distortion", (s, dir) =>
      Similarity.jlDistortion(Tables.embeddings(s, dir)).orderBy("va", "vb"),
      duckJlSql(8, 10)),
    QueryDef("q_link_predict", (s, dir) =>
      Graph.linkPrediction(Tables.lineitem(s, dir)).orderBy("rank"),
      s"""WITH op AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem),
         e AS (SELECT a.pk AS pa, b.pk AS pb FROM op a JOIN op b ON a.ok = b.ok AND a.pk < b.pk
               GROUP BY 1, 2 HAVING count(*) >= 2),
         adj AS (SELECT pa AS node, pb AS nb FROM e UNION ALL SELECT pb, pa FROM e),
         deg AS (SELECT node, CAST(count(*) AS BIGINT) AS deg FROM adj GROUP BY 1),
         wadj AS (SELECT adj.node, adj.nb FROM adj
                  JOIN deg d ON d.node = adj.nb AND d.deg <= ${Graph.MaxWedgeDegree}),
         cn AS (SELECT x.node AS a, y.node AS b, CAST(count(*) AS BIGINT) AS cn
                FROM wadj x JOIN wadj y ON x.nb = y.nb AND x.node < y.node GROUP BY 1, 2),
         ne AS (SELECT cn.a, cn.b, cn.cn FROM cn LEFT JOIN e ON cn.a = e.pa AND cn.b = e.pb
                WHERE e.pa IS NULL),
         sc AS (SELECT a, b, cn, CAST(cn AS DOUBLE) / CAST(da.deg + db.deg - cn AS DOUBLE) AS jaccard
                FROM ne JOIN deg da ON da.node = ne.a JOIN deg db ON db.node = ne.b),
         r AS (SELECT a, b, cn, jaccard,
                      CAST(row_number() OVER (ORDER BY jaccard DESC, a ASC, b ASC) AS BIGINT) AS rank
               FROM sc)
         SELECT rank, a, b, cn, jaccard FROM r WHERE rank <= 10 ORDER BY rank"""),
    QueryDef("q_wedge_cap_sweep", (s, dir) =>
      Graph.wedgeCapSweep(Tables.lineitem(s, dir)).orderBy("cap"),
      s"""WITH op AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem),
         e0 AS (SELECT a.pk AS pa, b.pk AS pb FROM op a JOIN op b ON a.ok = b.ok AND a.pk < b.pk
                GROUP BY 1, 2 HAVING count(*) >= 2),
         deg AS (SELECT node, count(*) AS deg
                 FROM (SELECT pa AS node FROM e0 UNION ALL SELECT pb FROM e0) GROUP BY 1),
         tot AS (SELECT CAST(sum(deg * (deg - 1) // 2) AS BIGINT) AS wedges_total FROM deg),
         caps AS (SELECT unnest([${Graph.WedgeSweepCaps.mkString(", ")}]) AS cap),
         agg AS (SELECT cap,
                   CAST(sum(CASE WHEN deg > cap THEN 1 ELSE 0 END) AS BIGINT) AS n_centers_over,
                   CAST(sum(CASE WHEN deg > cap THEN deg * (deg - 1) // 2 ELSE 0 END) AS BIGINT) AS wedges_dropped
                 FROM deg CROSS JOIN caps GROUP BY cap)
         SELECT CAST(cap AS BIGINT) AS cap, n_centers_over, wedges_dropped, wedges_total,
                CASE WHEN wedges_total = 0 THEN NULL
                     ELSE CAST(wedges_dropped AS DOUBLE) / CAST(wedges_total AS DOUBLE) END AS drop_frac
         FROM agg CROSS JOIN tot ORDER BY cap"""),
    QueryDef("q_harmonic", (s, dir) =>
      Graph.harmonicTopK(Tables.lineitem(s, dir)).orderBy("seed"),
      """WITH op AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem),
         e0 AS (SELECT a.pk AS pa, b.pk AS pb FROM op a JOIN op b ON a.ok = b.ok AND a.pk < b.pk
                GROUP BY 1, 2 HAVING count(*) >= 2),
         bidir AS (SELECT pa AS src, pb AS dst FROM e0 UNION ALL SELECT pb, pa FROM e0),
         deg AS (SELECT src AS node, count(*) AS deg FROM bidir GROUP BY 1),
         seeds AS (SELECT node AS seed FROM deg ORDER BY deg DESC, node ASC LIMIT 10),
         f1 AS (SELECT DISTINCT s.seed, b.dst AS node FROM seeds s JOIN bidir b ON b.src = s.seed
                WHERE b.dst <> s.seed),
         f2 AS (SELECT DISTINCT f.seed, b.dst AS node FROM f1 f JOIN bidir b ON b.src = f.node
                WHERE b.dst <> f.seed
                  AND NOT EXISTS (SELECT 1 FROM f1 x WHERE x.seed = f.seed AND x.node = b.dst)),
         f3 AS (SELECT DISTINCT f.seed, b.dst AS node FROM f2 f JOIN bidir b ON b.src = f.node
                WHERE b.dst <> f.seed
                  AND NOT EXISTS (SELECT 1 FROM f1 x WHERE x.seed = f.seed AND x.node = b.dst)
                  AND NOT EXISTS (SELECT 1 FROM f2 x WHERE x.seed = f.seed AND x.node = b.dst)),
         u AS (SELECT seed, node, 1 AS hop FROM f1
               UNION ALL SELECT seed, node, 2 FROM f2
               UNION ALL SELECT seed, node, 3 FROM f3)
         SELECT seed,
                CAST(sum(CASE WHEN hop = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n1,
                CAST(sum(CASE WHEN hop = 2 THEN 1 ELSE 0 END) AS BIGINT) AS n2,
                CAST(sum(CASE WHEN hop = 3 THEN 1 ELSE 0 END) AS BIGINT) AS n3,
                CAST(sum(6 // hop) AS BIGINT) AS h6
         FROM u GROUP BY 1 ORDER BY seed"""),
    QueryDef("q_hits", (s, dir) =>
      Graph.hitsTopK(Tables.lineitem(s, dir), Tables.orders(s, dir)).orderBy("rank"),
      """WITH edges AS (SELECT DISTINCT o_custkey AS c, l_partkey AS p
                        FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
         h1r AS (SELECT c, CAST(count(*) * 1000 AS BIGINT) AS raw FROM edges GROUP BY 1),
         h1 AS (SELECT c, CAST(round(CAST(raw AS DOUBLE) * 1000 / CAST((SELECT max(raw) FROM h1r) AS DOUBLE)) AS BIGINT) AS v FROM h1r),
         a1r AS (SELECT p, CAST(sum(v) AS BIGINT) AS raw FROM edges JOIN h1 USING (c) GROUP BY 1),
         a1 AS (SELECT p, CAST(round(CAST(raw AS DOUBLE) * 1000 / CAST((SELECT max(raw) FROM a1r) AS DOUBLE)) AS BIGINT) AS a FROM a1r),
         h2r AS (SELECT c, CAST(sum(a) AS BIGINT) AS raw FROM edges JOIN a1 USING (p) GROUP BY 1),
         h2 AS (SELECT c, CAST(round(CAST(raw AS DOUBLE) * 1000 / CAST((SELECT max(raw) FROM h2r) AS DOUBLE)) AS BIGINT) AS v FROM h2r),
         a2 AS (SELECT p, CAST(sum(v) AS BIGINT) AS auth_raw FROM edges JOIN h2 USING (c) GROUP BY 1),
         r AS (SELECT p AS p_partkey, auth_raw,
                      CAST(row_number() OVER (ORDER BY auth_raw DESC, p ASC) AS BIGINT) AS rank
               FROM a2)
         SELECT rank, p_partkey, auth_raw FROM r WHERE rank <= 20 ORDER BY rank"""),
    QueryDef("q_resource_alloc", (s, dir) =>
      Graph.resourceAllocationTopK(Tables.lineitem(s, dir)).orderBy("rank"),
      s"""WITH op AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem),
         e0 AS (SELECT a.pk AS pa, b.pk AS pb FROM op a JOIN op b ON a.ok = b.ok AND a.pk < b.pk
                GROUP BY 1, 2 HAVING count(*) >= 2),
         adj AS (SELECT pa AS node, pb AS nb FROM e0 UNION ALL SELECT pb, pa FROM e0),
         deg AS (SELECT node, CAST(count(*) AS BIGINT) AS deg FROM adj GROUP BY 1),
         adjq AS (SELECT adj.node, adj.nb, 1000000 // d.deg AS q
                  FROM adj JOIN deg d ON d.node = adj.nb AND d.deg <= ${Graph.MaxWedgeDegree}),
         sc AS (SELECT x.node AS a, y.node AS b, CAST(count(*) AS BIGINT) AS cn,
                       CAST(sum(x.q) AS BIGINT) AS ra_micro
                FROM adjq x JOIN adjq y ON x.nb = y.nb AND x.node < y.node GROUP BY 1, 2),
         ne AS (SELECT sc.a, sc.b, sc.cn, sc.ra_micro FROM sc
                WHERE NOT EXISTS (SELECT 1 FROM e0 WHERE pa = sc.a AND pb = sc.b)),
         r AS (SELECT a, b, cn, ra_micro,
                      CAST(row_number() OVER (ORDER BY ra_micro DESC, a ASC, b ASC) AS BIGINT) AS rank
               FROM ne)
         SELECT rank, a, b, cn, ra_micro FROM r WHERE rank <= 10 ORDER BY rank"""),
    QueryDef("q_holt", (s, dir) =>
      Analytics.holtLinear(Tables.events(s, dir)).orderBy("n_days"),
      s"""WITH RECURSIVE daily AS $duckDailyCents,
         days AS (SELECT y, row_number() OVER (ORDER BY d) AS i FROM daily),
         rec AS (
           SELECT i, y * 4 AS l, CAST(0 AS BIGINT) AS b FROM days WHERE i = 1
           UNION ALL
           SELECT dd.i,
                  (2 * dd.y * 4 + 2 * (rec.l + rec.b)) // 4,
                  ((2 * dd.y * 4 + 2 * (rec.l + rec.b)) // 4 - rec.l + 3 * rec.b) // 4
           FROM rec JOIN days dd ON dd.i = rec.i + 1)
         SELECT CAST((SELECT max(i) FROM days) AS BIGINT) AS n_days,
                l AS level_q, b AS trend_q,
                CAST(l + 7 * b AS DOUBLE) / 400.0 AS forecast7_dollars
         FROM rec WHERE i = (SELECT max(i) FROM days) ORDER BY n_days"""),
    QueryDef("q_hodges_lehmann", (s, dir) =>
      Analytics.hodgesLehmann(Tables.events(s, dir)).orderBy("n_days"),
      s"""WITH d AS $duckDailyCents,
         w AS (SELECT a.y + b.y AS s FROM d a JOIN d b ON a.d <= b.d),
         r AS (SELECT s, row_number() OVER (ORDER BY s) AS r, count(*) OVER () AS m FROM w),
         agg AS (SELECT CAST(max(m) AS BIGINT) AS m_pairs,
                        CAST(sum(CASE WHEN r = (m + 1) // 2 THEN s ELSE CAST(0 AS BIGINT) END) AS BIGINT) AS v1,
                        CAST(sum(CASE WHEN r = (m + 2) // 2 THEN s ELSE CAST(0 AS BIGINT) END) AS BIGINT) AS v2
                 FROM r),
         n AS (SELECT CAST(count(*) AS BIGINT) AS n_days FROM d)
         SELECT n_days, m_pairs, v1 + v2 AS hl_x4,
                CAST(v1 + v2 AS DOUBLE) / 400.0 AS hl_dollars
         FROM agg, n ORDER BY n_days"""),
    QueryDef("q_rs_range", (s, dir) =>
      Analytics.rescaledRange(Tables.events(s, dir)).orderBy("n_days"),
      {
      val rsVar = Stages.cmomSql("sxx", "sx", "sx", Stages.divisorSql("n_days", nonZero = false))
      s"""WITH d AS $duckDailyCents,
         p AS (SELECT y,
                      CAST(row_number() OVER (ORDER BY d) AS BIGINT) AS k,
                      CAST(sum(y) OVER (ORDER BY d ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS pf,
                      CAST(count(*) OVER () AS BIGINT) AS n,
                      CAST(sum(y) OVER () AS BIGINT) AS t
               FROM d),
         z AS (SELECT y, n, t, n * pf - k * t AS z FROM p),
         agg AS (SELECT CAST(max(n) AS BIGINT) AS n_days,
                        greatest(CAST(max(z) AS BIGINT), CAST(0 AS BIGINT))
                          - least(CAST(min(z) AS BIGINT), CAST(0 AS BIGINT)) AS r_scaled,
                        CAST(sum(CAST(y AS HUGEINT) * y) AS HUGEINT) AS sxx,
                        CAST(max(t) AS BIGINT) AS sx
                 FROM z)
         SELECT n_days, r_scaled,
                sqrt($rsVar) AS sigma,
                (CAST(r_scaled AS DOUBLE) / CAST(n_days AS DOUBLE)) / nullif(sqrt($rsVar), 0.0E0) AS rs_stat
         FROM agg ORDER BY n_days"""
      }),
    QueryDef("q_friedman", (s, dir) =>
      Analytics.friedmanPage(Tables.events(s, dir)).orderBy("n_blocks"),
      s"""WITH cells AS (SELECT ${Stages.duckEpochBucketSql("ts", 86400)} AS d, event_type,
                               CAST(sum(${Stages.centsSql("value")}) AS BIGINT) AS y
                        FROM events GROUP BY 1, 2),
         k AS (SELECT CAST(count(DISTINCT event_type) AS BIGINT) AS k_treatments FROM cells),
         complete AS (SELECT c.d, c.event_type, c.y,
                             CAST(count(*) OVER (PARTITION BY c.d) AS BIGINT) AS day_n
                      FROM cells c),
         ranked AS (SELECT d, event_type,
                           CAST(row_number() OVER (PARTITION BY d ORDER BY y ASC, event_type ASC) AS BIGINT) AS rank
                    FROM complete, k WHERE day_n = k_treatments),
         per_t AS (SELECT event_type, CAST(sum(rank) AS BIGINT) AS rj,
                          CAST(count(*) AS BIGINT) AS n_blocks
                   FROM ranked GROUP BY 1),
         idx AS (SELECT rj, n_blocks,
                        CAST(row_number() OVER (ORDER BY event_type ASC) AS BIGINT) AS j
                 FROM per_t)
         SELECT CAST(max(n_blocks) AS BIGINT) AS n_blocks,
                CAST(max(k_treatments) AS BIGINT) AS k_treatments,
                CAST(sum(rj * rj) AS BIGINT) AS sum_r2,
                CAST(12 * sum(rj * rj) AS DOUBLE)
                  / CAST(max(n_blocks) * max(k_treatments) * (max(k_treatments) + 1) AS DOUBLE)
                  - CAST(3 * max(n_blocks) * (max(k_treatments) + 1) AS DOUBLE) AS friedman_stat,
                CAST(sum(j * rj) AS BIGINT) AS page_l
         FROM idx, k ORDER BY n_blocks"""),
    QueryDef("q_isotonic", (s, dir) =>
      Analytics.isotonicDaily(Tables.events(s, dir)).orderBy("day_idx"),
      s"""WITH d AS $duckDailyCents,
         idx AS (SELECT d, y, CAST(row_number() OVER (ORDER BY d) AS BIGINT) AS i,
                        CAST(sum(y) OVER (ORDER BY d ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS p
                 FROM d),
         jk AS (SELECT a.i AS j, b.i AS k,
                       CAST(b.p - (a.p - a.y) AS DOUBLE) / CAST(b.i - a.i + 1 AS DOUBLE) AS avg_jk
                FROM idx a JOIN idx b ON a.i <= b.i),
         inner_ AS (SELECT c.i, c.d, c.y, jk.j, min(jk.avg_jk) AS mn
                    FROM jk JOIN idx c ON jk.j <= c.i AND jk.k >= c.i
                    GROUP BY 1, 2, 3, 4),
         fit AS (SELECT i, d, y, max(mn) AS fitted_cents FROM inner_ GROUP BY 1, 2, 3)
         SELECT i AS day_idx, d AS day_epoch, y AS y_cents, fitted_cents,
                fitted_cents / 100.0 AS fitted_dollars
         FROM fit ORDER BY day_idx"""),
    QueryDef("q_deming", (s, dir) =>
      Analytics.demingDaily(Tables.events(s, dir)).orderBy("n_days"),
      {
      val slope = graft.engine.Analytics.demingSlopeSql
      s"""WITH d AS (SELECT ${Stages.duckEpochBucketSql("ts", 86400)} AS d,
                            CAST(count(*) AS BIGINT) AS x,
                            CAST(sum(${Stages.centsSql("value")}) AS BIGINT) AS y
                     FROM events GROUP BY 1),
          m AS (SELECT CAST(count(*) AS BIGINT) AS n_days,
                       CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
                       CAST(sum(CAST(x AS HUGEINT) * x) AS HUGEINT) AS sxx,
                       CAST(sum(CAST(y AS HUGEINT) * y) AS HUGEINT) AS syy,
                       CAST(sum(CAST(x AS HUGEINT) * y) AS HUGEINT) AS sxy
                FROM d)
          SELECT n_days, $slope AS slope,
                 CAST(sy AS DOUBLE) / CAST(n_days AS DOUBLE)
               - ($slope) * (CAST(sx AS DOUBLE) / CAST(n_days AS DOUBLE)) AS intercept
          FROM m ORDER BY n_days"""
    }),
    QueryDef("q_return_level", (s, dir) =>
      Analytics.gumbelReturnLevel(Tables.events(s, dir)).orderBy("n_blocks"),
      {
      val mean = graft.engine.Analytics.gumbelMeanSql
      val sigma = graft.engine.Analytics.gumbelSigmaSql
      s"""WITH d AS (SELECT ${Stages.duckEpochBucketSql("ts", 86400)} AS d,
                            CAST(max(${Stages.centsSql("value")}) AS BIGINT) AS m
                     FROM events GROUP BY 1),
          a AS (SELECT CAST(count(*) AS BIGINT) AS n_blocks,
                       CAST(sum(m) AS BIGINT) AS sm, CAST(sum(m * m) AS BIGINT) AS smm
                FROM d)
          SELECT n_blocks,
                 $mean / 100.0 AS mean_max_dollars,
                 $sigma / 100.0 AS sigma_max_dollars,
                 ($mean - 0.5772156649015329 * ($sigma * 0.779696801233676)) / 100.0 AS gumbel_mu_dollars,
                 ($sigma * 0.779696801233676) / 100.0 AS gumbel_beta_dollars,
                 (($mean - 0.5772156649015329 * ($sigma * 0.779696801233676))
                  + ($sigma * 0.779696801233676) * 3.3842944934992527) / 100.0 AS return_level30_dollars
          FROM a ORDER BY n_blocks"""
    }),
    QueryDef("q_siegel", (s, dir) =>
      Analytics.siegelSlope(Tables.events(s, dir)).orderBy("n_days"),
      s"""WITH d AS $duckDailyCents,
         idx AS (SELECT y, CAST(row_number() OVER (ORDER BY d) AS BIGINT) AS i FROM d),
         slopes AS (SELECT a.i AS i, CAST(b.y - a.y AS DOUBLE) / CAST(b.i - a.i AS DOUBLE) AS s
                    FROM idx a JOIN idx b ON a.i <> b.i),
         inner_ AS (SELECT i, s AS med FROM (
                      SELECT i, s, row_number() OVER (PARTITION BY i ORDER BY s ASC) AS r,
                             count(*) OVER (PARTITION BY i) AS c
                      FROM slopes) WHERE r = (c + 1) // 2),
         outer_ AS (SELECT med AS slope FROM (
                      SELECT med, row_number() OVER (ORDER BY med ASC) AS r, count(*) OVER () AS c
                      FROM inner_) WHERE r = (c + 1) // 2),
         resid AS (SELECT slope, CAST(y AS DOUBLE) - slope * CAST(i AS DOUBLE) AS res
                   FROM idx, outer_),
         ic AS (SELECT slope, res FROM (
                  SELECT slope, res, row_number() OVER (ORDER BY res ASC) AS r, count(*) OVER () AS c
                  FROM resid) WHERE r = (c + 1) // 2),
         n AS (SELECT CAST(count(*) AS BIGINT) AS n_days FROM d)
         SELECT n_days, slope, res AS intercept FROM ic, n ORDER BY n_days"""),
    QueryDef("q_median_polish", (s, dir) =>
      Analytics.medianPolish(Tables.events(s, dir)).orderBy("component", "key"),
      s"""WITH cells AS (SELECT ${Stages.duckEpochBucketSql("ts", 86400)} % 7 AS i,
                               ${Stages.duckEpochBucketSql("ts", 86400)} // 7 AS j,
                               CAST(sum(${Stages.centsSql("value")}) AS BIGINT) AS r,
                               CAST(0 AS BIGINT) AS a, CAST(0 AS BIGINT) AS b
                        FROM events GROUP BY 1, 2),
         s1 AS (SELECT i, j, r - m AS r, a + m AS a, b FROM (
                  SELECT i, j, r, a, b,
                         list_sort(list(r) OVER (PARTITION BY i))[(count(*) OVER (PARTITION BY i) + 1) // 2] AS m
                  FROM cells)),
         s2 AS (SELECT i, j, r - m AS r, a, b + m AS b FROM (
                  SELECT i, j, r, a, b,
                         list_sort(list(r) OVER (PARTITION BY j))[(count(*) OVER (PARTITION BY j) + 1) // 2] AS m
                  FROM s1)),
         s3 AS (SELECT i, j, r - m AS r, a + m AS a, b FROM (
                  SELECT i, j, r, a, b,
                         list_sort(list(r) OVER (PARTITION BY i))[(count(*) OVER (PARTITION BY i) + 1) // 2] AS m
                  FROM s2)),
         s4 AS (SELECT i, j, r - m AS r, a, b + m AS b FROM (
                  SELECT i, j, r, a, b,
                         list_sort(list(r) OVER (PARTITION BY j))[(count(*) OVER (PARTITION BY j) + 1) // 2] AS m
                  FROM s3)),
         re AS (SELECT 'row_dow' AS component, i AS key, CAST(max(a) AS BIGINT) AS effect_cents FROM s4 GROUP BY 2),
         ce AS (SELECT 'col_week' AS component, j AS key, CAST(max(b) AS BIGINT) AS effect_cents FROM s4 GROUP BY 2)
         SELECT component, key, effect_cents,
                CAST(effect_cents AS DOUBLE) / 100.0 AS effect_dollars
         FROM (SELECT * FROM re UNION ALL SELECT * FROM ce)
         ORDER BY component, key"""),
    QueryDef("q_hampel", (s, dir) =>
      Analytics.hampelFilter(Tables.events(s, dir)).orderBy("day_epoch"),
      s"""WITH d AS $duckDailyCents,
         h AS (SELECT d, y,
                      list_sort(list(y) OVER (ORDER BY d ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)) AS arr
               FROM d),
         m AS (SELECT d, y, arr[(len(arr) + 1) // 2] AS med7,
                      list_sort(list_transform(arr, x -> abs(x - arr[(len(arr) + 1) // 2]))) AS devs
               FROM h),
         f AS (SELECT d AS day_epoch, y AS y_cents, med7,
                      devs[(len(devs) + 1) // 2] AS mad7
               FROM m)
         SELECT day_epoch, y_cents, med7, mad7,
                abs(y_cents - med7) > 3 * mad7 AS is_outlier
         FROM f ORDER BY day_epoch"""),
    QueryDef("q_grubbs", (s, dir) =>
      Analytics.grubbsOutlier(Tables.events(s, dir)).orderBy("n_days"),
      s"""WITH d AS $duckDailyCents,
         mo AS (SELECT CAST(count(*) AS BIGINT) AS n_days, CAST(sum(y) AS BIGINT) AS sx,
                       CAST(sum(CAST(y AS HUGEINT) * y) AS HUGEINT) AS sxx
                FROM d),
         dev AS (SELECT d, y, n_days, sx, sxx,
                        abs(CAST(y AS DOUBLE) - CAST(sx AS DOUBLE) / CAST(n_days AS DOUBLE)) AS dev
                 FROM d, mo),
         top AS (SELECT * FROM dev ORDER BY dev DESC, d ASC LIMIT 1)
         SELECT n_days, d AS day_epoch, y AS y_cents, dev AS abs_dev,
                ${Analytics.grubbsGSql} AS grubbs_g
         FROM top ORDER BY n_days"""),
    QueryDef("q_adf", (s, dir) =>
      Analytics.dickeyFuller(Tables.events(s, dir)).orderBy("n_pairs"),
      {
      val cxx = Stages.cmomSql("sxx", "sx", "sx")
      val cxy = Stages.cmomSql("sxy", "sx", "sy")
      val cyy = Stages.cmomSql("syy", "sy", "sy")
      val gamma = s"($cxy / nullif($cxx, 0.0E0))"
      s"""WITH d AS $duckDailyCents,
          p AS (SELECT a.y AS l, b.y - a.y AS dy FROM d a JOIN d b ON b.d = a.d + 1),
          m AS (SELECT CAST(count(*) AS BIGINT) AS n, CAST(sum(l) AS BIGINT) AS sx,
                       CAST(sum(dy) AS BIGINT) AS sy, CAST(sum(l * l) AS BIGINT) AS sxx,
                       CAST(sum(l * dy) AS BIGINT) AS sxy, CAST(sum(dy * dy) AS BIGINT) AS syy
                FROM p)
          SELECT n AS n_pairs, $gamma AS gamma,
                 $gamma / sqrt((($cyy - $gamma * $cxy) * CAST(n AS DOUBLE) / CAST(n - 2 AS DOUBLE))
              / nullif(CAST(n AS DOUBLE) * $cxx, 0.0E0)) AS t_stat
          FROM m ORDER BY n_pairs"""
    }),
    QueryDef("q_granger", (s, dir) =>
      Analytics.grangerF(Tables.events(s, dir)).orderBy("n_triples"),
      {
      val cll = Stages.cmomSql("sll", "sl", "sl")
      val clx = Stages.cmomSql("slx", "sl", "sx")
      val cxx = Stages.cmomSql("sxx", "sx", "sx")
      val cly = Stages.cmomSql("sly", "sl", "sy")
      val cxy = Stages.cmomSql("sxy", "sx", "sy")
      val cyy = Stages.cmomSql("syy", "sy", "sy")
      val det = s"($cll * $cxx - $clx * $clx)"
      val b1 = s"(($cly * $cxx - $cxy * $clx) / nullif($det, 0.0E0))"
      val b2 = s"(($cll * $cxy - $clx * $cly) / nullif($det, 0.0E0))"
      val rssU = s"($cyy - $b1 * $cly - $b2 * $cxy)"
      val rssR = s"($cyy - $cly * $cly / nullif($cll, 0.0E0))"
      s"""WITH d AS (SELECT ${Stages.duckEpochBucketSql("ts", 86400)} AS d,
                            CAST(sum(CASE WHEN event_type = 'purchase' THEN ${Stages.centsSql("value")} ELSE CAST(0 AS BIGINT) END) AS BIGINT) AS y,
                            CAST(sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS BIGINT) AS x
                     FROM events GROUP BY 1),
          t AS (SELECT a.y AS l, a.x AS xl, b.y AS cur FROM d a JOIN d b ON b.d = a.d + 1),
          m AS (SELECT CAST(count(*) AS BIGINT) AS n, CAST(sum(l) AS BIGINT) AS sl,
                       CAST(sum(xl) AS BIGINT) AS sx, CAST(sum(cur) AS BIGINT) AS sy,
                       CAST(sum(l * l) AS BIGINT) AS sll, CAST(sum(l * xl) AS BIGINT) AS slx,
                       CAST(sum(xl * xl) AS BIGINT) AS sxx, CAST(sum(l * cur) AS BIGINT) AS sly,
                       CAST(sum(xl * cur) AS BIGINT) AS sxy, CAST(sum(cur * cur) AS BIGINT) AS syy
                FROM t)
          SELECT n AS n_triples, $b1 AS b_lag, $b2 AS b_click,
                 $rssU AS rss_u_over_n, $rssR AS rss_r_over_n,
                 (($rssR - $rssU) * CAST(n - 3 AS DOUBLE)) / nullif($rssU, 0.0E0) AS f_stat
          FROM m ORDER BY n_triples"""
    }),
    QueryDef("q_mediation", (s, dir) =>
      Analytics.mediation(Tables.events(s, dir)).orderBy("n_days"),
      {
      val cxx = Stages.cmomSql("sxx", "sx", "sx")
      val cxm = Stages.cmomSql("sxm", "sx", "sm")
      val cmm = Stages.cmomSql("smm", "sm", "sm")
      val cxy = Stages.cmomSql("sxy", "sx", "sy")
      val cmy = Stages.cmomSql("smy", "sm", "sy")
      val aPath = s"($cxm / nullif($cxx, 0.0E0))"
      val total = s"($cxy / nullif($cxx, 0.0E0))"
      val det = s"($cxx * $cmm - $cxm * $cxm)"
      val direct = s"(($cxy * $cmm - $cmy * $cxm) / nullif($det, 0.0E0))"
      val bPath = s"(($cxx * $cmy - $cxm * $cxy) / nullif($det, 0.0E0))"
      s"""WITH d AS (SELECT ${Stages.duckEpochBucketSql("ts", 86400)} AS d,
                            CAST(sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS BIGINT) AS x,
                            CAST(sum(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS BIGINT) AS m,
                            CAST(sum(CASE WHEN event_type = 'purchase' THEN ${Stages.centsSql("value")} ELSE CAST(0 AS BIGINT) END) AS BIGINT) AS y
                     FROM events GROUP BY 1),
          mo AS (SELECT CAST(count(*) AS BIGINT) AS n, CAST(sum(x) AS BIGINT) AS sx,
                        CAST(sum(m) AS BIGINT) AS sm, CAST(sum(y) AS BIGINT) AS sy,
                        CAST(sum(x * x) AS BIGINT) AS sxx, CAST(sum(x * m) AS BIGINT) AS sxm,
                        CAST(sum(m * m) AS BIGINT) AS smm, CAST(sum(x * y) AS BIGINT) AS sxy,
                        CAST(sum(m * y) AS BIGINT) AS smy
                 FROM d)
          SELECT n AS n_days, $aPath AS a_path, $bPath AS b_path,
                 $total AS total_effect, $direct AS direct_effect,
                 ($aPath * $bPath) AS indirect_effect
          FROM mo ORDER BY n_days"""
    }),
    QueryDef("q_label_prop", (s, dir) =>
      Graph.labelPropagation(Tables.lineitem(s, dir)).orderBy("community"),
      """WITH op AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem),
         e AS (SELECT a.pk AS pa, b.pk AS pb FROM op a JOIN op b ON a.ok = b.ok AND a.pk < b.pk
               GROUP BY 1, 2 HAVING count(*) >= 2),
         sym AS (SELECT pa, pb FROM e UNION ALL SELECT pb AS pa, pa AS pb FROM e),
         l0 AS (SELECT DISTINCT pa AS v FROM sym),
         l0l AS (SELECT v, v AS lbl FROM l0),
         v1 AS (SELECT s.pa AS v, l.lbl FROM sym s JOIN l0l l ON l.v = s.pb
                UNION ALL SELECT v, lbl FROM l0l),
         c1 AS (SELECT v, lbl, count(*) AS n FROM v1 GROUP BY 1, 2),
         l1 AS (SELECT v, lbl FROM (
                  SELECT v, lbl, row_number() OVER (PARTITION BY v ORDER BY n DESC, lbl ASC) AS rk
                  FROM c1) WHERE rk = 1),
         v2 AS (SELECT s.pa AS v, l.lbl FROM sym s JOIN l1 l ON l.v = s.pb
                UNION ALL SELECT v, lbl FROM l1),
         c2 AS (SELECT v, lbl, count(*) AS n FROM v2 GROUP BY 1, 2),
         l2 AS (SELECT v, lbl FROM (
                  SELECT v, lbl, row_number() OVER (PARTITION BY v ORDER BY n DESC, lbl ASC) AS rk
                  FROM c2) WHERE rk = 1)
         SELECT lbl AS community, CAST(count(*) AS BIGINT) AS n_members
         FROM l2 GROUP BY 1 ORDER BY community"""),
    QueryDef("q_lis", (s, dir) =>
      Analytics.monotoneSubseq(Tables.events(s, dir)).orderBy("n_days"),
      s"""WITH RECURSIVE d AS $duckDailyCents,
         days AS (SELECT y, CAST(row_number() OVER (ORDER BY d) AS BIGINT) AS i FROM d),
         rec AS (
           SELECT i, [struct_pack(y := y, li := CAST(1 AS BIGINT), ld := CAST(1 AS BIGINT))] AS st
           FROM days WHERE i = 1
           UNION ALL
           SELECT dd.i, list_append(rec.st, struct_pack(
                    y := dd.y,
                    li := CAST(1 AS BIGINT) + coalesce(list_max([s.li for s in rec.st if s.y < dd.y]), CAST(0 AS BIGINT)),
                    ld := CAST(1 AS BIGINT) + coalesce(list_max([s.ld for s in rec.st if s.y > dd.y]), CAST(0 AS BIGINT))))
           FROM rec JOIN days dd ON dd.i = rec.i + 1)
         SELECT CAST((SELECT max(i) FROM days) AS BIGINT) AS n_days,
                CAST(list_max([s.li for s in st]) AS BIGINT) AS lis_len,
                CAST(list_max([s.ld for s in st]) AS BIGINT) AS lds_len
         FROM rec WHERE i = (SELECT max(i) FROM days) ORDER BY n_days"""),
    QueryDef("q_robust_scale", (s, dir) =>
      TextAnalysis.robustScale(Tables.documents(s, dir)).orderBy("doc_id"),
      """WITH r AS (SELECT doc_id, source, n_chars,
                           CAST(row_number() OVER (PARTITION BY source ORDER BY n_chars ASC, doc_id ASC) AS BIGINT) AS r,
                           CAST(count(*) OVER (PARTITION BY source) AS BIGINT) AS n
                    FROM documents),
         s AS (SELECT source,
                      CAST(sum(CASE WHEN r = (n + 1) // 2 THEN n_chars ELSE CAST(0 AS BIGINT) END) AS BIGINT) AS med,
                      CAST(sum(CASE WHEN r = (n + 3) // 4 THEN n_chars ELSE CAST(0 AS BIGINT) END) AS BIGINT) AS q1,
                      CAST(sum(CASE WHEN r = (3 * n + 1) // 4 THEN n_chars ELSE CAST(0 AS BIGINT) END) AS BIGINT) AS q3
               FROM r GROUP BY 1)
         SELECT d.doc_id, d.source, d.n_chars, med, q3 - q1 AS iqr,
                CASE WHEN q3 - q1 = 0 THEN NULL
                     ELSE CAST(d.n_chars - med AS DOUBLE) / CAST(q3 - q1 AS DOUBLE) END AS scaled
         FROM documents d JOIN s ON d.source = s.source ORDER BY doc_id"""),
    QueryDef("q_jonckheere", (s, dir) =>
      Inference.jonckheereTerpstra(
        Tables.events(s, dir), Seq("click", "error", "purchase", "signup", "view"))
        .orderBy("n_total"),
      {
      val types = Seq("click", "error", "purchase", "signup", "view")
      val k = types.length
      val cs = types.zipWithIndex
        .map { case (t, i) =>
          s"CAST(sum(CASE WHEN event_type = '$t' THEN 1 ELSE 0 END) AS BIGINT) AS c$i"
        }
        .mkString(",\n                  ")
      val cums = (0 until k)
        .map(i =>
          s"coalesce(sum(c$i) OVER (ORDER BY x ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), CAST(0 AS BIGINT)) AS cum$i")
        .mkString(",\n                  ")
      val rowTerm = (for { i <- 0 until k; j <- i + 1 until k }
        yield s"2 * cum$i * c$j + c$i * c$j").mkString(" + ")
      val ns = (0 until k).map(i => s"CAST(sum(c$i) AS BIGINT) AS n$i").mkString(", ")
      val nTotal = (0 until k).map(i => s"n$i").mkString(" + ")
      val sumSq = (0 until k).map(i => s"n$i * n$i").mkString(" + ")
      // variance cubics in DOUBLE, same text as the engine (BIGINT
      // n²(2n+3) wraps at n ≈ 1.66e6 rows)
      val sumSq23 = (0 until k)
        .map(i => s"CAST(n$i AS DOUBLE) * CAST(n$i AS DOUBLE) * (2.0 * CAST(n$i AS DOUBLE) + 3.0)")
        .mkString(" + ")
      s"""WITH g AS (SELECT ${Stages.centsSql("value")} AS x,
                  $cs
           FROM events WHERE event_type IN (${types.map(t => s"'$t'").mkString(", ")})
           GROUP BY 1),
          w AS (SELECT *, $cums FROM g),
          a AS (SELECT CAST(sum($rowTerm) AS BIGINT) AS jt2, $ns FROM w),
          b AS (SELECT jt2, $nTotal AS n_total, $sumSq AS sum_sq, $sumSq23 AS sum_sq23 FROM a)
          SELECT n_total, jt2, (n_total * n_total - sum_sq) // 2 AS e2,
                 CAST(jt2 - (n_total * n_total - sum_sq) // 2 AS DOUBLE)
                   / nullif(2.0 * sqrt((CAST(n_total AS DOUBLE) * CAST(n_total AS DOUBLE)
                                  * (2.0 * CAST(n_total AS DOUBLE) + 3.0) - sum_sq23) / 72.0), 0.0E0) AS z
          FROM b ORDER BY n_total"""
    }),
    QueryDef("q_cliffs_delta", (s, dir) =>
      Inference.cliffsDelta(Tables.events(s, dir), "purchase", "click").orderBy("na"),
      s"""WITH g AS (SELECT ${Stages.centsSql("value")} AS x,
                           CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS a,
                           CAST(sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS BIGINT) AS b
                    FROM events WHERE event_type IN ('purchase', 'click') GROUP BY 1),
         w AS (SELECT a, b,
                      coalesce(sum(b) OVER (ORDER BY x ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), CAST(0 AS BIGINT)) AS cb,
                      coalesce(sum(a) OVER (ORDER BY x ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), CAST(0 AS BIGINT)) AS ca
               FROM g),
         m AS (SELECT CAST(sum(a) AS BIGINT) AS na, CAST(sum(b) AS BIGINT) AS nb,
                      CAST(sum(a * cb) AS BIGINT) AS gt, CAST(sum(b * ca) AS BIGINT) AS lt
               FROM w)
         SELECT na, nb, gt, lt,
                CAST(gt - lt AS DOUBLE) / (CAST(na AS DOUBLE) * CAST(nb AS DOUBLE)) AS delta,
                CASE WHEN abs(CAST(gt - lt AS DOUBLE) / (CAST(na AS DOUBLE) * CAST(nb AS DOUBLE))) < 0.147 THEN 'negligible'
                     WHEN abs(CAST(gt - lt AS DOUBLE) / (CAST(na AS DOUBLE) * CAST(nb AS DOUBLE))) < 0.33 THEN 'small'
                     WHEN abs(CAST(gt - lt AS DOUBLE) / (CAST(na AS DOUBLE) * CAST(nb AS DOUBLE))) < 0.474 THEN 'medium'
                     ELSE 'large' END AS magnitude
         FROM m ORDER BY na"""),
    QueryDef("q_seasonal_mk", (s, dir) =>
      Analytics.seasonalMannKendall(Tables.events(s, dir)).orderBy("n_days"),
      s"""WITH d AS (SELECT ${Stages.duckEpochBucketSql("ts", 86400)} AS d,
                           CAST(sum(${Stages.centsSql("value")}) AS BIGINT) AS x
                    FROM events GROUP BY 1),
         dg AS (SELECT d, x, d % 7 AS g FROM d),
         s AS (SELECT coalesce(CAST(sum(CAST(sign(j.x - i.x) AS BIGINT)) AS BIGINT), CAST(0 AS BIGINT)) AS s_stat
               FROM dg i JOIN dg j ON i.g = j.g AND i.d < j.d),
         ties AS (SELECT g, x, CAST(count(*) AS BIGINT) AS t FROM dg GROUP BY 1, 2),
         per_g AS (SELECT g, CAST(sum(t) AS BIGINT) AS n_g,
                          CAST(sum(t * (t - 1) * (2 * t + 5)) AS BIGINT) AS tie_g
                   FROM ties GROUP BY 1),
         v AS (SELECT CAST(count(*) AS BIGINT) AS n_seasons, CAST(sum(n_g) AS BIGINT) AS n_days,
                      CAST(sum(n_g * (n_g - 1) * (2 * n_g + 5) - tie_g) AS BIGINT) AS var18
               FROM per_g)
         SELECT n_days, n_seasons, s_stat,
                CASE WHEN s_stat > 0 THEN CAST(s_stat - 1 AS DOUBLE)
                     WHEN s_stat < 0 THEN CAST(s_stat + 1 AS DOUBLE)
                     ELSE 0.0 END / nullif(sqrt(CAST(var18 AS DOUBLE) / 18.0), 0.0E0) AS z
         FROM s, v ORDER BY n_days"""),
    QueryDef("q_ansari", (s, dir) =>
      Inference.ansariBradley(Tables.events(s, dir), "purchase", "click").orderBy("na"),
      {
      val score = graft.engine.Inference.abScoreRangeSql("lo", "hi")
        .replace(" div ", " // ")
      // Exact wide-integer quotient/remainder split of the midrank sums
      // (HUGEINT here, DECIMAL(38,0) on the Spark side) — shared term
      // text via Inference.abSplitTermsSql, so both engines floor the
      // same per-block integers and the reassembled doubles are
      // bit-identical (no partition-order float-sum noise).
      val terms = graft.engine.Inference.abSplitTermsSql("HUGEINT")
        .map(_.replace(" div ", " // ")).mkString(",\n                       ")
      val reassemble = graft.engine.Inference.abReassembleSql.mkString(",\n                      ")
      s"""WITH g AS (SELECT ${Stages.centsSql("value")} AS x,
                            CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS a,
                            CAST(sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS BIGINT) AS b
                     FROM events WHERE event_type IN ('purchase', 'click') GROUP BY 1),
          t AS (SELECT CAST(sum(a) + sum(b) AS BIGINT) AS nn FROM g),
          w AS (SELECT a, b, nn, a + b AS cnt,
                       coalesce(sum(a + b) OVER (ORDER BY x ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), CAST(0 AS BIGINT)) AS p
                FROM g, t),
          sc AS (SELECT a, b, nn, cnt, p + 1 AS lo, p + cnt AS hi FROM w),
          s2 AS (SELECT a, b, nn, cnt, $score AS s_blk FROM sc),
          s3 AS (SELECT *, $terms FROM s2),
          m0 AS (SELECT CAST(sum(a) AS BIGINT) AS na, CAST(sum(b) AS BIGINT) AS nb,
                       CAST(max(nn) AS BIGINT) AS nn, CAST(sum(s_blk) AS BIGINT) AS s_tot,
                       CAST(sum(CAST(ab_i AS HUGEINT)) AS HUGEINT) AS ab_is,
                       CAST(sum(CAST(ab_f AS HUGEINT)) AS HUGEINT) AS ab_fs,
                       CAST(sum(ss2_i) AS HUGEINT) AS ss2_is,
                       CAST(sum(CAST(ss2_f AS HUGEINT)) AS HUGEINT) AS ss2_fs
                FROM s3),
          m AS (SELECT na, nb, nn, s_tot,
                      $reassemble
                FROM m0)
          SELECT na, nb, ab_stat,
                 CAST(na AS DOUBLE) * CAST(s_tot AS DOUBLE) / CAST(nn AS DOUBLE) AS e_ab,
                 ab_stat - CAST(na AS DOUBLE) * CAST(s_tot AS DOUBLE) / CAST(nn AS DOUBLE) AS dev_ab,
                 (ab_stat - CAST(na AS DOUBLE) * CAST(s_tot AS DOUBLE) / CAST(nn AS DOUBLE)) /
                 sqrt(CAST(na AS DOUBLE) * CAST(nb AS DOUBLE)
                      * (CAST(nn AS DOUBLE) * ss2 - CAST(s_tot AS DOUBLE) * CAST(s_tot AS DOUBLE))
                      / (CAST(nn AS DOUBLE) * CAST(nn AS DOUBLE) * CAST(nn - 1 AS DOUBLE))) AS z
          FROM m ORDER BY na"""
    }),
    QueryDef("q_ordinal_assoc", (s, dir) =>
      Inference.ordinalAssociation(Tables.lineitem(s, dir)).orderBy("n_rows"),
      s"""WITH cells AS (SELECT ${Stages.lineitemQtySql} AS q,
                               ${Stages.centsSql("l_extendedprice")} // 100000 AS p,
                               CAST(count(*) AS BIGINT) AS n
                        FROM lineitem GROUP BY 1, 2),
         pc AS (SELECT CAST(sum(CASE WHEN c2.q > c1.q AND c2.p > c1.p THEN c1.n * c2.n ELSE 0 END) AS BIGINT) AS conc,
                       CAST(sum(CASE WHEN c2.q > c1.q AND c2.p < c1.p THEN c1.n * c2.n ELSE 0 END) AS BIGINT) AS disc,
                       CAST(sum(CASE WHEN c2.q = c1.q AND c2.p > c1.p THEN c1.n * c2.n ELSE 0 END) AS BIGINT) AS tie_x,
                       CAST(sum(CASE WHEN c2.p = c1.p AND c2.q > c1.q THEN c1.n * c2.n ELSE 0 END) AS BIGINT) AS tie_y
                FROM cells c1, cells c2),
         t AS (SELECT CAST(sum(n) AS BIGINT) AS n_rows,
                      CAST(sum((n * (n - 1)) // 2) AS BIGINT) AS tie_xy
               FROM cells)
         SELECT n_rows, conc, disc, tie_x, tie_y, tie_xy,
                CAST(conc - disc AS DOUBLE) / nullif(CAST(conc + disc AS DOUBLE), 0.0E0) AS gamma,
                CAST(conc - disc AS DOUBLE) / nullif(CAST(conc + disc + tie_y AS DOUBLE), 0.0E0) AS somers_d_yx,
                CAST(conc - disc AS DOUBLE) / nullif(CAST((n_rows * (n_rows - 1)) // 2 AS DOUBLE), 0.0E0) AS tau_a
         FROM pc, t ORDER BY n_rows"""),
    QueryDef("q_white", (s, dir) =>
      Analytics.whiteTest(Tables.events(s, dir)).orderBy("n_days"),
      {
      val cxx = Stages.cmomSql("sxx", "sx", "sx")
      val cxy = Stages.cmomSql("sxy", "sx", "sy")
      val bTxt = s"($cxy / nullif($cxx, 0.0E0))"
      val aTxt =
        s"(CAST(sy AS DOUBLE) / CAST(n AS DOUBLE) - $bTxt * (CAST(sx AS DOUBLE) / CAST(n AS DOUBLE)))"
      val eTxt = s"(CAST(y AS DOUBLE) - ($aTxt + $bTxt * CAST(i AS DOUBLE)))"
      val cuu = Stages.cmomSql("suu", "su", "su")
      val cuv = Stages.cmomSql("suv", "su", "sv")
      val cvv = Stages.cmomSql("svv", "sv", "sv")
      val cuw = Stages.cmomSql("suw", "su", "sw")
      val cvw = Stages.cmomSql("svw", "sv", "sw")
      val cww = Stages.cmomSql("sww", "sw", "sw")
      val det = s"($cuu * $cvv - $cuv * $cuv)"
      val b1 = s"(($cuw * $cvv - $cvw * $cuv) / nullif($det, 0.0E0))"
      val b2 = s"(($cuu * $cvw - $cuv * $cuw) / nullif($det, 0.0E0))"
      val r2 = s"(($b1 * $cuw + $b2 * $cvw) / nullif($cww, 0.0E0))"
      s"""WITH d0 AS $duckDailyCents,
          d AS (SELECT y, CAST(row_number() OVER (ORDER BY d) AS BIGINT) AS i FROM d0),
          f AS (SELECT CAST(count(*) AS BIGINT) AS n, CAST(sum(i) AS BIGINT) AS sx,
                       CAST(sum(y) AS BIGINT) AS sy, CAST(sum(i * i) AS BIGINT) AS sxx,
                       CAST(sum(i * y) AS BIGINT) AS sxy
                FROM d),
          r AS (SELECT i, CAST(round(($eTxt * $eTxt) / 1000000000.0) AS BIGINT) AS w
                FROM d, f),
          m AS (SELECT CAST(count(*) AS BIGINT) AS n, CAST(sum(i) AS BIGINT) AS su,
                       CAST(sum(i * i) AS BIGINT) AS sv, CAST(sum(w) AS BIGINT) AS sw,
                       CAST(sum(i * i) AS BIGINT) AS suu, CAST(sum(i * i * i) AS BIGINT) AS suv,
                       CAST(sum(i * i * i * i) AS BIGINT) AS svv, CAST(sum(i * w) AS BIGINT) AS suw,
                       CAST(sum(i * i * w) AS BIGINT) AS svw, CAST(sum(w * w) AS BIGINT) AS sww
                FROM r)
          SELECT n AS n_days, $r2 AS r2_aux, CAST(n AS DOUBLE) * $r2 AS white_stat
          FROM m ORDER BY n_days"""
    }),
    QueryDef("q_ivf_balance", (s, dir) =>
      Similarity.ivfBalance(Tables.embeddings(s, dir)).orderBy("cell"),
      {
      val dists = duckIvfDists(8)
      s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
          e2 AS (SELECT vec_id, v, list_dot_product(v, v) AS vv FROM e),
          d AS (SELECT vec_id, v, $dists AS dists FROM e2),
          b AS (SELECT CAST(list_position(dists, list_min(dists)) - 1 AS BIGINT) AS cell FROM d),
          g AS (SELECT cell, CAST(count(*) AS BIGINT) AS n_vecs FROM b GROUP BY 1),
          t AS (SELECT CAST(sum(n_vecs) AS BIGINT) AS n_total FROM g)
          SELECT cell, n_vecs, n_total,
                 CAST(n_vecs * 8 AS DOUBLE) / CAST(n_total AS DOUBLE) AS load_factor
          FROM g, t ORDER BY cell"""
    }),
    QueryDef("q_ivf_distortion", (s, dir) =>
      Similarity.ivfDistortion(Tables.embeddings(s, dir)).orderBy("n_vecs"),
      {
      val dists = duckIvfDists(8)
      s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
          e2 AS (SELECT vec_id, v, list_dot_product(v, v) AS vv FROM e),
          d AS (SELECT vec_id, v, $dists AS dists FROM e2),
          m AS (SELECT CAST(round(list_min(dists) * 1000000.0) AS BIGINT) AS dq FROM d),
          a AS (SELECT CAST(count(*) AS BIGINT) AS n_vecs, CAST(sum(dq) AS BIGINT) AS total_micro,
                       CAST(max(dq) AS BIGINT) AS max_micro
                FROM m)
          SELECT n_vecs, total_micro, max_micro,
                 (CAST(total_micro AS DOUBLE) / CAST(n_vecs AS DOUBLE)) / 1000000.0 AS mean_distortion
          FROM a ORDER BY n_vecs"""
    }),
    QueryDef("q_embed_norms", (s, dir) =>
      Similarity.embeddingNorms(Tables.embeddings(s, dir)).orderBy("bucket"),
      """WITH e AS (SELECT embedding::DOUBLE[] AS v FROM embeddings),
         n AS (SELECT list_dot_product(v, v) AS nsq FROM e),
         b AS (SELECT CAST(floor(nsq * 2.0) AS BIGINT) AS bucket,
                      CASE WHEN nsq = 0.0 THEN 1 ELSE 0 END AS z
               FROM n)
         SELECT bucket, CAST(bucket AS DOUBLE) / 2.0 AS norm_sq_lo,
                CAST(count(*) AS BIGINT) AS n_vecs, CAST(sum(z) AS BIGINT) AS n_zero
         FROM b GROUP BY 1 ORDER BY bucket"""),
    QueryDef("q_turning_points", (s, dir) =>
      Analytics.turningPoints(Tables.events(s, dir)).orderBy("n_days"),
      s"""WITH d AS $duckDailyCents,
         w AS (SELECT y, lag(y, 1) OVER (ORDER BY d) AS pv, lead(y, 1) OVER (ORDER BY d) AS nx FROM d),
         a AS (SELECT CAST(count(*) AS BIGINT) AS n_days,
                      CAST(sum(CASE WHEN pv IS NOT NULL AND nx IS NOT NULL
                                     AND (y - pv) * (nx - y) < 0 THEN 1 ELSE 0 END) AS BIGINT) AS t_stat
               FROM w)
         SELECT n_days, t_stat,
                CAST(2 * (n_days - 2) AS DOUBLE) / 3.0 AS e_t,
                CASE WHEN 16 * n_days - 29 > 0 THEN
                  (CAST(t_stat AS DOUBLE) - CAST(2 * (n_days - 2) AS DOUBLE) / 3.0)
                  / sqrt(CAST(16 * n_days - 29 AS DOUBLE) / 90.0) END AS z
         FROM a ORDER BY n_days"""),
    QueryDef("q_periodogram7", (s, dir) =>
      Analytics.periodogram7(Tables.events(s, dir)).orderBy("n_days"),
      {
      val aTxt = graft.engine.Analytics.periodogram7ATxt
      val bTxt = graft.engine.Analytics.periodogram7BTxt
      val ss = (0 until 7)
        .map(r =>
          s"CAST(sum(CASE WHEN d % 7 = $r THEN y ELSE CAST(0 AS BIGINT) END) AS BIGINT) AS s$r")
        .mkString(",\n                      ")
      val css = Stages.centredSumSql("syy", "sy", "sy")
      s"""WITH d0 AS $duckDailyCents,
          m AS (SELECT $ss,
                       CAST(count(*) AS BIGINT) AS n, CAST(sum(y) AS BIGINT) AS sy,
                       CAST(sum(CAST(y AS HUGEINT) * y) AS HUGEINT) AS syy
                FROM d0)
          SELECT n AS n_days, $aTxt AS a_re, $bTxt AS b_im,
                 ($aTxt * $aTxt + $bTxt * $bTxt) / CAST(n AS DOUBLE) AS power7,
                 (($aTxt * $aTxt + $bTxt * $bTxt) / CAST(n AS DOUBLE)) / nullif($css, 0.0E0) AS share7
          FROM m ORDER BY n_days"""
    }),
    QueryDef("q_matrix_profile", (s, dir) =>
      Analytics.matrixProfile(Tables.events(s, dir)).orderBy("day_idx"),
      {
      val ma = "(CAST(sa AS DOUBLE) / 5.0)"
      val mb = "(CAST(sb AS DOUBLE) / 5.0)"
      val sda = s"sqrt(CAST(ssa AS DOUBLE) / 5.0 - $ma * $ma)"
      val sdb = s"sqrt(CAST(ssb AS DOUBLE) / 5.0 - $mb * $mb)"
      val d2 = s"(10.0 * (1.0 - ((CAST(dot AS DOUBLE) / 5.0 - $ma * $mb) / ($sda * $sdb))))"
      s"""WITH d AS $duckDailyCents,
          p AS (SELECT d, y, CAST(row_number() OVER (ORDER BY d) AS BIGINT) AS i,
                       list_sort(list(struct_pack(d := d, y := y)) OVER (ORDER BY d ROWS BETWEEN CURRENT ROW AND 4 FOLLOWING)) AS arr0,
                       CAST(count(*) OVER (ORDER BY d ROWS BETWEEN CURRENT ROW AND 4 FOLLOWING) AS BIGINT) AS cnt,
                       CAST(sum(y) OVER (ORDER BY d ROWS BETWEEN CURRENT ROW AND 4 FOLLOWING) AS BIGINT) AS s,
                       CAST(sum(y * y) OVER (ORDER BY d ROWS BETWEEN CURRENT ROW AND 4 FOLLOWING) AS BIGINT) AS ss
                FROM d),
          win AS (SELECT i, d, list_transform(arr0, p2 -> p2.y) AS arr, s, ss FROM p WHERE cnt = 5),
          pr AS (SELECT a.i AS ia, a.d AS da, b.i AS ib,
                        a.s AS sa, a.ss AS ssa, b.s AS sb, b.ss AS ssb,
                        CAST(list_sum(list_transform(generate_series(1, 5), k -> a.arr[k] * b.arr[k])) AS BIGINT) AS dot
                 FROM win a JOIN win b ON abs(a.i - b.i) > 2),
          sc AS (SELECT ia, da, ib, $d2 AS d2 FROM pr),
          rk AS (SELECT ia, da, ib, d2,
                        row_number() OVER (PARTITION BY ia ORDER BY d2 ASC, ib ASC) AS rk
                 FROM sc)
          SELECT ia AS day_idx, da AS day_epoch, sqrt(greatest(d2, 0.0)) AS mp_dist, ib AS match_idx
          FROM rk WHERE rk = 1 ORDER BY day_idx"""
    }),
    QueryDef("q_cointegration", (s, dir) =>
      Analytics.cointegration(Tables.events(s, dir)).orderBy("n_pairs"),
      {
      val cxx = Stages.cmomSql("sxx", "sx", "sx")
      val cxy = Stages.cmomSql("sxy", "sx", "sy")
      val ryy = Stages.cmomSql("syy", "sy", "sy")
      val bTxt = s"($cxy / nullif($cxx, 0.0E0))"
      val aTxt =
        s"(CAST(sy AS DOUBLE) / CAST(n AS DOUBLE) - $bTxt * (CAST(sx AS DOUBLE) / CAST(n AS DOUBLE)))"
      val gamma = s"($cxy / nullif($cxx, 0.0E0))"
      s"""WITH d AS (SELECT ${Stages.duckEpochBucketSql("ts", 86400)} AS d,
                            CAST(sum(CASE WHEN event_type = 'purchase' THEN ${Stages.centsSql("value")} ELSE CAST(0 AS BIGINT) END) AS BIGINT) AS y,
                            CAST(sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS BIGINT) AS x
                     FROM events GROUP BY 1),
          f AS (SELECT CAST(count(*) AS BIGINT) AS n, CAST(sum(x) AS BIGINT) AS sx,
                       CAST(sum(y) AS BIGINT) AS sy, CAST(sum(x * x) AS BIGINT) AS sxx,
                       CAST(sum(x * y) AS BIGINT) AS sxy
                FROM d),
          r AS (SELECT d.d, CAST(round(CAST(y AS DOUBLE) - ($aTxt + $bTxt * CAST(x AS DOUBLE))) AS BIGINT) AS e,
                       $bTxt AS beta
                FROM d, f),
          p AS (SELECT a.e AS l, b.e - a.e AS dy, a.beta FROM r a JOIN r b ON b.d = a.d + 1),
          m AS (SELECT CAST(count(*) AS BIGINT) AS n, CAST(max(beta) AS DOUBLE) AS beta,
                       CAST(sum(l) AS BIGINT) AS sx, CAST(sum(dy) AS BIGINT) AS sy,
                       CAST(sum(l * l) AS BIGINT) AS sxx, CAST(sum(l * dy) AS BIGINT) AS sxy,
                       CAST(sum(dy * dy) AS BIGINT) AS syy
                FROM p)
          SELECT n AS n_pairs, beta AS coint_beta, $gamma AS gamma,
                 $gamma / sqrt((($ryy - $gamma * $cxy) * CAST(n AS DOUBLE) / CAST(n - 2 AS DOUBLE))
              / nullif(CAST(n AS DOUBLE) * $cxx, 0.0E0)) AS eg_t_stat
          FROM m ORDER BY n_pairs"""
    }),
    QueryDef("q_mahalanobis", (s, dir) =>
      Analytics.mahalanobisOutliers(Tables.events(s, dir)).orderBy("rank"),
      {
      val cxx = Stages.cmomSql("sxx", "sx", "sx")
      val cxy = Stages.cmomSql("sxy", "sx", "sy")
      val cyy = Stages.cmomSql("syy", "sy", "sy")
      val mx = "(CAST(sx AS DOUBLE) / CAST(n AS DOUBLE))"
      val my = "(CAST(sy AS DOUBLE) / CAST(n AS DOUBLE))"
      val det = s"($cxx * $cyy - $cxy * $cxy)"
      val dx = s"(CAST(x AS DOUBLE) - $mx)"
      val dy = s"(CAST(y AS DOUBLE) - $my)"
      val d2 = s"(($cyy * $dx * $dx - 2.0 * $cxy * $dx * $dy + $cxx * $dy * $dy) / nullif($det, 0.0E0))"
      s"""WITH d AS (SELECT ${Stages.duckEpochBucketSql("ts", 86400)} AS d,
                            CAST(sum(CASE WHEN event_type = 'purchase' THEN ${Stages.centsSql("value")} ELSE CAST(0 AS BIGINT) END) AS BIGINT) AS y,
                            CAST(sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS BIGINT) AS x
                     FROM events GROUP BY 1),
          m AS (SELECT CAST(count(*) AS BIGINT) AS n, CAST(sum(x) AS BIGINT) AS sx,
                       CAST(sum(y) AS BIGINT) AS sy, CAST(sum(x * x) AS BIGINT) AS sxx,
                       CAST(sum(x * y) AS BIGINT) AS sxy, CAST(sum(y * y) AS BIGINT) AS syy
                FROM d),
          sc AS (SELECT d.d, x, y, $d2 AS md2 FROM d, m),
          rk AS (SELECT d, x, y, md2,
                        CAST(row_number() OVER (ORDER BY md2 DESC, d ASC) AS BIGINT) AS rank
                 FROM sc)
          SELECT rank, d AS day_epoch, x AS clicks, y AS purchase_cents, md2
          FROM rk WHERE rank <= 10 ORDER BY rank"""
    }),
    QueryDef("q_dtw", (s, dir) =>
      Analytics.dtwWeekly(Tables.events(s, dir)).orderBy("n_buckets"),
      s"""WITH RECURSIVE prof AS (SELECT ${Stages.duckEpochBucketSql("ts", 86400)} % 7 AS r,
                            CAST(sum(CASE WHEN event_type = 'purchase' THEN ${Stages.centsSql("value")} ELSE CAST(0 AS BIGINT) END) AS BIGINT) AS pa,
                            CAST(sum(CASE WHEN event_type = 'click' THEN ${Stages.centsSql("value")} ELSE CAST(0 AS BIGINT) END) AS BIGINT) AS pb
                     FROM events GROUP BY 1),
         t AS (SELECT CAST(sum(pa) AS BIGINT) AS ta, CAST(sum(pb) AS BIGINT) AS tb FROM prof),
         sc AS (SELECT r, (pa * 1000) // ta AS a, (pb * 1000) // tb AS b FROM prof, t),
         lists AS (SELECT list(a ORDER BY r) AS al, list(b ORDER BY r) AS bl FROM sc),
         rec AS (
           SELECT 0 AS t,
                  [CAST(0 AS BIGINT), CAST(1000000000 AS BIGINT), CAST(1000000000 AS BIGINT), CAST(1000000000 AS BIGINT),
                   CAST(1000000000 AS BIGINT), CAST(1000000000 AS BIGINT), CAST(1000000000 AS BIGINT), CAST(1000000000 AS BIGINT)] AS prev,
                  [CAST(1000000000 AS BIGINT)] AS cur
           UNION ALL
           SELECT t + 1,
                  CASE WHEN (t % 7) = 6 THEN list_append(cur, newcell) ELSE prev END,
                  CASE WHEN (t % 7) = 6 THEN [CAST(1000000000 AS BIGINT)] ELSE list_append(cur, newcell) END
           FROM (
             SELECT rec.t, rec.prev, rec.cur,
                    abs(al[(rec.t // 7) + 1] - bl[(rec.t % 7) + 1])
                      + least(rec.prev[(rec.t % 7) + 1], rec.prev[(rec.t % 7) + 2], rec.cur[(rec.t % 7) + 1]) AS newcell
             FROM rec, lists
             WHERE rec.t < 49))
         SELECT CAST((SELECT count(*) FROM prof) AS BIGINT) AS n_buckets,
                CAST(prev[8] AS BIGINT) AS dtw_permille
         FROM rec WHERE t = 49"""),
    QueryDef("q_var1", (s, dir) =>
      Analytics.var1(Tables.events(s, dir)).orderBy("n_triples"),
      {
      val cll = Stages.cmomSql("sll", "sl", "sl")
      val clx = Stages.cmomSql("slx", "sl", "sx")
      val cxx = Stages.cmomSql("sxx", "sx", "sx")
      val det0 = s"($cll * $cxx - $clx * $clx)"
      def eq(cy: String, cxy: String): (String, String) =
        (s"(($cy * $cxx - $cxy * $clx) / nullif($det0, 0.0E0))", s"(($cll * $cxy - $clx * $cy) / nullif($det0, 0.0E0))")
      val cyl = Stages.cmomSql("syl", "sl", "sy")
      val cyx = Stages.cmomSql("syx", "sx", "sy")
      val czl = Stages.cmomSql("szl", "sl", "sz")
      val czx = Stages.cmomSql("szx", "sx", "sz")
      val (a11, a12) = eq(cyl, cyx)
      val (a21, a22) = eq(czl, czx)
      val tr = s"($a11 + $a22)"
      val dA = s"($a11 * $a22 - $a12 * $a21)"
      val disc = s"($tr * $tr - 4.0 * $dA)"
      val radius =
        s"""(CASE WHEN $disc >= 0.0
              THEN greatest(abs(($tr + sqrt($disc)) / 2.0), abs(($tr - sqrt($disc)) / 2.0))
              ELSE sqrt($dA)
            END)"""
      s"""WITH d AS (SELECT ${Stages.duckEpochBucketSql("ts", 86400)} AS d,
                            CAST(sum(CASE WHEN event_type = 'purchase' THEN ${Stages.centsSql("value")} ELSE CAST(0 AS BIGINT) END) AS BIGINT) AS y,
                            CAST(sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS BIGINT) AS x
                     FROM events GROUP BY 1),
          t AS (SELECT a.y AS ly, a.x AS lx, b.y AS cy, b.x AS cx FROM d a JOIN d b ON b.d = a.d + 1),
          m AS (SELECT CAST(count(*) AS BIGINT) AS n,
                       CAST(sum(ly) AS BIGINT) AS sl, CAST(sum(lx) AS BIGINT) AS sx,
                       CAST(sum(cy) AS BIGINT) AS sy, CAST(sum(cx) AS BIGINT) AS sz,
                       CAST(sum(ly * ly) AS BIGINT) AS sll, CAST(sum(ly * lx) AS BIGINT) AS slx,
                       CAST(sum(lx * lx) AS BIGINT) AS sxx, CAST(sum(ly * cy) AS BIGINT) AS syl,
                       CAST(sum(lx * cy) AS BIGINT) AS syx, CAST(sum(ly * cx) AS BIGINT) AS szl,
                       CAST(sum(lx * cx) AS BIGINT) AS szx
                FROM t)
          SELECT n AS n_triples, $a11 AS a11, $a12 AS a12, $a21 AS a21, $a22 AS a22,
                 $radius AS spectral_radius, $radius < 1.0 AS stable
          FROM m ORDER BY n_triples"""
    }),
    QueryDef("q_tv_distance", (s, dir) =>
      Analytics.tvDistance(Tables.events(s, dir)).orderBy("n1"),
      s"""WITH h AS (SELECT ${Stages.duckEpochBucketSql("ts", 3600)} % 24 AS h,
                           CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS c1,
                           CAST(sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS BIGINT) AS c2
                    FROM events WHERE event_type IN ('purchase', 'click') GROUP BY 1),
         t AS (SELECT CAST(sum(c1) AS BIGINT) AS n1, CAST(sum(c2) AS BIGINT) AS n2 FROM h),
         a AS (SELECT CAST(max(n1) AS BIGINT) AS n1, CAST(max(n2) AS BIGINT) AS n2,
                      CAST(sum(abs(c1 * n2 - c2 * n1)) AS BIGINT) AS tv_num
               FROM h, t)
         SELECT n1, n2, tv_num,
                CAST(tv_num AS DOUBLE) / (2.0 * CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE)) AS tv
         FROM a ORDER BY n1"""),
    QueryDef("q_pinball", (s, dir) =>
      Analytics.pinballLoss(Tables.events(s, dir)).orderBy("n_eval"),
      s"""WITH d AS $duckDailyCents,
         j AS (SELECT a.y AS f, b.y AS y FROM d a JOIN d b ON b.d = a.d + 7),
         m AS (SELECT CAST(count(*) AS BIGINT) AS n_eval,
                      CAST(sum(CASE WHEN y >= f THEN 9 * (y - f) ELSE f - y END) AS BIGINT) AS loss10_total
               FROM j)
         SELECT n_eval, loss10_total,
                (CAST(loss10_total AS DOUBLE) / CAST(n_eval AS DOUBLE)) / 10.0 / 100.0 AS mean_pinball_dollars
         FROM m ORDER BY n_eval"""),
    QueryDef("q_nation_trade", (s, dir) =>
      Relational.nationTrade(
        Tables.lineitem(s, dir), Tables.orders(s, dir), Tables.customer(s, dir),
        Tables.supplier(s, dir), Tables.nation(s, dir), "NATION_18", "NATION_19")
        .orderBy("supp_nation", "cust_nation", "l_year"),
      s"""WITH ru AS (SELECT l_suppkey, l_orderkey, year(l_shipdate) AS l_year,
                            ${Stages.lineitemRevUnitsSql} AS r
                     FROM lineitem),
         s AS (SELECT s_suppkey, n_name AS supp_nation FROM supplier
               JOIN nation ON s_nationkey = n_nationkey WHERE n_name IN ('NATION_18', 'NATION_19')),
         c AS (SELECT c_custkey, n_name AS cust_nation FROM customer
               JOIN nation ON c_nationkey = n_nationkey WHERE n_name IN ('NATION_18', 'NATION_19')),
         j AS (SELECT supp_nation, cust_nation, l_year, r
               FROM ru JOIN s ON ru.l_suppkey = s.s_suppkey
               JOIN orders ON ru.l_orderkey = o_orderkey
               JOIN c ON o_custkey = c_custkey
               WHERE supp_nation <> cust_nation)
         SELECT supp_nation, cust_nation, CAST(l_year AS BIGINT) AS l_year,
                CAST(sum(r) AS BIGINT) AS rev_units,
                CAST(CAST(sum(r) AS BIGINT) AS DOUBLE) / 10000.0 AS revenue_dollars
         FROM j GROUP BY 1, 2, 3 ORDER BY 1, 2, 3"""),
    QueryDef("q_market_share", (s, dir) =>
      Relational.marketShare(
        Tables.lineitem(s, dir), Tables.orders(s, dir), Tables.customer(s, dir),
        Tables.supplier(s, dir), Tables.nation(s, dir), Tables.region(s, dir),
        "ASIA", "NATION_3")
        .orderBy("o_year"),
      s"""WITH mn AS (SELECT n_nationkey FROM nation JOIN region ON n_regionkey = r_regionkey
                     WHERE r_name = 'ASIA'),
         c AS (SELECT c_custkey FROM customer JOIN mn ON c_nationkey = n_nationkey),
         s AS (SELECT s_suppkey, n_name AS supp_nation FROM supplier
               JOIN nation ON s_nationkey = n_nationkey),
         j AS (SELECT year(o_orderdate) AS o_year, supp_nation,
                      ${Stages.lineitemRevUnitsSql} AS r
               FROM lineitem
               JOIN s ON l_suppkey = s_suppkey
               JOIN orders ON l_orderkey = o_orderkey
               JOIN c ON o_custkey = c_custkey)
         SELECT CAST(o_year AS BIGINT) AS o_year,
                CAST(sum(CASE WHEN supp_nation = 'NATION_3' THEN r ELSE CAST(0 AS BIGINT) END) AS BIGINT) AS num_units,
                CAST(sum(r) AS BIGINT) AS den_units,
                CAST(CAST(sum(CASE WHEN supp_nation = 'NATION_3' THEN r ELSE CAST(0 AS BIGINT) END) AS BIGINT) AS DOUBLE)
                  / CAST(CAST(sum(r) AS BIGINT) AS DOUBLE) AS mkt_share
         FROM j GROUP BY 1 ORDER BY 1"""),
    QueryDef("q_promo_share", (s, dir) =>
      Relational.promoShare(Tables.lineitem(s, dir), Tables.part(s, dir))
        .orderBy("ship_month"),
      s"""WITH j AS (SELECT year(l_shipdate) * 100 + month(l_shipdate) AS ship_month, p_type,
                           ${Stages.lineitemRevUnitsSql} AS r
                    FROM lineitem JOIN part ON l_partkey = p_partkey)
         SELECT CAST(ship_month AS BIGINT) AS ship_month,
                CAST(sum(CASE WHEN p_type = 'PROMO' THEN r ELSE CAST(0 AS BIGINT) END) AS BIGINT) AS promo_units,
                CAST(sum(r) AS BIGINT) AS total_units,
                100.0 * CAST(CAST(sum(CASE WHEN p_type = 'PROMO' THEN r ELSE CAST(0 AS BIGINT) END) AS BIGINT) AS DOUBLE)
                  / CAST(CAST(sum(r) AS BIGINT) AS DOUBLE) AS promo_share
         FROM j GROUP BY 1 ORDER BY 1"""),
    QueryDef("q_bracket_revenue", (s, dir) =>
      Relational.bracketRevenue(Tables.lineitem(s, dir), Tables.part(s, dir))
        .orderBy("n_rows"),
      s"""WITH j AS (SELECT l_quantity, p_brand, p_size,
                           ${Stages.lineitemRevUnitsSql} AS r
                    FROM lineitem JOIN part ON l_partkey = p_partkey)
         SELECT CAST(count(*) AS BIGINT) AS n_rows,
                CAST(sum(r) AS BIGINT) AS rev_units,
                CAST(CAST(sum(r) AS BIGINT) AS DOUBLE) / 10000.0 AS revenue_dollars
         FROM j
         WHERE (p_brand = 'Brand#1' AND p_size BETWEEN 1 AND 15 AND l_quantity BETWEEN 1 AND 20)
            OR (p_brand = 'Brand#7' AND p_size BETWEEN 5 AND 30 AND l_quantity BETWEEN 10 AND 35)
            OR (p_brand = 'Brand#13' AND p_size BETWEEN 1 AND 50 AND l_quantity BETWEEN 20 AND 50)
         ORDER BY n_rows"""),
    QueryDef("q_ndcg", (s, dir) =>
      Graph.ndcgAt5(Tables.lineitem(s, dir)).orderBy("n_parts"),
      {
      val dcgD = graft.engine.Graph.dcg5Sql("d")
      val dcgI = graft.engine.Graph.dcg5Sql("i")
      val dSums = (1 to 5)
        .map(i => s"CAST(sum(CASE WHEN rk = $i THEN coalesce(t.w, CAST(0 AS BIGINT)) ELSE CAST(0 AS BIGINT) END) AS BIGINT) AS d$i")
        .mkString(", ")
      val iSums = (1 to 5)
        .map(i => s"CAST(sum(CASE WHEN rk = $i THEN w ELSE CAST(0 AS BIGINT) END) AS BIGINT) AS i$i")
        .mkString(", ")
      s"""WITH ope AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem WHERE l_orderkey % 2 = 0),
          ee AS (SELECT a.pk AS pa, b.pk AS pb, CAST(count(*) AS BIGINT) AS w
                 FROM ope a JOIN ope b ON a.ok = b.ok AND a.pk < b.pk GROUP BY 1, 2),
          train AS (SELECT pa AS src, pb AS dst, w FROM ee UNION ALL SELECT pb AS src, pa AS dst, w FROM ee),
          opo AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem WHERE l_orderkey % 2 = 1),
          eo AS (SELECT a.pk AS pa, b.pk AS pb, CAST(count(*) AS BIGINT) AS w
                 FROM opo a JOIN opo b ON a.ok = b.ok AND a.pk < b.pk GROUP BY 1, 2),
          test AS (SELECT pa AS src, pb AS dst, w FROM eo UNION ALL SELECT pb AS src, pa AS dst, w FROM eo),
          recs AS (SELECT src, dst, rk FROM (
                     SELECT src, dst, row_number() OVER (PARTITION BY src ORDER BY w DESC, dst ASC) AS rk
                     FROM train) WHERE rk <= 5),
          graded AS (SELECT r.src, $dSums
                     FROM recs r LEFT JOIN test t ON t.src = r.src AND t.dst = r.dst
                     GROUP BY 1),
          ideal AS (SELECT src, $iSums FROM (
                      SELECT src, w, row_number() OVER (PARTITION BY src ORDER BY w DESC, dst ASC) AS rk
                      FROM test) WHERE rk <= 5 GROUP BY 1),
          nd AS (SELECT i.src, CAST(round(coalesce($dcgD, 0.0) / $dcgI * 1000000.0) AS BIGINT) AS m
                 FROM ideal i LEFT JOIN graded g ON g.src = i.src)
          SELECT CAST(count(*) AS BIGINT) AS n_parts, CAST(sum(m) AS BIGINT) AS sum_micro,
                 (CAST(CAST(sum(m) AS BIGINT) AS DOUBLE) / CAST(count(*) AS DOUBLE)) / 1000000.0 AS mean_ndcg
          FROM nd ORDER BY n_parts"""
    }),
    QueryDef("q_rec_coverage", (s, dir) =>
      Graph.recCoverage(Tables.lineitem(s, dir)).orderBy("n_catalog"),
      """WITH op AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem),
         e AS (SELECT a.pk AS pa, b.pk AS pb, CAST(count(*) AS BIGINT) AS w
               FROM op a JOIN op b ON a.ok = b.ok AND a.pk < b.pk GROUP BY 1, 2),
         sym AS (SELECT pa AS src, pb AS dst, w FROM e UNION ALL SELECT pb AS src, pa AS dst, w FROM e),
         recs AS (SELECT src, dst FROM (
                    SELECT src, dst, row_number() OVER (PARTITION BY src ORDER BY w DESC, dst ASC) AS rk
                    FROM sym) WHERE rk <= 5),
         expo AS (SELECT dst, CAST(count(*) AS BIGINT) AS n_slots FROM recs GROUP BY 1),
         cat AS (SELECT CAST(count(DISTINCT l_partkey) AS BIGINT) AS n_catalog FROM lineitem),
         tot AS (SELECT CAST(count(*) AS BIGINT) AS total_slots FROM recs),
         ex AS (SELECT CAST(count(*) AS BIGINT) AS n_recommended, CAST(max(n_slots) AS BIGINT) AS max_exposure FROM expo)
         SELECT n_catalog, n_recommended, total_slots, max_exposure,
                CAST(n_recommended AS DOUBLE) / nullif(CAST(n_catalog AS DOUBLE), 0.0E0) AS coverage,
                CAST(max_exposure AS DOUBLE) / nullif(CAST(total_slots AS DOUBLE), 0.0E0) AS max_share
         FROM cat, tot, ex ORDER BY n_catalog"""),
    QueryDef("q_pq_distortion", (s, dir) =>
      Similarity.pqDistortion(Tables.embeddings(s, dir)).orderBy("n_vecs"),
      {
      val m = 8
      val subDim = 8
      val books = graft.similarity.Similarity.pqCodebooks(m, 16, subDim)
      def subVec(j: Int) = s"v[${j * subDim + 1}:${(j + 1) * subDim}]"
      val distLists = (0 until m).map { j =>
        books(j)
          .map { c =>
            val lit = c.map(_.toString).mkString("[", ", ", "]")
            s"list_dot_product(${subVec(j)}, ${subVec(j)}) - 2.0*list_dot_product(${subVec(j)}, $lit) + ${c.map(x => x * x).sum}"
          }
          .mkString("[", ", ", "]")
      }
      val dCols = (0 until m).map(j => s"${distLists(j)} AS d$j").mkString(", ")
      val total = (0 until m).map(j => s"list_min(d$j)").mkString(" + ")
      s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
          d AS (SELECT vec_id, $dCols FROM e),
          r AS (SELECT CAST(round(($total) * 1000000.0) AS BIGINT) AS dq FROM d),
          a AS (SELECT CAST(count(*) AS BIGINT) AS n_vecs, CAST(sum(dq) AS BIGINT) AS total_micro,
                       CAST(max(dq) AS BIGINT) AS max_micro
                FROM r)
          SELECT n_vecs, total_micro, max_micro,
                 (CAST(total_micro AS DOUBLE) / CAST(n_vecs AS DOUBLE)) / 1000000.0 AS mean_distortion
          FROM a ORDER BY n_vecs"""
    }),
    QueryDef("q_arc_elasticity", (s, dir) =>
      Relational.arcElasticity(Tables.lineitem(s, dir), Tables.part(s, dir))
        .orderBy("p_brand"),
      s"""WITH sp AS (SELECT p_partkey, p_brand, ${Stages.centsSql("p_retailprice")} AS pc,
                            row_number() OVER (PARTITION BY p_brand ORDER BY ${Stages.centsSql("p_retailprice")} ASC, p_partkey ASC) AS r,
                            count(*) OVER (PARTITION BY p_brand) AS n
                     FROM part),
         split AS (SELECT p_partkey, p_brand, pc, r <= (n + 1) // 2 AS cheap FROM sp),
         agg AS (SELECT p_brand,
                        CAST(sum(CASE WHEN cheap THEN ${Stages.lineitemQtySql} ELSE CAST(0 AS BIGINT) END) AS BIGINT) AS q1,
                        CAST(sum(CASE WHEN NOT cheap THEN ${Stages.lineitemQtySql} ELSE CAST(0 AS BIGINT) END) AS BIGINT) AS q2,
                        CAST(sum(CASE WHEN cheap THEN pc ELSE CAST(0 AS BIGINT) END) AS BIGINT) AS ps1,
                        CAST(sum(CASE WHEN cheap THEN 1 ELSE 0 END) AS BIGINT) AS n1,
                        CAST(sum(CASE WHEN NOT cheap THEN pc ELSE CAST(0 AS BIGINT) END) AS BIGINT) AS ps2,
                        CAST(sum(CASE WHEN NOT cheap THEN 1 ELSE 0 END) AS BIGINT) AS n2
                 FROM lineitem JOIN split ON l_partkey = p_partkey
                 GROUP BY 1)
         SELECT p_brand, q1, q2, ps1, n1, ps2, n2,
                CASE WHEN n1 = 0 OR n2 = 0 OR q1 + q2 = 0 THEN NULL
                     WHEN CAST(ps2 AS DOUBLE) / CAST(n2 AS DOUBLE) = CAST(ps1 AS DOUBLE) / CAST(n1 AS DOUBLE) THEN NULL
                     ELSE (CAST(q2 - q1 AS DOUBLE) * (CAST(ps1 AS DOUBLE) / CAST(n1 AS DOUBLE) + CAST(ps2 AS DOUBLE) / CAST(n2 AS DOUBLE)))
                          / (CAST(q1 + q2 AS DOUBLE) * (CAST(ps2 AS DOUBLE) / CAST(n2 AS DOUBLE) - CAST(ps1 AS DOUBLE) / CAST(n1 AS DOUBLE)))
                END AS arc_elasticity
         FROM agg ORDER BY p_brand"""),
    QueryDef("q_sorted_neighborhood", (s, dir) =>
      Dedup.sortedNeighborhood(Tables.documents(s, dir)).orderBy("n_candidates"),
      """WITH k AS (SELECT doc_id, n_chars, md5(text) AS h, n_chars // 16 AS bucket FROM documents),
         l AS (SELECT doc_id, h,
                      lead(doc_id, 1) OVER w AS nid1, lead(h, 1) OVER w AS nh1,
                      lead(doc_id, 2) OVER w AS nid2, lead(h, 2) OVER w AS nh2,
                      lead(doc_id, 3) OVER w AS nid3, lead(h, 3) OVER w AS nh3,
                      lead(doc_id, 4) OVER w AS nid4, lead(h, 4) OVER w AS nh4
               FROM k WINDOW w AS (PARTITION BY bucket ORDER BY n_chars ASC, doc_id ASC)),
         cand AS (SELECT doc_id, h, u.nid AS nid, u.nh AS nh
                  FROM l, unnest([struct_pack(nid := nid1, nh := nh1), struct_pack(nid := nid2, nh := nh2),
                                  struct_pack(nid := nid3, nh := nh3), struct_pack(nid := nid4, nh := nh4)]) AS t(u)
                  WHERE u.nid IS NOT NULL),
         st AS (SELECT CAST(count(*) AS BIGINT) AS n_candidates,
                       CAST(sum(CASE WHEN h = nh THEN 1 ELSE 0 END) AS BIGINT) AS dup_caught
                FROM cand),
         tot AS (SELECT CAST(sum((c * (c - 1)) // 2) AS BIGINT) AS dup_total,
                        CAST(sum(c) AS BIGINT) AS n_docs
                 FROM (SELECT md5(text) AS h, CAST(count(*) AS BIGINT) AS c FROM documents GROUP BY 1))
         SELECT n_candidates, dup_caught, dup_total, n_docs,
                CASE WHEN dup_total = 0 THEN NULL
                     ELSE CAST(dup_caught AS DOUBLE) / CAST(dup_total AS DOUBLE) END AS pairs_completeness,
                CASE WHEN n_docs < 2 THEN NULL
                     ELSE 1.0 - CAST(n_candidates AS DOUBLE) / (CAST(n_docs AS DOUBLE) * CAST(n_docs - 1 AS DOUBLE) / 2.0) END AS reduction_ratio
         FROM st, tot ORDER BY n_candidates"""),
    QueryDef("q_qq", (s, dir) =>
      Inference.qqTable(Tables.events(s, dir), "purchase", "click").orderBy("p"),
      s"""WITH ga AS (SELECT ${Stages.centsSql("value")} AS x, CAST(count(*) AS BIGINT) AS c
                     FROM events WHERE event_type = 'purchase' GROUP BY 1),
         ca AS (SELECT x, c, coalesce(CAST(sum(c) OVER (ORDER BY x ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS BIGINT), CAST(0 AS BIGINT)) AS cb,
                       CAST(sum(c) OVER () AS BIGINT) AS n
                FROM ga),
         pa AS (SELECT p, x AS qa_cents
                FROM ca, unnest(generate_series(5, 95, 5)) AS t(p)
                WHERE cb < (p * (n - 1)) // 100 + 1 AND (p * (n - 1)) // 100 + 1 <= cb + c),
         gb AS (SELECT ${Stages.centsSql("value")} AS x, CAST(count(*) AS BIGINT) AS c
                FROM events WHERE event_type = 'click' GROUP BY 1),
         cbl AS (SELECT x, c, coalesce(CAST(sum(c) OVER (ORDER BY x ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS BIGINT), CAST(0 AS BIGINT)) AS cb,
                        CAST(sum(c) OVER () AS BIGINT) AS n
                 FROM gb),
         pb AS (SELECT p, x AS qb_cents
                FROM cbl, unnest(generate_series(5, 95, 5)) AS t(p)
                WHERE cb < (p * (n - 1)) // 100 + 1 AND (p * (n - 1)) // 100 + 1 <= cb + c)
         SELECT CAST(pa.p AS BIGINT) AS p, qa_cents, qb_cents, qa_cents - qb_cents AS gap_cents
         FROM pa JOIN pb ON pa.p = pb.p ORDER BY p"""),
    QueryDef("q_map_funcs", (s, dir) =>
      Analytics.mapFuncs(Tables.events(s, dir)).orderBy("event_type", "h"),
      s"""WITH h AS (SELECT event_type, ${Stages.duckEpochBucketSql("ts", 3600)} % 24 AS h,
                           CAST(count(*) AS BIGINT) AS c
                    FROM events GROUP BY 1, 2),
         kept AS (SELECT event_type, h, 2 * c AS doubled_count FROM h
                  WHERE h IS NOT NULL AND 2 * c >= 20),
         nk AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n_kept FROM kept GROUP BY 1)
         SELECT k.event_type, k.h, k.doubled_count, nk.n_kept
         FROM kept k JOIN nk ON k.event_type = nk.event_type
         ORDER BY k.event_type, k.h"""),
    QueryDef("q_l_diversity", (s, dir) =>
      Analytics.lDiversity(Tables.orders(s, dir)).orderBy("priority", "o_year"),
      """SELECT o_orderpriority AS priority,
                CAST(year(o_orderdate) AS BIGINT) AS o_year,
                CAST(count(*) AS BIGINT) AS n_rows,
                CAST(count(DISTINCT o_orderstatus) AS BIGINT) AS l_div,
                count(DISTINCT o_orderstatus) >= 2 AS is_diverse
         FROM orders GROUP BY 1, 2 ORDER BY 1, 2"""),
    QueryDef("q_session_percentiles", (s, dir) =>
      Analytics.sessionPercentiles(Tables.events(s, dir)).orderBy("n_sessions"),
      s"""WITH e AS (SELECT user_id, ${Stages.duckEpochBucketSql("ts", 1)} AS t FROM events),
         s AS (SELECT user_id, t,
                      CASE WHEN lag(t) OVER (PARTITION BY user_id ORDER BY t) IS NULL
                             OR t - lag(t) OVER (PARTITION BY user_id ORDER BY t) > 1800
                           THEN 1 ELSE 0 END AS is_new
               FROM e),
         sid AS (SELECT user_id, t,
                        CAST(sum(is_new) OVER (PARTITION BY user_id ORDER BY t ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_id
                 FROM s),
         d AS (SELECT CAST(max(t) - min(t) AS BIGINT) AS dur FROM sid GROUP BY user_id, session_id),
         g AS (SELECT dur, CAST(count(*) AS BIGINT) AS c FROM d GROUP BY 1),
         cum AS (SELECT dur, c,
                        coalesce(CAST(sum(c) OVER (ORDER BY dur ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS BIGINT), CAST(0 AS BIGINT)) AS cb,
                        CAST(sum(c) OVER () AS BIGINT) AS n,
                        CAST(sum(dur * c) OVER () AS BIGINT) AS sd
                 FROM g),
         p50 AS (SELECT dur AS p50_seconds, n, sd FROM cum
                 WHERE cb < (50 * (n - 1)) // 100 + 1 AND (50 * (n - 1)) // 100 + 1 <= cb + c),
         p90 AS (SELECT dur AS p90_seconds FROM cum
                 WHERE cb < (90 * (n - 1)) // 100 + 1 AND (90 * (n - 1)) // 100 + 1 <= cb + c)
         SELECT n AS n_sessions, p50_seconds, p90_seconds,
                CAST(sd AS DOUBLE) / CAST(n AS DOUBLE) AS mean_seconds
         FROM p50, p90 ORDER BY n_sessions"""),
    QueryDef("q_boot_median", (s, dir) =>
      Analytics.poissonBootstrapMedian(Tables.events(s, dir)).orderBy("resample"),
      {
      val mult = Analytics.poissonMultiplierSql(duckResampleHashSql)
      s"""WITH e AS (SELECT event_id, ${Stages.centsSql("value")} AS x,
                            unnest(generate_series(0, 7)) AS r
                     FROM events),
          d AS (SELECT CAST(r AS BIGINT) AS resample, $mult AS m, x FROM e),
          g AS (SELECT resample, x, CAST(sum(m) AS BIGINT) AS w FROM d GROUP BY 1, 2 HAVING sum(m) > 0),
          cum AS (SELECT resample, x, w,
                         coalesce(CAST(sum(w) OVER (PARTITION BY resample ORDER BY x ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS BIGINT), CAST(0 AS BIGINT)) AS cb,
                         CAST(sum(w) OVER (PARTITION BY resample) AS BIGINT) AS n
                  FROM g)
          SELECT resample, n AS n_eff, x AS median_cents, CAST(x AS DOUBLE) / 100.0 AS median_dollars
          FROM cum
          WHERE cb < (n + 1) // 2 AND (n + 1) // 2 <= cb + w
          ORDER BY resample"""
    }),
    QueryDef("q_cdc_chunking", (s, dir) =>
      Analytics.cdcChunking(Tables.documents(s, dir)).orderBy("n_docs"),
      {
      val weights = (0 to 7).map(k => math.pow(31.0, k).toLong)
      val rolling = (0 to 7).map(k => s"CAST(ch[p - $k] AS BIGINT) * ${weights(k)}").mkString(" + ")
      s"""WITH base AS (SELECT doc_id, text, CAST(length(text) AS INT) AS len,
                               list_transform(string_split(text, ''), c -> ascii(c)) AS ch
                        FROM documents),
          b2 AS (SELECT doc_id, text, len,
                        CASE WHEN len < 8 THEN CAST([] AS INTEGER[])
                             ELSE [p FOR p IN generate_series(8, len) IF ($rolling) % 64 = 0] END AS bl
                 FROM base),
          b3 AS (SELECT doc_id, text,
                        list_prepend(1, list_transform(bl, p -> p + 1)) AS starts,
                        list_append(bl, len) AS ends
                 FROM b2),
          ch AS (SELECT doc_id,
                        CAST(ends[i] - starts[i] + 1 AS BIGINT) AS chunk_len,
                        md5(substring(text, starts[i], ends[i] - starts[i] + 1)) AS chunk_md5
                 FROM b3, unnest(generate_series(1, len(starts))) AS t(i)
                 WHERE ends[i] >= starts[i]),
          a AS (SELECT CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs,
                       CAST(count(*) AS BIGINT) AS total_chunks,
                       CAST(count(DISTINCT chunk_md5) AS BIGINT) AS distinct_chunks,
                       CAST(sum(chunk_len) AS BIGINT) AS total_chars
                FROM ch)
          SELECT n_docs, total_chunks, distinct_chunks, total_chars,
                 CAST(distinct_chunks AS DOUBLE) / nullif(CAST(total_chunks AS DOUBLE), 0.0E0) AS unique_ratio,
                 CAST(total_chars AS DOUBLE) / nullif(CAST(total_chunks AS DOUBLE), 0.0E0) AS mean_chunk_len
          FROM a ORDER BY n_docs"""
    }),
    QueryDef("q_merkle", (s, dir) =>
      Analytics.merkleDigest(Tables.documents(s, dir)).orderBy("bucket"),
      """WITH l AS (SELECT doc_id % 16 AS bucket, md5(text) AS leaf FROM documents),
         b AS (SELECT bucket, CAST(count(*) AS BIGINT) AS n_docs,
                      md5(list_aggregate(list_sort(list(leaf)), 'string_agg', '')) AS bucket_hash
               FROM l GROUP BY 1),
         r AS (SELECT md5(list_aggregate(list_sort(list(bucket_hash)), 'string_agg', '')) AS root_hash FROM b)
         SELECT bucket, n_docs, bucket_hash, root_hash FROM b, r ORDER BY bucket"""),
    QueryDef("q_holt_winters", (s, dir) =>
      Analytics.holtWinters(Tables.events(s, dir)).orderBy("n_days"),
      {
      val l2 =
        "(2 * (dd.y * 4 - rec.s[CAST(dd.d % 7 + 1 AS INT)]) + 2 * (rec.l + rec.b)) // 4"
      s"""WITH RECURSIVE daily AS $duckDailyCents,
         days AS (SELECT d, y, row_number() OVER (ORDER BY d) AS i FROM daily),
         rec AS (
           SELECT i, d, y * 4 AS l, CAST(0 AS BIGINT) AS b,
                  [CAST(0 AS BIGINT), CAST(0 AS BIGINT), CAST(0 AS BIGINT), CAST(0 AS BIGINT),
                   CAST(0 AS BIGINT), CAST(0 AS BIGINT), CAST(0 AS BIGINT)] AS s
           FROM days WHERE i = 1
           UNION ALL
           SELECT dd.i, dd.d,
                  $l2,
                  (($l2) - rec.l + 3 * rec.b) // 4,
                  [CASE WHEN j = dd.d % 7 + 1
                        THEN (2 * (dd.y * 4 - ($l2)) + 2 * rec.s[CAST(j AS INT)]) // 4
                        ELSE rec.s[CAST(j AS INT)] END
                   FOR j IN generate_series(1, 7)]
           FROM rec JOIN days dd ON dd.i = rec.i + 1)
         SELECT CAST((SELECT max(i) FROM days) AS BIGINT) AS n_days,
                l AS level_q, b AS trend_q,
                s[1] AS s0_q, s[4] AS s3_q, s[7] AS s6_q,
                CAST(l + b + s[CAST((d + 1) % 7 + 1 AS INT)] AS DOUBLE) / 400.0 AS forecast1_dollars
         FROM rec WHERE i = (SELECT max(i) FROM days) ORDER BY n_days"""
    }),
    QueryDef("q_mase", (s, dir) =>
      Analytics.maseWape(Tables.events(s, dir)).orderBy("n_eval"),
      s"""WITH d AS $duckDailyCents,
         e7 AS (SELECT CAST(count(*) AS BIGINT) AS n7, CAST(sum(abs(b.y - a.y)) AS BIGINT) AS sae7,
                       CAST(sum(b.y - a.y) AS BIGINT) AS se7, CAST(sum(b.y) AS BIGINT) AS sy7
                FROM d a JOIN d b ON b.d = a.d + 7),
         e1 AS (SELECT CAST(count(*) AS BIGINT) AS n1, CAST(sum(abs(b.y - a.y)) AS BIGINT) AS sae1
                FROM d a JOIN d b ON b.d = a.d + 1)
         SELECT n7 AS n_eval, sae7, sae1, n1,
                (CAST(sae7 AS DOUBLE) / CAST(n7 AS DOUBLE)) / (CAST(sae1 AS DOUBLE) / CAST(n1 AS DOUBLE)) AS mase,
                CAST(sae7 AS DOUBLE) / CAST(sy7 AS DOUBLE) AS wape,
                CAST(se7 AS DOUBLE) / CAST(sy7 AS DOUBLE) AS bias
         FROM e7, e1 ORDER BY n_eval"""),
    QueryDef("q_inventory", (s, dir) =>
      Relational.inventoryPlan(Tables.lineitem(s, dir)).orderBy("rank"),
      {
      val dVar = Stages.cmomSql("d_sq", "d_total", "d_total", Stages.divisorSql("n_days", nonZero = false))
      s"""WITH pd AS (SELECT l_partkey, CAST(l_shipdate AS DATE) AS day,
                            CAST(sum(${Stages.lineitemQtySql}) AS BIGINT) AS q
                     FROM lineitem GROUP BY 1, 2),
         st AS (SELECT l_partkey, CAST(count(*) AS BIGINT) AS n_days,
                       CAST(sum(q) AS BIGINT) AS d_total, CAST(sum(q * q) AS BIGINT) AS d_sq
                FROM pd GROUP BY 1),
         rk AS (SELECT *, CAST(row_number() OVER (ORDER BY d_total DESC, l_partkey ASC) AS BIGINT) AS rank
                FROM st)
         SELECT rank, l_partkey, n_days, d_total,
                (CAST(d_total AS DOUBLE) / CAST(n_days AS DOUBLE)) AS mean_daily,
                sqrt($dVar) AS sigma_daily,
                sqrt(2.0 * CAST(d_total AS DOUBLE) * 100.0 / 20.0) AS eoq,
                1.6448536269514722 * sqrt($dVar) * 2.6457513110645907 AS safety_stock,
                (CAST(d_total AS DOUBLE) / CAST(n_days AS DOUBLE)) * 7.0
                  + 1.6448536269514722 * sqrt($dVar) * 2.6457513110645907 AS reorder_point
         FROM rk WHERE rank <= 20 ORDER BY rank"""
      }),
    QueryDef("q_shapley_attr", (s, dir) =>
      Analytics.shapleyAttribution(Tables.events(s, dir)).orderBy("n00"),
      {
      def r(c: Int, v: Int): String =
        s"(CASE WHEN n$c$v = 0 THEN 0.0 ELSE CAST(k$c$v AS DOUBLE) / CAST(n$c$v AS DOUBLE) END)"
      val cellCols = (for { c <- 0 to 1; v <- 0 to 1 } yield Seq(
        s"CAST(sum(CASE WHEN c = $c AND v = $v THEN n ELSE CAST(0 AS BIGINT) END) AS BIGINT) AS n$c$v",
        s"CAST(sum(CASE WHEN c = $c AND v = $v THEN k ELSE CAST(0 AS BIGINT) END) AS BIGINT) AS k$c$v")).flatten.mkString(", ")
      s"""WITH u AS (SELECT user_id,
                            CAST(max(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS BIGINT) AS c,
                            CAST(max(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS BIGINT) AS v,
                            CAST(max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS p
                     FROM events GROUP BY 1),
          cells AS (SELECT c, v, CAST(count(*) AS BIGINT) AS n, CAST(sum(p) AS BIGINT) AS k
                    FROM u GROUP BY 1, 2),
          w AS (SELECT $cellCols FROM cells)
          SELECT n00, n10, n01, n11, k00, k10, k01, k11,
                 0.5 * ((${r(1, 0)} - ${r(0, 0)}) + (${r(1, 1)} - ${r(0, 1)})) AS phi_click,
                 0.5 * ((${r(0, 1)} - ${r(0, 0)}) + (${r(1, 1)} - ${r(1, 0)})) AS phi_view
          FROM w ORDER BY n00"""
    }),
    QueryDef("q_markov_attr", (s, dir) =>
      Analytics.markovAttribution(Tables.events(s, dir)).orderBy("p_conv"),
      {
      def p(s: String, d: String): String = {
        val tot = s"(c_${s}_cl + c_${s}_vi + c_${s}_pu + c_${s}_nu)"
        s"(CASE WHEN $tot = 0 THEN 0.0 ELSE CAST(c_${s}_${d} AS DOUBLE) / CAST($tot AS DOUBLE) END)"
      }
      val det = s"((1.0 - ${p("cl", "cl")}) * (1.0 - ${p("vi", "vi")}) - ${p("cl", "vi")} * ${p("vi", "cl")})"
      val xc = s"((${p("cl", "pu")} * (1.0 - ${p("vi", "vi")}) + ${p("cl", "vi")} * ${p("vi", "pu")}) / nullif($det, 0.0E0))"
      val xv = s"((${p("vi", "pu")} * (1.0 - ${p("cl", "cl")}) + ${p("vi", "cl")} * ${p("cl", "pu")}) / nullif($det, 0.0E0))"
      val xs = s"(${p("st", "cl")} * $xc + ${p("st", "vi")} * $xv + ${p("st", "pu")})"
      val xvNoC = s"(${p("vi", "pu")} / (1.0 - ${p("vi", "vi")}))"
      val xsNoC = s"(${p("st", "vi")} * $xvNoC + ${p("st", "pu")})"
      val xcNoV = s"(${p("cl", "pu")} / (1.0 - ${p("cl", "cl")}))"
      val xsNoV = s"(${p("st", "cl")} * $xcNoV + ${p("st", "pu")})"
      val reC = s"(1.0 - $xsNoC / $xs)"
      val reV = s"(1.0 - $xsNoV / $xs)"
      val transCols = (for {
        s <- Seq("start", "click", "view")
        d <- Seq("click", "view", "purchase", "null")
      } yield s"CAST(sum(CASE WHEN src = '$s' AND dst = '$d' THEN n ELSE CAST(0 AS BIGINT) END) AS BIGINT) AS c_${s.take(2)}_${d.take(2)}")
        .mkString(",\n                       ")
      s"""WITH rel0 AS (SELECT user_id, event_id, ts, event_type
                        FROM events WHERE event_type IN ('click', 'view', 'purchase')),
          pm AS (SELECT user_id, min(CASE WHEN event_type = 'purchase' THEN ts END) AS pmin
                 FROM rel0 GROUP BY 1),
          rel AS (SELECT r.user_id, r.event_id, r.ts, r.event_type
                  FROM rel0 r JOIN pm ON r.user_id = pm.user_id
                  WHERE pm.pmin IS NULL OR r.ts <= pm.pmin),
          seq AS (SELECT user_id, event_type,
                         lag(event_type) OVER (PARTITION BY user_id ORDER BY ts ASC, event_id ASC) AS prev,
                         row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn_desc
                  FROM rel),
          fwd AS (SELECT coalesce(prev, 'start') AS src, event_type AS dst FROM seq),
          ends AS (SELECT event_type AS src, 'null' AS dst FROM seq
                   WHERE rn_desc = 1 AND event_type <> 'purchase'),
          trans AS (SELECT src, dst, CAST(count(*) AS BIGINT) AS n
                    FROM (SELECT * FROM fwd UNION ALL SELECT * FROM ends) GROUP BY 1, 2),
          w AS (SELECT $transCols FROM trans)
          SELECT $xs AS p_conv, $reC AS removal_click, $reV AS removal_view,
                 ($reC / ($reC + $reV)) AS attr_click,
                 ($reV / ($reC + $reV)) AS attr_view
          FROM w ORDER BY p_conv"""
    }),
    QueryDef("q_next_event_acc", (s, dir) =>
      Analytics.nextEventAccuracy(Tables.events(s, dir)).orderBy("n_test"),
      """WITH pairs AS (SELECT user_id, event_type AS src,
                              lead(event_type) OVER (PARTITION BY user_id ORDER BY ts ASC, event_id ASC) AS nxt
                       FROM events),
         p2 AS (SELECT user_id, src, nxt FROM pairs WHERE nxt IS NOT NULL),
         model AS (SELECT src, nxt AS pred FROM (
                     SELECT src, nxt, count(*) AS n,
                            row_number() OVER (PARTITION BY src ORDER BY count(*) DESC, nxt ASC) AS rk
                     FROM p2 WHERE user_id % 2 = 0 GROUP BY src, nxt) WHERE rk = 1),
         test AS (SELECT t.src, t.nxt, m.pred FROM p2 t LEFT JOIN model m ON t.src = m.src
                  WHERE t.user_id % 2 = 1)
         SELECT CAST(count(*) AS BIGINT) AS n_test,
                CAST(sum(CASE WHEN nxt = pred THEN 1 ELSE 0 END) AS BIGINT) AS n_correct,
                CAST(sum(CASE WHEN nxt = pred THEN 1 ELSE 0 END) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS accuracy
         FROM test ORDER BY n_test"""),
    QueryDef("q_lof", (s, dir) =>
      Similarity.lofOutliers(Tables.embeddings(s, dir)).orderBy("rank"),
      {
      val sumB = (1 to 5).map(i => s"arr[$i].lb").mkString("(", " + ", ")")
      s"""WITH m AS (SELECT vec_id, list_transform(embedding::DOUBLE[], v -> CAST(round(v * 1000) AS BIGINT)) AS mm
                     FROM embeddings WHERE vec_id % 4 = 0),
          pr AS (SELECT a.vec_id AS a, b.vec_id AS b,
                        CAST(list_sum(list_transform(generate_series(1, 64), i -> (a.mm[i] - b.mm[i]) * (a.mm[i] - b.mm[i]))) AS BIGINT) AS d2
                 FROM m a JOIN m b ON a.vec_id <> b.vec_id),
          knn AS (SELECT a, b, d2, rk FROM (
                    SELECT a, b, d2, row_number() OVER (PARTITION BY a ORDER BY d2 ASC, b ASC) AS rk
                    FROM pr) WHERE rk <= 5),
          kd AS (SELECT a AS node, d2 AS kdist FROM knn WHERE rk = 5),
          reach AS (SELECT k.a, greatest(k.d2, kd.kdist) AS reach FROM knn k JOIN kd ON kd.node = k.b),
          lrd AS (SELECT a, CASE WHEN sum_reach = 0 THEN NULL
                                 ELSE CAST(5 AS DOUBLE) / CAST(sum_reach AS DOUBLE) END AS lrd FROM (
                    SELECT a, CAST(sum(reach) AS BIGINT) AS sum_reach FROM reach GROUP BY 1)),
          nb AS (SELECT k.a, list_sort(list(struct_pack(rk := k.rk, lb := l.lrd))) AS arr
                 FROM knn k JOIN lrd l ON l.a = k.b GROUP BY 1),
          lofv AS (SELECT nb.a, $sumB / (CAST(5 AS DOUBLE) * lrd.lrd) AS lof
                   FROM nb JOIN lrd ON lrd.a = nb.a),
          rk2 AS (SELECT a, lof, CAST(row_number() OVER (ORDER BY lof DESC, a ASC) AS BIGINT) AS rank FROM lofv)
          SELECT rank, a AS vec_id, lof FROM rk2 WHERE rank <= 10 ORDER BY rank"""
    }),
    QueryDef("q_knn_reg", (s, dir) =>
      Similarity.knnRegression(Tables.embeddings(s, dir)).orderBy("qid"),
      {
      val inner = duckCosineTopKSql(20, 5)
      s"""WITH topk AS ($inner),
          lab AS (SELECT vec_id, CAST(label AS BIGINT) AS label FROM embeddings),
          agg AS (SELECT qid, CAST(sum(l.label) AS BIGINT) AS label_sum, CAST(count(*) AS BIGINT) AS kk
                  FROM topk t JOIN lab l ON l.vec_id = t.nid GROUP BY 1)
          SELECT a.qid, tl.label AS true_label, a.label_sum,
                 CAST(a.label_sum AS DOUBLE) / CAST(a.kk AS DOUBLE) AS pred,
                 abs(CAST(a.label_sum AS DOUBLE) / CAST(a.kk AS DOUBLE) - CAST(tl.label AS DOUBLE)) AS abs_err
          FROM agg a JOIN lab tl ON tl.vec_id = a.qid
          ORDER BY a.qid"""
    }),
    QueryDef("q_rocchio", (s, dir) =>
      Similarity.rocchioAccuracy(Tables.embeddings(s, dir)).orderBy("label"),
      """WITH ex AS (SELECT vec_id, label, i AS dim0,
                            CAST(round(CAST(embedding[i + 1] AS DOUBLE) * 1000) AS BIGINT) AS mv
                     FROM embeddings, unnest(generate_series(0, 63)) AS t(i)),
         cents AS (SELECT label AS clabel, dim0,
                          CAST(round(CAST(sum(mv) AS DOUBLE) / CAST(count(*) AS DOUBLE)) AS BIGINT) AS cv
                   FROM ex GROUP BY 1, 2),
         dists AS (SELECT e.vec_id, e.label, c.clabel,
                          CAST(sum((e.mv - c.cv) * (e.mv - c.cv)) AS BIGINT) AS d2
                   FROM ex e JOIN cents c ON e.dim0 = c.dim0
                   GROUP BY 1, 2, 3),
         asg AS (SELECT vec_id, label, clabel FROM (
                   SELECT vec_id, label, clabel, row_number() OVER (PARTITION BY vec_id ORDER BY d2 ASC, clabel ASC) AS rk
                   FROM dists) WHERE rk = 1)
         SELECT CAST(label AS BIGINT) AS label, CAST(count(*) AS BIGINT) AS n_vecs,
                CAST(sum(CASE WHEN clabel = label THEN 1 ELSE 0 END) AS BIGINT) AS n_correct,
                CAST(sum(CASE WHEN clabel = label THEN 1 ELSE 0 END) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS accuracy
         FROM asg GROUP BY 1 ORDER BY 1"""),
    QueryDef("q_classical_decomp", (s, dir) =>
      Analytics.classicalDecomposition(Tables.events(s, dir)).orderBy("day_epoch"),
      s"""WITH d AS $duckDailyCents,
         t AS (SELECT d, y,
                      CAST(sum(y) OVER (ORDER BY d ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING) AS BIGINT) AS t7,
                      CAST(count(*) OVER (ORDER BY d ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING) AS BIGINT) AS cnt
               FROM d),
         tr AS (SELECT d, y, t7, 7 * y - t7 AS detr_x7, d % 7 AS dow FROM t WHERE cnt = 7),
         s AS (SELECT dow, CAST(sum(detr_x7) AS BIGINT) AS s_sum, CAST(count(*) AS BIGINT) AS s_n
               FROM tr GROUP BY 1)
         SELECT tr.d AS day_epoch, tr.y AS y_cents, tr.t7,
                CAST(tr.t7 AS DOUBLE) / 7.0 AS trend_cents,
                CAST(s.s_sum AS DOUBLE) / CAST(s.s_n AS DOUBLE) / 7.0 AS seasonal_cents,
                CAST(tr.detr_x7 AS DOUBLE) / 7.0 - CAST(s.s_sum AS DOUBLE) / CAST(s.s_n AS DOUBLE) / 7.0 AS remainder_cents
         FROM tr JOIN s ON tr.dow = s.dow ORDER BY day_epoch"""),
    QueryDef("q_paradox", (s, dir) =>
      Analytics.simpsonParadox(
        Tables.orders(s, dir), Tables.customer(s, dir), Tables.nation(s, dir))
        .orderBy("n_strata"),
      s"""WITH base AS (SELECT n_name,
                             CASE WHEN c_mktsegment = 'BUILDING' THEN 1 ELSE 0 END AS is_a,
                             ${Stages.centsSql("o_totalprice")} AS cents
                      FROM orders
                      JOIN customer ON o_custkey = c_custkey
                      JOIN nation ON c_nationkey = n_nationkey
                      WHERE c_mktsegment IN ('BUILDING', 'MACHINERY')),
         strata AS (SELECT n_name,
                           CAST(sum(CASE WHEN is_a = 1 THEN cents ELSE CAST(0 AS BIGINT) END) AS BIGINT) AS sa,
                           CAST(sum(is_a) AS BIGINT) AS na,
                           CAST(sum(CASE WHEN is_a = 0 THEN cents ELSE CAST(0 AS BIGINT) END) AS BIGINT) AS sb,
                           CAST(sum(1 - is_a) AS BIGINT) AS nb
                    FROM base GROUP BY 1 HAVING sum(is_a) > 0 AND sum(1 - is_a) > 0),
         ss AS (SELECT n_name, CAST(sign(sa * nb - sb * na) AS BIGINT) AS stratum_sign, sa, na, sb, nb FROM strata),
         ov AS (SELECT CAST(sign(sum(sa) * sum(nb) - sum(sb) * sum(na)) AS BIGINT) AS overall_sign FROM ss)
         SELECT max(overall_sign) AS overall_sign,
                CAST(count(*) AS BIGINT) AS n_strata,
                CAST(sum(CASE WHEN stratum_sign * overall_sign < 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_flipped,
                CAST(sum(CASE WHEN stratum_sign * overall_sign < 0 THEN 1 ELSE 0 END) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS flip_share
         FROM ss, ov ORDER BY n_strata"""),
    QueryDef("q_abc_xyz", (s, dir) =>
      Relational.abcXyzMatrix(Tables.lineitem(s, dir)).orderBy("abc", "xyz"),
      s"""WITH monthly AS (SELECT l_partkey, year(l_shipdate) * 100 + month(l_shipdate) AS m,
                                 CAST(sum(${Stages.lineitemQtySql}) AS BIGINT) AS q
                          FROM lineitem GROUP BY 1, 2),
         pp AS (SELECT l_partkey, CAST(count(*) AS BIGINT) AS nm, CAST(sum(q) AS BIGINT) AS sq,
                       CAST(sum(q * q) AS BIGINT) AS sqq
                FROM monthly GROUP BY 1),
         rev AS (SELECT l_partkey,
                        CAST(sum(${Stages.lineitemRevUnitsSql}) AS BIGINT) AS r
                 FROM lineitem GROUP BY 1),
         tot AS (SELECT CAST(sum(r) AS BIGINT) AS tot FROM rev),
         rk AS (SELECT l_partkey, r,
                       CAST(sum(r) OVER (ORDER BY r DESC, l_partkey ASC ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum
                FROM rev),
         abc AS (SELECT l_partkey, r,
                        CASE WHEN cum * 100 <= tot * 80 THEN 'A'
                             WHEN cum * 100 <= tot * 95 THEN 'B'
                             ELSE 'C' END AS abc
                 FROM rk, tot),
         xyz AS (SELECT l_partkey,
                        CASE WHEN 4 * (nm * sqq - sq * sq) < sq * sq THEN 'X'
                             WHEN nm * sqq - sq * sq < sq * sq THEN 'Y'
                             ELSE 'Z' END AS xyz
                 FROM pp)
         SELECT abc, xyz, CAST(count(*) AS BIGINT) AS n_parts, CAST(sum(r) AS BIGINT) AS rev_units,
                CAST(CAST(sum(r) AS BIGINT) AS DOUBLE) / CAST((SELECT tot FROM tot) AS DOUBLE) AS rev_share
         FROM abc JOIN xyz ON abc.l_partkey = xyz.l_partkey
         GROUP BY 1, 2 ORDER BY 1, 2"""),
    QueryDef("q_adstock", (s, dir) =>
      Analytics.adstockRegression(Tables.events(s, dir)).orderBy("n_days"),
      {
      val cxx = Stages.cmomSql("saa", "sa", "sa")
      val cxy = Stages.cmomSql("say", "sa", "sy")
      val cyy = Stages.cmomSql("syy", "sy", "sy")
      s"""WITH RECURSIVE d0 AS (SELECT ${Stages.duckEpochBucketSql("ts", 86400)} AS d,
                            CAST(sum(CASE WHEN event_type = 'purchase' THEN ${Stages.centsSql("value")} ELSE CAST(0 AS BIGINT) END) AS BIGINT) AS y,
                            CAST(sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS BIGINT) AS x
                     FROM events GROUP BY 1),
          days AS (SELECT x, y, row_number() OVER (ORDER BY d) AS i FROM d0),
          rec AS (
            SELECT i, x AS a, CAST(1 AS BIGINT) AS n, x AS sa, x * x AS saa,
                   y AS sy, y * y AS syy, x * y AS say
            FROM days WHERE i = 1
            UNION ALL
            SELECT dd.i,
                   dd.x + rec.a // 2,
                   rec.n + 1,
                   rec.sa + (dd.x + rec.a // 2),
                   rec.saa + (dd.x + rec.a // 2) * (dd.x + rec.a // 2),
                   rec.sy + dd.y,
                   rec.syy + dd.y * dd.y,
                   rec.say + (dd.x + rec.a // 2) * dd.y
            FROM rec JOIN days dd ON dd.i = rec.i + 1)
          SELECT n AS n_days,
                 ($cxy / nullif($cxx, 0.0E0)) AS beta,
                 (CAST(sy AS DOUBLE) / CAST(n AS DOUBLE)
              - ($cxy / nullif($cxx, 0.0E0)) * (CAST(sa AS DOUBLE) / CAST(n AS DOUBLE))) AS intercept,
                 (($cxy * $cxy) / nullif($cxx * $cyy, 0.0E0)) AS r2
          FROM rec WHERE i = (SELECT max(i) FROM days) ORDER BY n_days"""
    }),
    QueryDef("q_graph_census", (s, dir) =>
      Graph.graphCensus(Tables.lineitem(s, dir)).orderBy("n_nodes"),
      """WITH op AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem),
         e AS (SELECT a.pk AS pa, b.pk AS pb FROM op a JOIN op b ON a.ok = b.ok AND a.pk < b.pk
               GROUP BY 1, 2 HAVING count(*) >= 2),
         deg AS (SELECT part, CAST(count(*) AS BIGINT) AS d
                 FROM (SELECT pa AS part FROM e UNION ALL SELECT pb FROM e) GROUP BY 1),
         ec AS (SELECT CAST(count(*) AS BIGINT) AS n_edges FROM e),
         dc AS (SELECT CAST(count(*) AS BIGINT) AS n_nodes, CAST(max(d) AS BIGINT) AS max_degree FROM deg),
         cat AS (SELECT CAST(count(DISTINCT l_partkey) AS BIGINT) AS n_catalog FROM lineitem)
         SELECT n_nodes, n_edges, n_catalog, max_degree,
                CASE WHEN n_nodes < 2 THEN NULL
                     ELSE CAST(2 * n_edges AS DOUBLE) / nullif(CAST(n_nodes AS DOUBLE) * CAST(n_nodes - 1 AS DOUBLE), 0.0E0)
                END AS density,
                CASE WHEN n_nodes = 0 THEN NULL
                     ELSE CAST(2 * n_edges AS DOUBLE) / CAST(n_nodes AS DOUBLE) END AS avg_degree,
                CAST(n_nodes AS DOUBLE) / nullif(CAST(n_catalog AS DOUBLE), 0.0E0) AS participation
         FROM ec, dc, cat ORDER BY n_nodes"""),
    QueryDef("q_knee", (s, dir) =>
      Relational.kneePoint(Tables.lineitem(s, dir)).orderBy("n_parts"),
      s"""WITH rev AS (SELECT l_partkey,
                            CAST(sum(${Stages.lineitemRevUnitsSql}) AS BIGINT) AS r
                     FROM lineitem GROUP BY 1),
         t AS (SELECT CAST(sum(r) AS BIGINT) AS t, CAST(count(*) AS BIGINT) AS n FROM rev),
         rk AS (SELECT l_partkey, r,
                       CAST(row_number() OVER (ORDER BY r DESC, l_partkey ASC) AS BIGINT) AS i,
                       CAST(sum(r) OVER (ORDER BY r DESC, l_partkey ASC ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum
                FROM rev),
         dev AS (SELECT rk.*, t.t, t.n,
                        CAST(CAST(cum AS HUGEINT) * n - CAST(t AS HUGEINT) * i AS DECIMAL(38,0)) AS dev
                 FROM rk, t),
         top AS (SELECT * FROM dev ORDER BY dev DESC, i ASC LIMIT 1)
         SELECT n AS n_parts, i AS knee_rank, l_partkey AS knee_partkey,
                CAST(dev AS DOUBLE) AS dev_scaled,
                CAST(cum AS DOUBLE) / CAST(t AS DOUBLE) AS cum_share_at_knee,
                CAST(i AS DOUBLE) / CAST(n AS DOUBLE) AS rank_share_at_knee
         FROM top ORDER BY n_parts"""),
    QueryDef("q_feature_auc", (s, dir) =>
      Analytics.featureAuc(Tables.events(s, dir)).orderBy("feature"),
      s"""WITH b AS (SELECT user_id,
                           CAST(sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS BIGINT) AS clicks,
                           CAST(sum(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS BIGINT) AS views,
                           CAST(sum(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS BIGINT) AS errors,
                           CAST(sum(CASE WHEN event_type = 'purchase' THEN ${Stages.centsSql("value")} ELSE CAST(0 AS BIGINT) END) AS BIGINT) AS spend
                    FROM events GROUP BY 1),
         g0 AS (SELECT spend, CAST(count(*) AS BIGINT) AS c FROM b GROUP BY 1),
         md AS (SELECT spend AS med FROM (
                  SELECT spend, c,
                         coalesce(CAST(sum(c) OVER (ORDER BY spend ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS BIGINT), CAST(0 AS BIGINT)) AS cb,
                         CAST(sum(c) OVER () AS BIGINT) AS n
                  FROM g0)
                WHERE cb < (n + 1) // 2 AND (n + 1) // 2 <= cb + c),
         u AS (SELECT user_id, clicks, views, errors,
                      CASE WHEN spend > med THEN CAST(1 AS BIGINT) ELSE CAST(0 AS BIGINT) END AS label
               FROM b, md),
         lng AS (SELECT 'clicks' AS feature, clicks AS x, label FROM u
                 UNION ALL SELECT 'views', views, label FROM u
                 UNION ALL SELECT 'errors', errors, label FROM u),
         g AS (SELECT feature, x, CAST(sum(label) AS BIGINT) AS p, CAST(sum(1 - label) AS BIGINT) AS q
               FROM lng GROUP BY 1, 2),
         c AS (SELECT feature, p, q,
                      coalesce(CAST(sum(q) OVER (PARTITION BY feature ORDER BY x ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS BIGINT), CAST(0 AS BIGINT)) AS cq
               FROM g)
         SELECT feature, CAST(sum(p) AS BIGINT) AS n_pos, CAST(sum(q) AS BIGINT) AS n_neg,
                CAST(sum(2 * p * cq + p * q) AS BIGINT) AS u2,
                CAST(CAST(sum(2 * p * cq + p * q) AS BIGINT) AS DOUBLE)
                  / nullif(2.0 * CAST(CAST(sum(p) AS BIGINT) AS DOUBLE) * CAST(CAST(sum(q) AS BIGINT) AS DOUBLE), 0.0E0) AS auc
         FROM c GROUP BY 1 ORDER BY 1"""),
    QueryDef("q_roc_points", (s, dir) =>
      Analytics.rocPoints(Tables.events(s, dir)).orderBy("threshold"),
      s"""WITH b AS (SELECT user_id,
                           CAST(sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS BIGINT) AS clicks,
                           CAST(sum(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS BIGINT) AS views,
                           CAST(sum(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS BIGINT) AS errors,
                           CAST(sum(CASE WHEN event_type = 'purchase' THEN ${Stages.centsSql("value")} ELSE CAST(0 AS BIGINT) END) AS BIGINT) AS spend
                    FROM events GROUP BY 1),
         g0 AS (SELECT spend, CAST(count(*) AS BIGINT) AS c FROM b GROUP BY 1),
         md AS (SELECT spend AS med FROM (
                  SELECT spend, c,
                         coalesce(CAST(sum(c) OVER (ORDER BY spend ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS BIGINT), CAST(0 AS BIGINT)) AS cb,
                         CAST(sum(c) OVER () AS BIGINT) AS n
                  FROM g0)
                WHERE cb < (n + 1) // 2 AND (n + 1) // 2 <= cb + c),
         u AS (SELECT user_id, clicks, views, errors,
                      CASE WHEN spend > med THEN CAST(1 AS BIGINT) ELSE CAST(0 AS BIGINT) END AS label
               FROM b, md),
         x AS (SELECT clicks, label, unnest(generate_series(0, 19)) AS t FROM u)
         SELECT CAST(t AS BIGINT) AS threshold,
                CAST(sum(CASE WHEN clicks >= t AND label = 1 THEN 1 ELSE 0 END) AS BIGINT) AS tp,
                CAST(sum(CASE WHEN clicks >= t AND label = 0 THEN 1 ELSE 0 END) AS BIGINT) AS fp,
                CAST(sum(CASE WHEN clicks >= t AND label = 1 THEN 1 ELSE 0 END) AS DOUBLE) / nullif(CAST(CAST(sum(label) AS BIGINT) AS DOUBLE), 0.0E0) AS tpr,
                CAST(sum(CASE WHEN clicks >= t AND label = 0 THEN 1 ELSE 0 END) AS DOUBLE) / nullif(CAST(CAST(sum(1 - label) AS BIGINT) AS DOUBLE), 0.0E0) AS fpr
         FROM x GROUP BY 1 ORDER BY 1"""),
    QueryDef("q_perceptron", (s, dir) =>
      Analytics.perceptronWeekend(Tables.events(s, dir)).orderBy("n_days"),
      s"""WITH RECURSIVE d0 AS (SELECT ${Stages.duckEpochBucketSql("ts", 86400)} AS d,
                           CAST(sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS BIGINT) AS x1,
                           CAST(sum(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS BIGINT) AS x2
                    FROM events GROUP BY 1),
         days AS (SELECT x1, x2,
                         CASE WHEN d % 7 IN (5, 6) THEN CAST(1 AS BIGINT) ELSE CAST(-1 AS BIGINT) END AS y,
                         row_number() OVER (ORDER BY d) AS i
                  FROM d0),
         rec AS (
           SELECT 0 AS i, CAST(0 AS BIGINT) AS w1, CAST(0 AS BIGINT) AS w2, CAST(0 AS BIGINT) AS b,
                  CAST(0 AS BIGINT) AS mist
           UNION ALL
           SELECT dd.i,
                  CASE WHEN dd.y * (rec.w1 * dd.x1 + rec.w2 * dd.x2 + rec.b) <= 0 THEN rec.w1 + dd.y * dd.x1 ELSE rec.w1 END,
                  CASE WHEN dd.y * (rec.w1 * dd.x1 + rec.w2 * dd.x2 + rec.b) <= 0 THEN rec.w2 + dd.y * dd.x2 ELSE rec.w2 END,
                  CASE WHEN dd.y * (rec.w1 * dd.x1 + rec.w2 * dd.x2 + rec.b) <= 0 THEN rec.b + dd.y ELSE rec.b END,
                  CASE WHEN dd.y * (rec.w1 * dd.x1 + rec.w2 * dd.x2 + rec.b) <= 0 THEN rec.mist + 1 ELSE rec.mist END
           FROM rec JOIN days dd ON dd.i = rec.i + 1)
         SELECT CAST((SELECT max(i) FROM days) AS BIGINT) AS n_days, w1, w2, b, mist AS n_mistakes,
                1.0 - CAST(mist AS DOUBLE) / CAST((SELECT max(i) FROM days) AS DOUBLE) AS online_accuracy
         FROM rec WHERE i = (SELECT max(i) FROM days) ORDER BY n_days"""),
    QueryDef("q_forecast_recon", (s, dir) =>
      Analytics.forecastReconciliation(Tables.events(s, dir)).orderBy("event_type"),
      s"""WITH t AS (SELECT ${Stages.duckEpochBucketSql("ts", 86400)} AS d, event_type,
                           CAST(sum(${Stages.centsSql("value")}) AS BIGINT) AS y
                    FROM events GROUP BY 1, 2),
         mx AS (SELECT CAST(max(d) AS BIGINT) AS dmax FROM t),
         w7 AS (SELECT t.event_type, t.d - 7 AS src_d FROM t, mx WHERE t.d > mx.dmax - 7 AND t.d <= mx.dmax),
         bu AS (SELECT w7.event_type, CAST(sum(t2.y) AS BIGINT) AS bu_forecast
                FROM w7 JOIN t t2 ON t2.event_type = w7.event_type AND t2.d = w7.src_d
                GROUP BY 1),
         hist AS (SELECT event_type, CAST(sum(y) AS BIGINT) AS hist_total FROM t GROUP BY 1),
         tot AS (SELECT CAST((SELECT sum(bu_forecast) FROM bu) AS BIGINT) AS grand_bu,
                        CAST((SELECT sum(hist_total) FROM hist) AS BIGINT) AS grand_hist)
         SELECT bu.event_type, bu_forecast, hist_total,
                CAST(hist_total AS DOUBLE) / CAST(grand_hist AS DOUBLE) AS hist_share,
                CAST(grand_bu AS DOUBLE) * (CAST(hist_total AS DOUBLE) / CAST(grand_hist AS DOUBLE)) AS td_forecast,
                CAST(bu_forecast AS DOUBLE)
                  - CAST(grand_bu AS DOUBLE) * (CAST(hist_total AS DOUBLE) / CAST(grand_hist AS DOUBLE)) AS coherence_gap
         FROM bu JOIN hist ON bu.event_type = hist.event_type, tot
         ORDER BY bu.event_type"""),
    QueryDef("q_bandit_replay", (s, dir) =>
      Analytics.banditReplay(Tables.events(s, dir)).orderBy("n_days"),
      s"""WITH RECURSIVE d0 AS (SELECT ${Stages.duckEpochBucketSql("ts", 86400)} AS d,
                           CAST(sum(CASE WHEN event_type = 'purchase' THEN ${Stages.centsSql("value")} ELSE CAST(0 AS BIGINT) END) AS BIGINT) AS rp,
                           CAST(sum(CASE WHEN event_type = 'click' THEN ${Stages.centsSql("value")} ELSE CAST(0 AS BIGINT) END) AS BIGINT) AS rc
                    FROM events GROUP BY 1),
         days AS (SELECT rp, rc, row_number() OVER (ORDER BY d) AS i FROM d0),
         rec AS (
           SELECT 0 AS i, CAST(0 AS BIGINT) AS np, CAST(0 AS BIGINT) AS sp,
                  CAST(0 AS BIGINT) AS nc, CAST(0 AS BIGINT) AS sc,
                  CAST(0 AS BIGINT) AS reward, CAST(0 AS BIGINT) AS pulls_p
           UNION ALL
           SELECT dd.i,
                  CASE WHEN rec.sp * rec.nc >= rec.sc * rec.np THEN rec.np + 1 ELSE rec.np END,
                  CASE WHEN rec.sp * rec.nc >= rec.sc * rec.np THEN rec.sp + dd.rp ELSE rec.sp END,
                  CASE WHEN rec.sp * rec.nc >= rec.sc * rec.np THEN rec.nc ELSE rec.nc + 1 END,
                  CASE WHEN rec.sp * rec.nc >= rec.sc * rec.np THEN rec.sc ELSE rec.sc + dd.rc END,
                  CASE WHEN rec.sp * rec.nc >= rec.sc * rec.np THEN rec.reward + dd.rp ELSE rec.reward + dd.rc END,
                  CASE WHEN rec.sp * rec.nc >= rec.sc * rec.np THEN rec.pulls_p + 1 ELSE rec.pulls_p END
           FROM rec JOIN days dd ON dd.i = rec.i + 1),
         tot AS (SELECT CAST(sum(rp) AS BIGINT) AS tot_p, CAST(sum(rc) AS BIGINT) AS tot_c,
                        CAST(count(*) AS BIGINT) AS n_days
                 FROM d0)
         SELECT n_days, pulls_p AS pulls_purchase, n_days - pulls_p AS pulls_click,
                reward AS reward_cents,
                greatest(tot_p, tot_c) AS best_fixed_cents,
                greatest(tot_p, tot_c) - reward AS regret_cents
         FROM rec, tot WHERE rec.i = (SELECT max(i) FROM days)
         ORDER BY n_days"""),
    QueryDef("q_event_study", (s, dir) =>
      Analytics.eventStudy(Tables.events(s, dir)).orderBy("offset_days"),
      s"""WITH d AS $duckDailyCents,
         pk AS (SELECT d AS peak_d FROM d ORDER BY y DESC, d ASC LIMIT 1),
         o AS (SELECT d.d, d.y, d.d - pk.peak_d AS off FROM d, pk),
         base AS (SELECT CAST(sum(y) AS BIGINT) AS base_sum, CAST(count(*) AS BIGINT) AS base_n
                  FROM o WHERE abs(off) > 3)
         SELECT off AS offset_days, y AS y_cents,
                CAST(base_sum AS DOUBLE) / CAST(base_n AS DOUBLE) AS baseline_cents,
                CAST(y AS DOUBLE) - CAST(base_sum AS DOUBLE) / CAST(base_n AS DOUBLE) AS abnormal_cents
         FROM o, base WHERE abs(off) <= 3 ORDER BY offset_days"""),
    QueryDef("q_temp_mix", (s, dir) =>
      TextAnalysis.temperatureMix(Tables.documents(s, dir)).orderBy("lang"),
      """WITH pl AS (SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
                            CAST(sum(len(string_split_regex(trim(text), '\s+'))) AS BIGINT) AS n_tokens
                     FROM documents GROUP BY 1),
         t AS (SELECT CAST(sum(n_tokens) AS BIGINT) AS tot FROM pl),
         w AS (SELECT lang, n_docs, n_tokens, tot,
                      CAST(round(sqrt(CAST(n_tokens AS DOUBLE) / CAST(tot AS DOUBLE)) * 1000000.0) AS BIGINT) AS w_micro
               FROM pl, t),
         ws AS (SELECT CAST(sum(w_micro) AS BIGINT) AS wsum FROM w)
         SELECT lang, n_docs, n_tokens,
                CAST(n_tokens AS DOUBLE) / CAST(tot AS DOUBLE) AS share,
                w_micro,
                CAST(w_micro AS DOUBLE) / CAST(wsum AS DOUBLE) AS mix_t2,
                (CAST(w_micro AS DOUBLE) / CAST(wsum AS DOUBLE))
                  / (CAST(n_tokens AS DOUBLE) / CAST(tot AS DOUBLE)) AS resample_factor
         FROM w, ws ORDER BY lang"""),
    QueryDef("q_waterfill", (s, dir) =>
      TextAnalysis.tokenWaterfill(Tables.documents(s, dir)).orderBy("source"),
      """WITH ps AS (SELECT source,
                            CAST(sum(len(string_split_regex(trim(text), '\s+'))) AS BIGINT) AS n_tokens
                     FROM documents GROUP BY 1),
         t AS (SELECT CAST(sum(n_tokens) AS BIGINT) AS tot FROM ps),
         r1 AS (SELECT source, n_tokens, tot // 2 AS budget, ((tot // 2) * 40) // 100 AS cap,
                       ((tot // 2) * n_tokens) // tot AS prop
                FROM ps, t),
         r2 AS (SELECT source, n_tokens, budget, cap, prop,
                       least(prop, cap) AS alloc1, prop > cap AS capped
                FROM r1),
         lf AS (SELECT CAST(max(budget) - sum(alloc1) AS BIGINT) AS leftover,
                       CAST(sum(CASE WHEN NOT capped THEN n_tokens ELSE CAST(0 AS BIGINT) END) AS BIGINT) AS uncapped_tokens
                FROM r2)
         SELECT source, n_tokens, budget, cap, alloc1,
                CASE WHEN capped OR uncapped_tokens = 0 THEN alloc1
                     ELSE least(cap, alloc1 + (leftover * n_tokens) // uncapped_tokens) END AS alloc2,
                CAST(CASE WHEN capped OR uncapped_tokens = 0 THEN alloc1
                          ELSE least(cap, alloc1 + (leftover * n_tokens) // uncapped_tokens) END AS DOUBLE)
                  / CAST(n_tokens AS DOUBLE) AS sample_rate
         FROM r2, lf ORDER BY source"""),
    QueryDef("q_curriculum", (s, dir) =>
      TextAnalysis.curriculumSchedule(Tables.documents(s, dir)).orderBy("phase"),
      """WITH ps AS (SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
                            CAST(sum(n_chars) AS BIGINT) AS sum_chars,
                            CAST(sum(len(string_split_regex(trim(text), '\s+'))) AS BIGINT) AS n_tokens
                     FROM documents GROUP BY 1),
         rk AS (SELECT *,
                       CAST(row_number() OVER w AS BIGINT) AS phase,
                       CAST(sum(n_docs) OVER (w ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_docs,
                       CAST(sum(n_tokens) OVER (w ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_tokens
                FROM ps
                WINDOW w AS (ORDER BY CAST(sum_chars AS DOUBLE) / CAST(n_docs AS DOUBLE) ASC, source ASC))
         SELECT phase, source, n_docs, n_tokens,
                CAST(sum_chars AS DOUBLE) / CAST(n_docs AS DOUBLE) AS mean_chars,
                cum_docs, cum_tokens
         FROM rk ORDER BY phase"""),
    QueryDef("q_rendezvous", (s, dir) =>
      Relational.rendezvousShards(Tables.documents(s, dir)).orderBy("shard8"),
      {
      def h(n: Int): String = Stages.duckMd5BitsSql(s"concat(CAST(doc_id AS VARCHAR), '_', '$n')", "1", 15)
      def argmax(n: Int): String =
        (0 until n)
          .map(i => s"struct_pack(h := ${h(i)}, s := CAST($i AS BIGINT))")
          .mkString("(list_max([", ", ", "])).s")
      s"""WITH a AS (SELECT doc_id, ${argmax(8)} AS shard8, ${argmax(9)} AS shard9 FROM documents)
          SELECT shard8, CAST(count(*) AS BIGINT) AS n_docs,
                 CAST(sum(CASE WHEN shard8 <> shard9 THEN 1 ELSE 0 END) AS BIGINT) AS n_moved,
                 CAST(sum(CASE WHEN shard8 <> shard9 AND shard9 <> 8 THEN 1 ELSE 0 END) AS BIGINT) AS n_moved_wrongly,
                 CAST(sum(CASE WHEN shard8 <> shard9 THEN 1 ELSE 0 END) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS move_share
          FROM a GROUP BY 1 ORDER BY 1"""
    }),
    QueryDef("q_vnodes", (s, dir) =>
      Relational.vnodeBalance(Tables.documents(s, dir)).orderBy("scheme"),
      {
      val ring = "1152921504606846976"
      val docH = Stages.duckMd5BitsSql("CAST(doc_id AS VARCHAR)", "1", 15)
      def pointH(s: Int, v: Int): String = Stages.duckMd5BitsSql(s"'p_${s}_$v'", "1", 15)
      def owner(vnodes: Int): String =
        (for { sh <- 0 until 8; v <- 0 until vnodes } yield
          s"struct_pack(d := (((${pointH(sh, v)} - $docH) % $ring) + $ring) % $ring, s := CAST($sh AS BIGINT))")
          .mkString("(list_min([", ", ", "])).s")
      s"""WITH a AS (SELECT ${owner(1)} AS plain, ${owner(16)} AS vnode FROM documents),
          p AS (SELECT plain AS shard, CAST(count(*) AS BIGINT) AS n FROM a GROUP BY 1),
          ps AS (SELECT 'plain' AS scheme, CAST(count(*) AS BIGINT) AS n_shards,
                        CAST(max(n) AS BIGINT) AS max_load, CAST(sum(n) AS BIGINT) AS total
                 FROM p),
          v AS (SELECT vnode AS shard, CAST(count(*) AS BIGINT) AS n FROM a GROUP BY 1),
          vs AS (SELECT 'vnode16' AS scheme, CAST(count(*) AS BIGINT) AS n_shards,
                        CAST(max(n) AS BIGINT) AS max_load, CAST(sum(n) AS BIGINT) AS total
                 FROM v)
          SELECT scheme, n_shards, max_load, total,
                 CAST(max_load * n_shards AS DOUBLE) / CAST(total AS DOUBLE) AS imbalance
          FROM (SELECT * FROM ps UNION ALL SELECT * FROM vs)
          ORDER BY scheme"""
    }),
    QueryDef("q_islands", (s, dir) =>
      Analytics.activityIslands(Tables.events(s, dir)).orderBy("user_id", "island_start"),
      s"""WITH ud AS (SELECT DISTINCT user_id, ${Stages.duckEpochBucketSql("ts", 86400)} AS d
                     FROM events),
         top5 AS (SELECT user_id FROM (
                    SELECT user_id, count(*) AS n_events,
                           row_number() OVER (ORDER BY count(*) DESC, user_id ASC) AS rk
                    FROM events GROUP BY 1) WHERE rk <= 5),
         g AS (SELECT ud.user_id, d,
                      d - row_number() OVER (PARTITION BY ud.user_id ORDER BY d ASC) AS grp
               FROM ud JOIN top5 ON ud.user_id = top5.user_id),
         isl AS (SELECT user_id, CAST(min(d) AS BIGINT) AS island_start,
                        CAST(max(d) AS BIGINT) AS island_end,
                        CAST(count(*) AS BIGINT) AS island_days
                 FROM g GROUP BY user_id, grp)
         SELECT user_id, island_start, island_end, island_days,
                island_start - lag(island_end) OVER (PARTITION BY user_id ORDER BY island_start ASC) - 1 AS gap_before
         FROM isl ORDER BY user_id, island_start"""),
    QueryDef("q_sql_q1", (s, dir) =>
      Relational.sqlQ1(s, Tables.lineitem(s, dir)).orderBy("l_returnflag", "l_linestatus"),
      s"""SELECT l_returnflag, l_linestatus,
                CAST(sum(${Stages.lineitemQtySql}) AS BIGINT) AS sum_qty,
                CAST(sum(${Stages.centsSql("l_extendedprice")}) AS BIGINT) AS sum_base_cents,
                CAST(sum(${Stages.lineitemRevUnitsSql}) AS BIGINT) AS sum_disc_units,
                CAST(count(*) AS BIGINT) AS count_order
         FROM lineitem
         GROUP BY l_returnflag, l_linestatus
         ORDER BY l_returnflag, l_linestatus"""),
    QueryDef("q_sql_nation_share", (s, dir) =>
      Relational.sqlNationYearShare(
        s, Tables.lineitem(s, dir), Tables.orders(s, dir),
        Tables.customer(s, dir), Tables.nation(s, dir))
        .orderBy("o_year", "year_rank"),
      s"""WITH rev AS (
           SELECT n_name, year(o_orderdate) AS o_year,
                  CAST(sum(${Stages.lineitemRevUnitsSql}) AS BIGINT) AS rev_units
           FROM lineitem
           JOIN orders ON l_orderkey = o_orderkey
           JOIN customer ON o_custkey = c_custkey
           JOIN nation ON c_nationkey = n_nationkey
           GROUP BY n_name, year(o_orderdate))
         SELECT n_name, CAST(o_year AS BIGINT) AS o_year, rev_units,
                CAST(rev_units AS DOUBLE)
                  / CAST(sum(rev_units) OVER (PARTITION BY o_year) AS DOUBLE) AS year_share,
                CAST(row_number() OVER (PARTITION BY o_year ORDER BY rev_units DESC, n_name ASC) AS BIGINT)
                  AS year_rank
         FROM rev ORDER BY o_year, year_rank"""),
    QueryDef("q_roundtrip_parquet", (s, dir) =>
      graft.engine.Sources.roundtripAudit(s, Tables.documents(s, dir), "parquet")
        .orderBy("n_rows"),
      """WITH src AS (SELECT doc_id, md5(text) AS h FROM documents)
         SELECT CAST(count(*) AS BIGINT) AS n_rows, CAST(sum(doc_id) AS BIGINT) AS sum_ids,
                CAST(count(DISTINCT h) AS BIGINT) AS n_distinct_h,
                min(h) AS min_h, max(h) AS max_h
         FROM src ORDER BY n_rows"""),
    QueryDef("q_roundtrip_csv", (s, dir) =>
      graft.engine.Sources.roundtripAudit(s, Tables.documents(s, dir), "csv")
        .orderBy("n_rows"),
      """WITH src AS (SELECT doc_id, md5(text) AS h FROM documents)
         SELECT CAST(count(*) AS BIGINT) AS n_rows, CAST(sum(doc_id) AS BIGINT) AS sum_ids,
                CAST(count(DISTINCT h) AS BIGINT) AS n_distinct_h,
                min(h) AS min_h, max(h) AS max_h
         FROM src ORDER BY n_rows"""),
    QueryDef("q_roundtrip_json", (s, dir) =>
      graft.engine.Sources.roundtripAudit(s, Tables.documents(s, dir), "json")
        .orderBy("n_rows"),
      """WITH src AS (SELECT doc_id, md5(text) AS h FROM documents)
         SELECT CAST(count(*) AS BIGINT) AS n_rows, CAST(sum(doc_id) AS BIGINT) AS sum_ids,
                CAST(count(DISTINCT h) AS BIGINT) AS n_distinct_h,
                min(h) AS min_h, max(h) AS max_h
         FROM src ORDER BY n_rows"""),
    QueryDef("q_roundtrip_orc", (s, dir) =>
      graft.engine.Sources.roundtripAudit(s, Tables.documents(s, dir), "orc")
        .orderBy("n_rows"),
      """WITH src AS (SELECT doc_id, md5(text) AS h FROM documents)
         SELECT CAST(count(*) AS BIGINT) AS n_rows, CAST(sum(doc_id) AS BIGINT) AS sum_ids,
                CAST(count(DISTINCT h) AS BIGINT) AS n_distinct_h,
                min(h) AS min_h, max(h) AS max_h
         FROM src ORDER BY n_rows"""),
    QueryDef("q_oaxaca", (s, dir) =>
      Inference.oaxacaDecomposition(
        Tables.customer(s, dir), Tables.orders(s, dir), Tables.nation(s, dir))
        .orderBy("n_name"),
      s"""WITH base AS (SELECT c_mktsegment AS seg, n_name,
                              CAST(count(*) AS BIGINT) AS cnt,
                              CAST(sum(${Stages.centsSql("o_totalprice")}) AS BIGINT) AS s
                       FROM orders
                       JOIN customer ON o_custkey = c_custkey
                       JOIN nation ON c_nationkey = n_nationkey
                       WHERE c_mktsegment IN ('BUILDING', 'MACHINERY')
                       GROUP BY 1, 2),
         a AS (SELECT n_name, cnt AS n_a, s AS sum_a FROM base WHERE seg = 'BUILDING'),
         b AS (SELECT n_name, cnt AS n_b, s AS sum_b FROM base WHERE seg = 'MACHINERY'),
         common AS (SELECT a.n_name, n_a, n_b, sum_a, sum_b FROM a JOIN b ON a.n_name = b.n_name),
         t AS (SELECT CAST(sum(n_a) AS BIGINT) AS tot_a, CAST(sum(n_b) AS BIGINT) AS tot_b FROM common)
         SELECT n_name, n_a, n_b, sum_a, sum_b,
                CAST(sum_a AS DOUBLE) / CAST(n_a AS DOUBLE) / 100.0 AS mean_a_dollars,
                CAST(sum_b AS DOUBLE) / CAST(n_b AS DOUBLE) / 100.0 AS mean_b_dollars,
                CAST(n_a AS DOUBLE) / CAST(tot_a AS DOUBLE) AS w_a,
                CAST(n_b AS DOUBLE) / CAST(tot_b AS DOUBLE) AS w_b,
                (CAST(n_a AS DOUBLE) / CAST(tot_a AS DOUBLE) - CAST(n_b AS DOUBLE) / CAST(tot_b AS DOUBLE))
                  * (CAST(sum_b AS DOUBLE) / CAST(n_b AS DOUBLE) / 100.0) AS explained,
                (CAST(n_a AS DOUBLE) / CAST(tot_a AS DOUBLE))
                  * (CAST(sum_a AS DOUBLE) / CAST(n_a AS DOUBLE) / 100.0
                     - CAST(sum_b AS DOUBLE) / CAST(n_b AS DOUBLE) / 100.0) AS unexplained
         FROM common, t ORDER BY n_name"""),
    QueryDef("q_spacesaving", (s, dir) =>
      TextAnalysis.spaceSavingHeavyHitters(Tables.documents(s, dir)).orderBy("n_tokens"),
      """WITH tk AS (SELECT string_split_regex(trim(text), '\s+') AS t FROM documents),
         b AS (SELECT unnest(list_transform(generate_series(1, len(t) - 1), i -> t[i] || ' ' || t[i + 1])) AS token
               FROM tk WHERE len(t) >= 2),
         n AS (SELECT CAST(count(*) AS BIGINT) AS n_tokens,
                      CAST(least(64, count(DISTINCT token)) AS BIGINT) AS n_candidates
               FROM b)
         SELECT CAST(64 AS BIGINT) AS k, n_tokens, n_candidates,
                TRUE AS est_geq_exact, TRUE AS overest_within_bound, TRUE AS heavy_all_present
         FROM n ORDER BY n_tokens"""),
    QueryDef("q_zipf", (s, dir) =>
      TextAnalysis.zipfAudit(Tables.documents(s, dir)).orderBy("rank"),
      """WITH t AS (SELECT unnest(string_split_regex(trim(text), '\s+')) AS token FROM documents),
         c AS (SELECT token, CAST(count(*) AS BIGINT) AS n FROM t GROUP BY 1),
         c1 AS (SELECT CAST(max(n) AS BIGINT) AS c1 FROM c),
         r AS (SELECT token, n, CAST(row_number() OVER (ORDER BY n DESC, token ASC) AS BIGINT) AS rank FROM c)
         SELECT rank, token, n, rank * n AS rf,
                CAST(rank * n AS DOUBLE) / CAST(c1 AS DOUBLE) AS rf_ratio
         FROM r, c1 WHERE rank <= 30 ORDER BY rank"""),
    QueryDef("q_incr_dedup", (s, dir) =>
      Dedup.incrementalDedup(Tables.documents(s, dir)).orderBy("doc_id"),
      s"""WITH g AS (SELECT doc_id, $duckShingles AS grams FROM documents),
         $duckMinhashSigCtes,
         sp AS (SELECT doc_id, sig,
                  ${Stages.duckMd5BitsSql("CAST(doc_id AS VARCHAR)", "1", 8)} % 5 = 0 AS is_batch
                FROM sig),
         bands AS (SELECT doc_id, is_batch, sig, unnest(generate_series(0,7)) AS band FROM sp),
         keyed AS (SELECT doc_id, is_batch, band, sig[band*4+1:band*4+4] AS bsig FROM bands),
         batch AS (SELECT DISTINCT doc_id FROM keyed WHERE is_batch),
         dup AS (SELECT DISTINCT k.doc_id FROM keyed k
                 WHERE k.is_batch AND EXISTS (SELECT 1 FROM keyed h2
                   WHERE NOT h2.is_batch AND h2.band = k.band AND h2.bsig = k.bsig))
         SELECT b.doc_id, b.doc_id IN (SELECT doc_id FROM dup) AS is_dup
         FROM batch b ORDER BY doc_id"""),
    QueryDef("q_local_volume", (s, dir) =>
      Relational.localSupplierVolume(
        Tables.customer(s, dir), Tables.orders(s, dir), Tables.lineitem(s, dir),
        Tables.supplier(s, dir), Tables.nation(s, dir), Tables.region(s, dir),
        "ASIA", "1996-01-01", "1997-01-01").orderBy("n_name"),
      s"""SELECT n_name,
                CAST(count(*) AS BIGINT) AS n_items,
                sum(${Stages.lineitemRevUnitsSql}) / CAST(10000 AS DOUBLE) AS revenue
         FROM lineitem
         JOIN orders ON l_orderkey = o_orderkey
          AND o_orderdate >= TIMESTAMP '1996-01-01' AND o_orderdate < TIMESTAMP '1997-01-01'
         JOIN customer ON o_custkey = c_custkey
         JOIN supplier ON l_suppkey = s_suppkey AND s_nationkey = c_nationkey
         JOIN nation ON c_nationkey = n_nationkey
         JOIN region ON n_regionkey = r_regionkey AND r_name = 'ASIA'
         GROUP BY 1 ORDER BY n_name"""),
    QueryDef("q_mutual_knn", (s, dir) =>
      Similarity.mutualTopNeighbors(Tables.embeddings(s, dir)).orderBy("va"),
      """WITH p AS (
           SELECT a.label AS label, a.vec_id AS va, b.vec_id AS vb,
                  round(list_dot_product(a.embedding::DOUBLE[], b.embedding::DOUBLE[]) /
                        (sqrt(list_dot_product(a.embedding::DOUBLE[], a.embedding::DOUBLE[])) *
                         sqrt(list_dot_product(b.embedding::DOUBLE[], b.embedding::DOUBLE[]))), 3) AS cos_sim
           FROM embeddings a JOIN embeddings b ON a.label = b.label AND a.vec_id <> b.vec_id),
         t AS (SELECT label, va, vb, cos_sim,
                      row_number() OVER (PARTITION BY va ORDER BY cos_sim DESC, vb) AS rn
               FROM p)
         SELECT x.label AS label, x.va AS va, x.vb AS vb, x.cos_sim AS cos_sim
         FROM t x JOIN t y ON x.va = y.vb AND x.vb = y.va AND y.rn = 1
         WHERE x.rn = 1 AND x.va < x.vb ORDER BY va"""),
    QueryDef("q_life_table", (s, dir) =>
      Analytics.lifeTable(Tables.events(s, dir)).orderBy("dur_day"),
      s"""WITH pu AS (SELECT user_id,
                            min(${Stages.duckEpochBucketSql("ts", 1)}) AS first_s,
                            max(${Stages.duckEpochBucketSql("ts", 1)}) AS last_s
                     FROM events GROUP BY 1),
         mx AS (SELECT max(${Stages.duckEpochBucketSql("ts", 1)}) AS max_s FROM events),
         u AS (SELECT (last_s - first_s) // 86400 AS dur_day,
                      last_s >= max_s - 86400 AS censored
               FROM pu, mx),
         d AS (SELECT dur_day,
                      CAST(sum(CASE WHEN censored THEN 0 ELSE 1 END) AS BIGINT) AS d_churn,
                      CAST(sum(CASE WHEN censored THEN 1 ELSE 0 END) AS BIGINT) AS c_censored
               FROM u GROUP BY 1),
         e AS (SELECT dur_day, d_churn, c_censored,
                      coalesce(sum(d_churn + c_censored) OVER
                        (ORDER BY dur_day ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS exited_before
               FROM d),
         n AS (SELECT count(*) AS n_users FROM pu)
         SELECT dur_day, CAST(n_users - exited_before AS BIGINT) AS n_risk, d_churn, c_censored,
                CAST(d_churn AS DOUBLE) / CAST(n_users - exited_before AS DOUBLE) AS hazard
         FROM e, n ORDER BY dur_day"""),
    QueryDef("q_conformal", (s, dir) =>
      Analytics.conformalInterval(Tables.lineitem(s, dir)),
      {
      val linreg = Stages.linregSql().toMap
      s"""WITH b AS (SELECT CASE WHEN ${Stages.duckMd5BitsSql(duckLineitemRowKeySql, "1", 8)} % 10 < 6 THEN 'train'
                              WHEN ${Stages.duckMd5BitsSql(duckLineitemRowKeySql, "1", 8)} % 10 < 8 THEN 'cal'
                              ELSE 'test' END AS split,
                            ${Stages.lineitemQtySql} AS x,
                            ${Stages.centsSql("l_extendedprice")} // 100 AS y
                     FROM lineitem),
         m AS (SELECT count(*) AS n, sum(x) AS sx, sum(y) AS sy, sum(x * y) AS sxy,
                      sum(x * x) AS sxx, sum(y * y) AS syy
               FROM b WHERE split = 'train'),
         h AS (SELECT split, CAST(round(abs(${Stages.residualSql})) AS BIGINT) AS abs_resid
               FROM b, m WHERE split <> 'train'),
         nc AS (SELECT count(*) AS n_cal FROM h WHERE split = 'cal'),
         cc AS (SELECT abs_resid, count(*) AS cnt FROM h WHERE split = 'cal' GROUP BY 1),
         q AS (SELECT min(abs_resid) AS qhat_dollars
               FROM (SELECT abs_resid,
                            sum(cnt) OVER (ORDER BY abs_resid ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
                     FROM cc), nc
               WHERE cum >= (9 * (n_cal + 1) + 9) // 10),
         t AS (SELECT CAST(count(*) AS BIGINT) AS n_test,
                      CAST(sum(CASE WHEN abs_resid <= qhat_dollars THEN 1 ELSE 0 END) AS BIGINT) AS n_covered
               FROM h, q WHERE split = 'test')
         SELECT m.n AS n_train, CAST(nc.n_cal AS BIGINT) AS n_cal, t.n_test AS n_test,
                ${linreg("slope")} AS slope,
                ${linreg("intercept")} AS intercept,
                q.qhat_dollars AS qhat_dollars,
                CAST(t.n_covered AS DOUBLE) / CAST(t.n_test AS DOUBLE) AS coverage
         FROM m, nc, q, t"""
    }),
    QueryDef("q_silhouette", (s, dir) =>
      Similarity.silhouette(Tables.embeddings(s, dir)).orderBy("cell"),
      duckSilhouetteSql(8)),
    QueryDef("q_post_strat", (s, dir) =>
      Relational.postStratified(Tables.events(s, dir)).orderBy("event_type"),
      s"""WITH s AS (SELECT event_type,
                           CAST(count(*) AS BIGINT) AS n_pop,
                           CAST(sum(CASE WHEN ${Stages.duckMd5BitsSql("CAST(event_id AS VARCHAR)", "1", 8)} % 10 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_sample,
                           CAST(coalesce(sum(CASE WHEN ${Stages.duckMd5BitsSql("CAST(event_id AS VARCHAR)", "1", 8)} % 10 = 0 THEN ${Stages.centsSql("value")} ELSE 0 END), 0) AS BIGINT) AS s_cents
                    FROM events GROUP BY 1),
         t AS (SELECT sum(n_pop) AS n_total FROM s)
         SELECT event_type, n_pop, n_sample,
                CAST(n_pop AS DOUBLE) / CAST(n_total AS DOUBLE) AS weight,
                CASE WHEN n_sample = 0 THEN NULL
                     ELSE (CAST(s_cents AS DOUBLE) / CAST(n_sample AS DOUBLE)) / 100.0 END AS sample_mean,
                (CAST(n_pop AS DOUBLE) / CAST(n_total AS DOUBLE)) *
                (CASE WHEN n_sample = 0 THEN NULL
                      ELSE (CAST(s_cents AS DOUBLE) / CAST(n_sample AS DOUBLE)) / 100.0 END) AS contribution
         FROM s, t ORDER BY event_type"""),
    QueryDef("q_grid_cluster", (s, dir) =>
      Similarity.gridDensityClusters(Tables.embeddings(s, dir))
        .orderBy("comp_gx", "comp_gy"),
      """WITH RECURSIVE cells AS (
           SELECT gx, gy, CAST(count(*) AS BIGINT) AS n
           FROM (SELECT (CAST(round(embedding[1]::DOUBLE * 1000) AS BIGINT) + 10000) // 50 - 200 AS gx,
                        (CAST(round(embedding[2]::DOUBLE * 1000) AS BIGINT) + 10000) // 50 - 200 AS gy
                 FROM embeddings)
           GROUP BY 1, 2 HAVING count(*) >= 5),
         edges AS (
           SELECT a.gx AS ax, a.gy AS ay, b.gx AS bgx, b.gy AS bgy
           FROM cells a JOIN cells b
             ON abs(a.gx - b.gx) <= 1 AND abs(a.gy - b.gy) <= 1
            AND (a.gx <> b.gx OR a.gy <> b.gy)),
         r AS (
           SELECT gx, gy, gx AS rx, gy AS ry FROM cells
           UNION
           SELECT e.bgx, e.bgy, r.rx, r.ry FROM r JOIN edges e ON e.ax = r.gx AND e.ay = r.gy),
         lab AS (SELECT gx, gy, min((rx + 400) * 100000 + (ry + 400)) AS ck FROM r GROUP BY 1, 2),
         j AS (SELECT c.gx, c.gy, c.n, l.ck FROM cells c JOIN lab l USING (gx, gy))
         SELECT ck // 100000 - 400 AS comp_gx, ck % 100000 - 400 AS comp_gy,
                CAST(count(*) AS BIGINT) AS n_cells, CAST(sum(n) AS BIGINT) AS n_points,
                min(gx) AS min_gx, max(gx) AS max_gx, min(gy) AS min_gy, max(gy) AS max_gy
         FROM j GROUP BY ck ORDER BY comp_gx, comp_gy"""),
    QueryDef("q_centroid_drift", (s, dir) =>
      Similarity.centroidDrift(Tables.embeddings(s, dir)).orderBy("label"),
      """WITH e AS (SELECT vec_id % 2 = 0 AS half_a, label,
                           unnest(generate_series(1, 64)) AS dim, embedding
                    FROM embeddings),
         m AS (SELECT half_a, label, CAST(dim AS BIGINT) AS dim,
                      CAST(round(embedding[dim]::DOUBLE * 1000) AS BIGINT) AS milli
               FROM e),
         c AS (SELECT label, dim, half_a, CAST(count(*) AS BIGINT) AS n, sum(milli) AS ms
               FROM m GROUP BY 1, 2, 3),
         c2 AS (SELECT label, dim, half_a, n,
                       CAST(round(CAST(ms AS DOUBLE) / CAST(n AS DOUBLE)) AS BIGINT) AS c
                FROM c),
         ha AS (SELECT label, dim, c AS ca, n AS na FROM c2 WHERE half_a),
         hb AS (SELECT label, dim, c AS cb, n AS nb FROM c2 WHERE NOT half_a),
         p AS (SELECT coalesce(ha.label, hb.label) AS label, ca, na, cb, nb
               FROM ha FULL JOIN hb ON ha.label = hb.label AND ha.dim = hb.dim)
         SELECT label, coalesce(max(na), 0) AS n_a, coalesce(max(nb), 0) AS n_b,
                CAST(sum((ca - cb) * (ca - cb)) AS BIGINT) AS dist2,
                sqrt(CAST(sum((ca - cb) * (ca - cb)) AS DOUBLE)) / 1000.0 AS drift
         FROM p GROUP BY label ORDER BY label"""),
    QueryDef("q_apdex", (s, dir) =>
      Analytics.apdex(Tables.events(s, dir)).orderBy("event_type"),
      s"""SELECT event_type, CAST(count(*) AS BIGINT) AS n,
                CAST(sum(CASE WHEN ${Stages.centsSql("value")} <= 5000 THEN 1 ELSE 0 END) AS BIGINT) AS n_satisfied,
                CAST(sum(CASE WHEN ${Stages.centsSql("value")} > 5000
                               AND ${Stages.centsSql("value")} <= 20000 THEN 1 ELSE 0 END) AS BIGINT) AS n_tolerating,
                CAST(2 * sum(CASE WHEN ${Stages.centsSql("value")} <= 5000 THEN 1 ELSE 0 END)
                     + sum(CASE WHEN ${Stages.centsSql("value")} > 5000
                                 AND ${Stages.centsSql("value")} <= 20000 THEN 1 ELSE 0 END) AS DOUBLE)
                / CAST(2 * count(*) AS DOUBLE) AS apdex
         FROM events GROUP BY event_type ORDER BY event_type"""),
    QueryDef("q_anova", (s, dir) =>
      Analytics.anovaByType(Tables.events(s, dir)),
      {
      val types = Analytics.AnovaTypes
      val perType = types.zipWithIndex.map { case (t, i) =>
        s"CAST(sum(CASE WHEN event_type = '$t' THEN 1 ELSE 0 END) AS BIGINT) AS n_$i, " +
          s"CAST(sum(CASE WHEN event_type = '$t' THEN cents ELSE 0 END) AS BIGINT) AS s_$i"
      }.mkString(",\n                  ")
      s"""WITH base AS (SELECT event_type, ${Stages.centsSql("value")} AS cents FROM events
                        WHERE event_type IN (${types.map(t => s"'$t'").mkString(", ")})),
         m AS (SELECT CAST(count(*) AS BIGINT) AS n, sum(cents) AS s, sum(cents * cents) AS q,
                  $perType
               FROM base),
         x AS (SELECT n, ${Analytics.anovaSsbSql(types.length)} AS ssb,
                      ${Analytics.anovaSstSql} AS sst
               FROM m)
         SELECT n, CAST(${types.length} AS BIGINT) AS k, ssb, sst - ssb AS ssw,
                (ssb / ${types.length - 1}.0) / nullif((sst - ssb) / nullif(CAST(n - ${types.length} AS DOUBLE), 0.0E0), 0.0E0) AS f_stat,
                ssb / nullif(sst, 0.0E0) AS eta2
         FROM x"""
    }),
    QueryDef("q_welch", (s, dir) =>
      Analytics.welchTTest(Tables.events(s, dir)),
      s"""WITH base AS (SELECT event_type, ${Stages.centsSql("value")} AS cents FROM events),
         m AS (SELECT
                 CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS n1,
                 CAST(sum(CASE WHEN event_type = 'purchase' THEN cents ELSE 0 END) AS BIGINT) AS s1,
                 CAST(sum(CASE WHEN event_type = 'purchase' THEN cents * cents ELSE 0 END) AS BIGINT) AS q1,
                 CAST(sum(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS BIGINT) AS n2,
                 CAST(sum(CASE WHEN event_type = 'view' THEN cents ELSE 0 END) AS BIGINT) AS s2,
                 CAST(sum(CASE WHEN event_type = 'view' THEN cents * cents ELSE 0 END) AS BIGINT) AS q2
               FROM base)
         SELECT n1, n2,
                (CAST(s1 AS DOUBLE) / nullif(CAST(n1 AS DOUBLE), 0.0E0)) / 100.0 AS mean1,
                (CAST(s2 AS DOUBLE) / nullif(CAST(n2 AS DOUBLE), 0.0E0)) / 100.0 AS mean2,
                ${Analytics.welchTSql} AS t_stat,
                ${Analytics.welchDfSql} AS df
         FROM m"""),
    QueryDef("q_poisson_boot", (s, dir) =>
      Analytics.poissonBootstrap(Tables.events(s, dir)).orderBy("resample"),
      {
      val mult = Analytics.poissonMultiplierSql(duckResampleHashSql)
      s"""WITH e AS (SELECT event_id, ${Stages.centsSql("value")} AS cents,
                            unnest(generate_series(0, 19)) AS r
                     FROM events),
         d AS (SELECT CAST(r AS BIGINT) AS resample, $mult AS m, cents FROM e),
         g AS (SELECT resample, CAST(sum(m) AS BIGINT) AS n_eff, CAST(sum(m * cents) AS BIGINT) AS s_cents
               FROM d GROUP BY 1)
         SELECT resample, n_eff, s_cents,
                CASE WHEN n_eff = 0 THEN NULL
                     ELSE (CAST(s_cents AS DOUBLE) / CAST(n_eff AS DOUBLE)) / 100.0 END AS mean_dollars
         FROM g ORDER BY resample"""
    }),
    QueryDef("q_blocking_eval", (s, dir) =>
      Dedup.blockingQuality(Tables.documents(s, dir)),
      s"""WITH g AS (SELECT doc_id, source, $duckShingles AS grams FROM documents),
         truth AS (
           SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
           FROM g a JOIN g b ON a.source = b.source AND a.doc_id < b.doc_id
           WHERE CAST(len(list_intersect(a.grams, b.grams)) AS DOUBLE) /
                 CAST(len(list_distinct(list_concat(a.grams, b.grams))) AS DOUBLE) >= 0.5),
         $duckMinhashSigCtes,
         bands AS (SELECT doc_id, sig, unnest(generate_series(0,7)) AS band FROM sig),
         keyed AS (SELECT doc_id, band, sig[band*4+1:band*4+4] AS bsig FROM bands),
         kept AS (SELECT * FROM keyed QUALIFY count(*) OVER (PARTITION BY band, bsig) <= $bucketCap),
         cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
                  FROM kept a JOIN kept b ON a.band = b.band AND a.bsig = b.bsig AND a.doc_id < b.doc_id),
         nn AS (SELECT CAST(count(*) AS BIGINT) AS n_docs FROM documents),
         tt AS (SELECT CAST(count(*) AS BIGINT) AS n_true FROM truth),
         cc AS (SELECT CAST(count(*) AS BIGINT) AS n_cand FROM cand),
         hh AS (SELECT CAST(count(*) AS BIGINT) AS n_hit FROM truth JOIN cand USING (doc_a, doc_b))
         SELECT n_docs, n_true, n_cand, n_hit,
                CASE WHEN n_true = 0 THEN NULL ELSE CAST(n_hit AS DOUBLE) / CAST(n_true AS DOUBLE) END AS completeness,
                CASE WHEN n_docs < 2 THEN NULL
                     ELSE 1.0 - CAST(n_cand AS DOUBLE) / (CAST(n_docs AS DOUBLE) * CAST(n_docs - 1 AS DOUBLE) / 2.0) END AS reduction_ratio
         FROM nn, tt, cc, hh"""),
    QueryDef("q_paired_shift", (s, dir) =>
      Analytics.pairedShift(Tables.events(s, dir)),
      s"""WITH h AS (SELECT user_id, day(CAST(ts AS TIMESTAMP)) <= 15 AS first_half,
                           CAST(count(*) AS BIGINT) AS n,
                           sum(${Stages.centsSql("value")}) AS s
                    FROM events GROUP BY 1, 2),
         d AS (SELECT CAST(round(CAST(b.s AS DOUBLE) / CAST(b.n AS DOUBLE) -
                                 CAST(a.s AS DOUBLE) / CAST(a.n AS DOUBLE)) AS BIGINT) AS d
               FROM h a JOIN h b ON a.user_id = b.user_id
               WHERE a.first_half AND NOT b.first_half),
         m AS (SELECT CAST(count(*) AS BIGINT) AS n, sum(d) AS s, sum(d * d) AS q FROM d)
         SELECT n AS n_users,
                (CAST(s AS DOUBLE) / CAST(n AS DOUBLE)) / 100.0 AS mean_shift_dollars,
                CASE WHEN n < 2 OR ${Analytics.pairedShiftVarSql} <= 0 THEN NULL
                     ELSE (CAST(s AS DOUBLE) / CAST(n AS DOUBLE)) / sqrt(${Analytics.pairedShiftVarSql} / CAST(n AS DOUBLE)) END AS t_stat
         FROM m"""),
    QueryDef("q_ess", (s, dir) =>
      Analytics.effectiveSampleSize(Tables.lineitem(s, dir)).orderBy("l_returnflag"),
      s"""WITH b AS (SELECT l_returnflag, ${Stages.lineitemQtySql} AS w FROM lineitem),
         m AS (SELECT l_returnflag, CAST(count(*) AS BIGINT) AS n,
                      CAST(sum(w) AS BIGINT) AS sum_w, CAST(sum(w * w) AS BIGINT) AS sum_w2
               FROM b GROUP BY 1)
         SELECT l_returnflag, n, sum_w, sum_w2,
                (CAST(sum_w AS DOUBLE) / CAST(sum_w2 AS DOUBLE)) * CAST(sum_w AS DOUBLE) AS ess,
                (CAST(n AS DOUBLE) * (CAST(sum_w2 AS DOUBLE) / CAST(sum_w AS DOUBLE))) / CAST(sum_w AS DOUBLE) AS deff
         FROM m ORDER BY l_returnflag"""),
    QueryDef("q_absorption", (s, dir) =>
      Analytics.absorptionProbabilities(Tables.events(s, dir)),
      {
      val det = Stages.det3Sql("a", "b", "c", "d", "e", "f", "g", "h", "i")
      val d1 = Stages.det3Sql("r1", "b", "c", "r2", "e", "f", "r3", "h", "i")
      val d2 = Stages.det3Sql("a", "r1", "c", "d", "r2", "f", "g", "r3", "i")
      val d3 = Stages.det3Sql("a", "b", "r1", "d", "e", "r2", "g", "h", "r3")
      def q(i: String, j: String) =
        s"CAST(sum(CASE WHEN prev = '$i' AND curr = '$j' THEN p_ppm ELSE 0 END) AS BIGINT)"
      s"""WITH seq AS (SELECT event_type AS curr,
                      lag(event_type, 1) OVER (PARTITION BY user_id
                        ORDER BY ts ASC, event_id ASC) AS prev
               FROM events),
         pairs AS (SELECT prev, curr, CAST(count(*) AS BIGINT) AS cnt
                   FROM seq WHERE prev IS NOT NULL GROUP BY 1, 2),
         rsum AS (SELECT prev, CAST(sum(cnt) AS BIGINT) AS tot FROM pairs GROUP BY 1),
         p AS (SELECT pairs.prev, pairs.curr, cnt,
                      CAST(round(1000000.0 * CAST(cnt AS DOUBLE) / CAST(tot AS DOUBLE)) AS BIGINT) AS p_ppm
               FROM pairs JOIN rsum USING (prev)),
         m AS (SELECT CAST(sum(cnt) AS BIGINT) AS n_transitions,
                      ${q("click", "click")} AS q_cc, ${q("click", "signup")} AS q_cs, ${q("click", "view")} AS q_cv,
                      ${q("signup", "click")} AS q_sc, ${q("signup", "signup")} AS q_ss, ${q("signup", "view")} AS q_sv,
                      ${q("view", "click")} AS q_vc, ${q("view", "signup")} AS q_vs, ${q("view", "view")} AS q_vv,
                      ${q("click", "purchase")} AS b_c, ${q("signup", "purchase")} AS b_s, ${q("view", "purchase")} AS b_v
               FROM p),
         x AS (SELECT n_transitions,
                      CAST(1000000 - q_cc AS DOUBLE) AS a, CAST(0 - q_cs AS DOUBLE) AS b, CAST(0 - q_cv AS DOUBLE) AS c,
                      CAST(0 - q_sc AS DOUBLE) AS d, CAST(1000000 - q_ss AS DOUBLE) AS e, CAST(0 - q_sv AS DOUBLE) AS f,
                      CAST(0 - q_vc AS DOUBLE) AS g, CAST(0 - q_vs AS DOUBLE) AS h, CAST(1000000 - q_vv AS DOUBLE) AS i,
                      CAST(b_c AS DOUBLE) AS r1, CAST(b_s AS DOUBLE) AS r2, CAST(b_v AS DOUBLE) AS r3
               FROM m)
         SELECT n_transitions,
                $d1 / nullif($det, 0.0E0) AS p_click,
                $d2 / nullif($det, 0.0E0) AS p_signup,
                $d3 / nullif($det, 0.0E0) AS p_view
         FROM x"""
    }),
    QueryDef("q_nn_match", (s, dir) =>
      Analytics.nnMatchAtt(Tables.events(s, dir)),
      s"""WITH u AS (SELECT user_id,
                           CAST(coalesce(sum(CASE WHEN day(CAST(ts AS TIMESTAMP)) <= 15 THEN ${Stages.centsSql("value")} ELSE 0 END), 0) AS BIGINT) AS x,
                           CAST(coalesce(sum(CASE WHEN day(CAST(ts AS TIMESTAMP)) > 15 THEN ${Stages.centsSql("value")} ELSE 0 END), 0) AS BIGINT) AS y,
                           CAST(CASE WHEN 100 * sum(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END)
                                          >= 25 * count(*) THEN 1 ELSE 0 END AS BIGINT) AS treated
                    FROM events GROUP BY 1),
         w AS (SELECT user_id, x, y, treated,
                      last_value(CASE WHEN treated = 0 THEN x END IGNORE NULLS)
                        OVER (ORDER BY x ASC, user_id ASC ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS px,
                      last_value(CASE WHEN treated = 0 THEN y END IGNORE NULLS)
                        OVER (ORDER BY x ASC, user_id ASC ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS py,
                      first_value(CASE WHEN treated = 0 THEN x END IGNORE NULLS)
                        OVER (ORDER BY x ASC, user_id ASC ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING) AS nx,
                      first_value(CASE WHEN treated = 0 THEN y END IGNORE NULLS)
                        OVER (ORDER BY x ASC, user_id ASC ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING) AS ny
               FROM u),
         t AS (SELECT x, y,
                      CASE WHEN px IS NULL THEN ny
                           WHEN nx IS NULL THEN py
                           WHEN x - px <= nx - x THEN py
                           ELSE ny END AS cy
               FROM w WHERE treated = 1),
         agg AS (SELECT CAST(count(*) AS BIGINT) AS n_treated, sum(y - cy) AS s_diff
                 FROM t WHERE cy IS NOT NULL),
         ctl AS (SELECT CAST(sum(CASE WHEN treated = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_controls FROM u)
         SELECT n_treated, n_controls,
                (CAST(s_diff AS DOUBLE) / CAST(n_treated AS DOUBLE)) / 100.0 AS att_dollars
         FROM agg, ctl"""),
    QueryDef("q_modularity", (s, dir) =>
      Graph.brandModularity(Tables.lineitem(s, dir), Tables.part(s, dir))
        .orderBy("p_brand"),
      """WITH baskets AS (SELECT l_orderkey, list_sort(list_distinct(list(l_partkey))) AS ps
                          FROM lineitem GROUP BY 1),
         pe AS (SELECT unnest(flatten(list_transform(ps, (x, i) ->
                         list_transform(ps[i+1:], y -> {'pa': x, 'pb': y})))) AS e
                FROM baskets),
         ec AS (SELECT e.pa AS pa, e.pb AS pb, count(*) AS w FROM pe GROUP BY 1, 2),
         edges AS (SELECT pa, pb FROM ec WHERE w >= 2),
         wb AS (SELECT pa, pb, ba.p_brand AS brand_a, bb.p_brand AS brand_b
                FROM edges JOIN part ba ON ba.p_partkey = pa
                           JOIN part bb ON bb.p_partkey = pb),
         m AS (SELECT CAST(count(*) AS BIGINT) AS m FROM wb),
         ie AS (SELECT brand_a AS p_brand, CAST(count(*) AS BIGINT) AS in_edges
                FROM wb WHERE brand_a = brand_b GROUP BY 1),
         deg AS (SELECT p_brand, CAST(count(*) AS BIGINT) AS deg_sum,
                        CAST(count(DISTINCT node) AS BIGINT) AS n_nodes
                 FROM (SELECT pa AS node, brand_a AS p_brand FROM wb
                       UNION ALL SELECT pb, brand_b FROM wb)
                 GROUP BY 1)
         SELECT deg.p_brand AS p_brand, n_nodes,
                CAST(coalesce(in_edges, 0) AS BIGINT) AS in_edges, deg_sum,
                CAST(coalesce(in_edges, 0) AS DOUBLE) / CAST(m AS DOUBLE)
                - (CAST(deg_sum AS DOUBLE) / (2.0 * CAST(m AS DOUBLE)))
                  * (CAST(deg_sum AS DOUBLE) / (2.0 * CAST(m AS DOUBLE))) AS contribution
         FROM deg LEFT JOIN ie USING (p_brand), m ORDER BY p_brand"""),
    QueryDef("q_pca2", (s, dir) =>
      Similarity.powerIterationDeflated(Tables.embeddings(s, dir)).orderBy("dim"),
      """WITH e AS (SELECT vec_id, embedding, unnest(generate_series(1, 64)) AS dim FROM embeddings),
         m AS (SELECT vec_id, CAST(dim AS BIGINT) AS dim,
                      CAST(round(embedding[dim]::DOUBLE * 1000) AS BIGINT) AS mm
               FROM e),
         cells AS (SELECT a.dim AS i, b.dim AS j, CAST(sum(a.mm * b.mm) AS BIGINT) AS s
                   FROM m a JOIN m b ON a.vec_id = b.vec_id GROUP BY 1, 2),
         u0 AS (SELECT CAST(unnest(generate_series(1, 64)) AS BIGINT) AS udim, CAST(1 AS BIGINT) AS u),
         w1 AS (SELECT i, CAST(sum(s * u) AS BIGINT) AS w FROM cells JOIN u0 ON j = udim GROUP BY 1),
         x1 AS (SELECT max(abs(w)) AS mx FROM w1),
         u1 AS (SELECT i AS udim, CAST(round(1000.0 * CAST(w AS DOUBLE) / CAST(mx AS DOUBLE)) AS BIGINT) AS u
                FROM w1, x1),
         w2 AS (SELECT i, CAST(sum(s * u) AS BIGINT) AS w FROM cells JOIN u1 ON j = udim GROUP BY 1),
         x2 AS (SELECT max(abs(w)) AS mx FROM w2),
         u2 AS (SELECT i AS udim, CAST(round(1000.0 * CAST(w AS DOUBLE) / CAST(mx AS DOUBLE)) AS BIGINT) AS u
                FROM w2, x2),
         uc AS (SELECT udim, CAST(round(CAST(u AS DOUBLE) / 10.0) AS BIGINT) AS u FROM u2),
         nn AS (SELECT CAST(sum(u * u) AS BIGINT) AS uu FROM uc),
         um AS (SELECT CAST(sum(s * ui.u * uj.u) AS BIGINT) AS umu
                FROM cells JOIN uc ui ON i = ui.udim JOIN uc uj ON j = uj.udim),
         d AS (SELECT i, j,
                      s - CAST(round((CAST(umu AS DOUBLE) / CAST(uu AS DOUBLE))
                            * (CAST(ui.u * uj.u AS DOUBLE) / CAST(uu AS DOUBLE))) AS BIGINT) AS s
               FROM cells JOIN uc ui ON i = ui.udim JOIN uc uj ON j = uj.udim, nn, um),
         v0 AS (SELECT udim, CASE WHEN udim % 2 = 0 THEN CAST(1 AS BIGINT) ELSE CAST(-1 AS BIGINT) END AS u
                FROM (SELECT CAST(unnest(generate_series(1, 64)) AS BIGINT) AS udim)),
         y1 AS (SELECT i, CAST(sum(s * u) AS BIGINT) AS w FROM d JOIN v0 ON j = udim GROUP BY 1),
         z1 AS (SELECT max(abs(w)) AS mx FROM y1),
         v1 AS (SELECT i AS udim, CAST(round(1000.0 * CAST(w AS DOUBLE) / CAST(mx AS DOUBLE)) AS BIGINT) AS u
                FROM y1, z1),
         y2 AS (SELECT i, CAST(sum(s * u) AS BIGINT) AS w FROM d JOIN v1 ON j = udim GROUP BY 1),
         z2 AS (SELECT max(abs(w)) AS mx FROM y2),
         v2 AS (SELECT i AS udim, CAST(round(1000.0 * CAST(w AS DOUBLE) / CAST(mx AS DOUBLE)) AS BIGINT) AS u
                FROM y2, z2)
         SELECT udim AS dim, u AS loading2_milli FROM v2 ORDER BY dim"""),
    QueryDef("q_lm_eval", (s, dir) =>
      Analytics.bigramEval(Tables.events(s, dir)).orderBy("event_type"),
      """WITH seq AS (SELECT event_type AS curr,
                      lag(event_type, 1) OVER (PARTITION BY user_id
                        ORDER BY ts ASC, event_id ASC) AS prev,
                      day(CAST(ts AS TIMESTAMP)) <= 15 AS is_train
               FROM events),
         p AS (SELECT * FROM seq WHERE prev IS NOT NULL),
         tr AS (SELECT prev, curr, CAST(count(*) AS BIGINT) AS cnt
                FROM p WHERE is_train GROUP BY 1, 2),
         pr AS (SELECT prev, curr AS pred
                FROM (SELECT prev, curr,
                             row_number() OVER (PARTITION BY prev ORDER BY cnt DESC, curr ASC) AS rn
                      FROM tr)
                WHERE rn = 1),
         ev AS (SELECT p.prev, p.curr, pr.pred FROM p LEFT JOIN pr USING (prev)
                WHERE NOT is_train)
         SELECT prev AS event_type, min(pred) AS pred,
                CAST(count(*) AS BIGINT) AS n_eval,
                CAST(sum(CASE WHEN curr = pred THEN 1 ELSE 0 END) AS BIGINT) AS n_hit,
                CAST(sum(CASE WHEN curr = pred THEN 1 ELSE 0 END) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS accuracy
         FROM ev GROUP BY 1 ORDER BY event_type"""),
    QueryDef("q_join_card", (s, dir) =>
      Relational.joinCardinalityEstimate(Tables.orders(s, dir), Tables.lineitem(s, dir)),
      s"""WITH oc AS (SELECT o_orderkey AS k, CAST(count(*) AS BIGINT) AS na FROM orders GROUP BY 1),
         lc AS (SELECT l_orderkey AS k, CAST(count(*) AS BIGINT) AS nb FROM lineitem GROUP BY 1),
         j AS (SELECT k, na * nb AS pairs,
                      ${Stages.duckMd5BitsSql("CAST(k AS VARCHAR)", "1", 8)} % 10 AS b
               FROM oc JOIN lc USING (k))
         SELECT CAST(count(*) AS BIGINT) AS n_keys,
                CAST(sum(pairs) AS BIGINT) AS actual_pairs,
                CAST(sum(CASE WHEN b = 0 THEN pairs ELSE 0 END) * 10 AS BIGINT) AS est_pairs,
                CAST(sum(CASE WHEN b = 0 THEN pairs ELSE 0 END) * 10 AS DOUBLE) / CAST(sum(pairs) AS DOUBLE) AS ratio
         FROM j"""),
    QueryDef("q_assortativity", (s, dir) =>
      Graph.degreeAssortativity(Tables.lineitem(s, dir)),
      {
      val corr = Stages.momentStatsSql.toMap.apply("corr_xy")
      s"""WITH baskets AS (SELECT l_orderkey, list_sort(list_distinct(list(l_partkey))) AS ps
                          FROM lineitem GROUP BY 1),
         pe AS (SELECT unnest(flatten(list_transform(ps, (x, i) ->
                         list_transform(ps[i+1:], y -> {'pa': x, 'pb': y})))) AS e
                FROM baskets),
         ec AS (SELECT e.pa AS pa, e.pb AS pb, count(*) AS w FROM pe GROUP BY 1, 2),
         edges AS (SELECT pa, pb FROM ec WHERE w >= 2),
         deg AS (SELECT node, CAST(count(*) AS BIGINT) AS deg
                 FROM (SELECT pa AS node FROM edges UNION ALL SELECT pb FROM edges)
                 GROUP BY 1),
         sym AS (SELECT pa, pb FROM edges UNION ALL SELECT pb, pa FROM edges),
         j AS (SELECT da.deg AS x, db.deg AS y
               FROM sym JOIN deg da ON da.node = pa JOIN deg db ON db.node = pb),
         m AS (SELECT CAST(count(*) AS BIGINT) AS n,
                      CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
                      CAST(sum(x * y) AS BIGINT) AS sxy,
                      CAST(sum(x * x) AS BIGINT) AS sxx, CAST(sum(y * y) AS BIGINT) AS syy
               FROM j)
         SELECT n, $corr AS assortativity FROM m"""
    }),
    QueryDef("q_partial_corr", (s, dir) =>
      Analytics.partialCorrelation(Tables.events(s, dir)),
      {
      val (rxy, rxz, ryz) =
        (Analytics.pairwiseCorrSql("x", "y"), Analytics.pairwiseCorrSql("x", "z"),
          Analytics.pairwiseCorrSql("y", "z"))
      s"""WITH b AS (SELECT CAST(hour(CAST(ts AS TIMESTAMP)) AS BIGINT) AS x,
                            (${Stages.duckEpochBucketSql("ts", 86400)} + 3) % 7 + 1 AS z,
                            ${Stages.centsSql("value")} AS y
                     FROM events),
         m AS (SELECT CAST(count(*) AS BIGINT) AS n,
                      CAST(sum(x) AS BIGINT) AS s_x, CAST(sum(y) AS BIGINT) AS s_y, CAST(sum(z) AS BIGINT) AS s_z,
                      CAST(sum(x * x) AS BIGINT) AS s_xx, CAST(sum(y * y) AS BIGINT) AS s_yy,
                      CAST(sum(z * z) AS BIGINT) AS s_zz,
                      CAST(sum(x * y) AS BIGINT) AS s_xy, CAST(sum(x * z) AS BIGINT) AS s_xz,
                      CAST(sum(y * z) AS BIGINT) AS s_yz
               FROM b)
         SELECT n, $rxy AS r_xy, $rxz AS r_xz, $ryz AS r_yz,
                ($rxy - $rxz * $ryz) / nullif(sqrt((1 - $rxz * $rxz) * (1 - $ryz * $ryz)), 0.0E0) AS r_xy_given_z
         FROM m"""
    }),
    QueryDef("q_icc", (s, dir) =>
      Analytics.intraclassCorrelation(Tables.events(s, dir)),
      s"""WITH pu AS (SELECT user_id, CAST(count(*) AS BIGINT) AS ng,
                            CAST(sum(${Stages.centsSql("value")}) AS BIGINT) AS sg,
                            CAST(sum(${Stages.centsSql("value")} * ${Stages.centsSql("value")}) AS BIGINT) AS qg
                     FROM events GROUP BY 1),
         m AS (SELECT CAST(count(*) AS BIGINT) AS k, CAST(sum(ng) AS BIGINT) AS n,
                      CAST(sum(ng * ng) AS BIGINT) AS n2,
                      CAST(sum(sg) AS BIGINT) AS s, CAST(sum(qg) AS BIGINT) AS q,
                      CAST(sum(CAST(round((CAST(sg AS DOUBLE) / CAST(ng AS DOUBLE))
                            * (CAST(sg AS DOUBLE) / CAST(ng AS DOUBLE)) * CAST(ng AS DOUBLE) / 100.0) AS BIGINT)) AS BIGINT) AS ssb_centi
               FROM pu),
         x AS (SELECT k, n,
                      (CAST(ssb_centi AS DOUBLE) * 100.0
                       - (CAST(s AS DOUBLE) / CAST(n AS DOUBLE)) * CAST(s AS DOUBLE)) AS ssb,
                      (CAST(q AS DOUBLE) - CAST(ssb_centi AS DOUBLE) * 100.0) AS ssw,
                      (CAST(n AS DOUBLE) - CAST(n2 AS DOUBLE) / CAST(n AS DOUBLE))
                        / nullif(CAST(k - 1 AS DOUBLE), 0.0E0) AS k_bar
               FROM m),
         y AS (SELECT k, n, ssb / nullif(CAST(k - 1 AS DOUBLE), 0.0E0) AS msb,
                      ssw / nullif(CAST(n - k AS DOUBLE), 0.0E0) AS msw, k_bar
               FROM x)
         SELECT k, n, msb, msw, k_bar,
                (msb - msw) / nullif(msb + (k_bar - 1) * msw, 0.0E0) AS icc1
         FROM y"""),
    QueryDef("q_kcenter", (s, dir) =>
      Similarity.kcenterSeeds(Tables.embeddings(s, dir)).orderBy("rank"),
      {
      def sqd(a: String, b: String) =
        s"CAST(list_sum(list_transform(generate_series(1, 64), i -> ($a.mv[i] - $b.mv[i]) * ($a.mv[i] - $b.mv[i]))) AS BIGINT)"
      s"""WITH m AS (SELECT vec_id,
                     list_transform(embedding, v -> CAST(round(CAST(v AS DOUBLE) * 1000) AS BIGINT)) AS mv
              FROM embeddings),
         c0 AS (SELECT vec_id, mv FROM m ORDER BY vec_id LIMIT 1),
         d0 AS (SELECT m.vec_id, m.mv, ${sqd("m", "c")} AS d FROM m, c0 c),
         p1 AS (SELECT vec_id, mv, d FROM d0 ORDER BY d DESC, vec_id ASC LIMIT 1),
         d1 AS (SELECT a.vec_id, a.mv, least(a.d, ${sqd("a", "c")}) AS d FROM d0 a, p1 c),
         p2 AS (SELECT vec_id, mv, d FROM d1 ORDER BY d DESC, vec_id ASC LIMIT 1),
         d2 AS (SELECT a.vec_id, a.mv, least(a.d, ${sqd("a", "c")}) AS d FROM d1 a, p2 c),
         p3 AS (SELECT vec_id, mv, d FROM d2 ORDER BY d DESC, vec_id ASC LIMIT 1),
         d3 AS (SELECT a.vec_id, a.mv, least(a.d, ${sqd("a", "c")}) AS d FROM d2 a, p3 c),
         p4 AS (SELECT vec_id, mv, d FROM d3 ORDER BY d DESC, vec_id ASC LIMIT 1)
         SELECT CAST(0 AS BIGINT) AS rank, vec_id, CAST(0 AS BIGINT) AS sq_dist FROM c0
         UNION ALL SELECT 1, vec_id, d FROM p1
         UNION ALL SELECT 2, vec_id, d FROM p2
         UNION ALL SELECT 3, vec_id, d FROM p3
         UNION ALL SELECT 4, vec_id, d FROM p4
         ORDER BY rank"""
    }),
    QueryDef("q_cv_linreg", (s, dir) =>
      Analytics.crossValidatedLinreg(Tables.lineitem(s, dir)).orderBy("fold"),
      {
      val linreg = Stages.linregSql().toMap
      s"""WITH b AS (SELECT ${Stages.duckMd5BitsSql(duckLineitemRowKeySql, "1", 8)} % 5 AS fold,
                            ${Stages.lineitemQtySql} AS x,
                            ${Stages.centsSql("l_extendedprice")} // 100 AS y
                     FROM lineitem),
         pf AS (SELECT fold, CAST(count(*) AS BIGINT) AS fn,
                       CAST(sum(x) AS BIGINT) AS fsx, CAST(sum(y) AS BIGINT) AS fsy,
                       CAST(sum(x * y) AS BIGINT) AS fsxy, CAST(sum(x * x) AS BIGINT) AS fsxx,
                       CAST(sum(y * y) AS BIGINT) AS fsyy
                FROM b GROUP BY 1),
         g AS (SELECT CAST(sum(fn) AS BIGINT) AS gn, CAST(sum(fsx) AS BIGINT) AS gsx,
                      CAST(sum(fsy) AS BIGINT) AS gsy, CAST(sum(fsxy) AS BIGINT) AS gsxy,
                      CAST(sum(fsxx) AS BIGINT) AS gsxx, CAST(sum(fsyy) AS BIGINT) AS gsyy
               FROM pf),
         tr AS (SELECT fold, fn AS n_test, gn - fn AS n, gsx - fsx AS sx, gsy - fsy AS sy,
                       gsxy - fsxy AS sxy, gsxx - fsxx AS sxx, gsyy - fsyy AS syy
                FROM pf, g),
         e AS (SELECT b.fold AS fold, tr.n AS n, tr.n_test AS n_test,
                      tr.sx AS sx, tr.sy AS sy, tr.sxy AS sxy, tr.sxx AS sxx, tr.syy AS syy,
                      CAST(round(${Stages.residualSql} * ${Stages.residualSql}) AS BIGINT) AS r2q
               FROM b JOIN tr USING (fold)),
         a AS (SELECT fold, max(n) AS n, max(n_test) AS n_test,
                      max(sx) AS sx, max(sy) AS sy, max(sxy) AS sxy,
                      max(sxx) AS sxx, max(syy) AS syy,
                      CAST(sum(r2q) AS BIGINT) AS sr2
               FROM e GROUP BY 1)
         SELECT fold, n AS n_train, n_test,
                ${linreg("slope")} AS slope,
                ${linreg("intercept")} AS intercept,
                CAST(sr2 AS DOUBLE) / CAST(n_test AS DOUBLE) AS test_mse
         FROM a ORDER BY fold"""
    }),
    QueryDef("q_seq_gini", (s, dir) =>
      Analytics.sequencePredictability(Tables.events(s, dir)).orderBy("event_type"),
      """WITH seq AS (SELECT event_type AS curr,
                      lag(event_type, 1) OVER (PARTITION BY user_id
                        ORDER BY ts ASC, event_id ASC) AS prev
               FROM events),
         c AS (SELECT prev, curr, CAST(count(*) AS BIGINT) AS c
               FROM seq WHERE prev IS NOT NULL GROUP BY 1, 2),
         m AS (SELECT prev, CAST(count(*) AS BIGINT) AS n_successors,
                      CAST(sum(c) AS BIGINT) AS n, CAST(sum(c * c) AS BIGINT) AS s2
               FROM c GROUP BY 1)
         SELECT prev AS event_type, n_successors, n,
                CAST(s2 AS DOUBLE) / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE)) AS collision_prob,
                (CAST(n AS DOUBLE) * CAST(n AS DOUBLE)) / CAST(s2 AS DOUBLE) AS eff_branching
         FROM m ORDER BY event_type"""),
    QueryDef("q_ab_power", (s, dir) =>
      Analytics.abPowerAnalysis(Tables.events(s, dir)),
      s"""WITH u AS (SELECT user_id,
                           CAST(max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS converted
                    FROM events GROUP BY 1),
         a AS (SELECT converted,
                      $duckUserArmSql AS arm
               FROM u),
         m AS (SELECT CAST(sum(CASE WHEN arm = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n1,
                      CAST(sum(CASE WHEN arm = 0 THEN converted ELSE 0 END) AS BIGINT) AS c1,
                      CAST(sum(CASE WHEN arm = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n2,
                      CAST(sum(CASE WHEN arm = 1 THEN converted ELSE 0 END) AS BIGINT) AS c2
               FROM a)
         SELECT n1, c1, n2, c2,
                (CAST(c1 AS DOUBLE) / nullif(CAST(n1 AS DOUBLE), 0.0E0)) AS rate1,
                (CAST(c2 AS DOUBLE) / nullif(CAST(n2 AS DOUBLE), 0.0E0)) AS rate2,
                CASE WHEN (CAST(c1 AS DOUBLE) / nullif(CAST(n1 AS DOUBLE), 0.0E0)) = (CAST(c2 AS DOUBLE) / nullif(CAST(n2 AS DOUBLE), 0.0E0)) THEN NULL ELSE
                  (1.96 + 0.8416) * (1.96 + 0.8416)
                  * ((CAST(c1 AS DOUBLE) / nullif(CAST(n1 AS DOUBLE), 0.0E0)) * (1 - (CAST(c1 AS DOUBLE) / nullif(CAST(n1 AS DOUBLE), 0.0E0)))
                     + (CAST(c2 AS DOUBLE) / nullif(CAST(n2 AS DOUBLE), 0.0E0)) * (1 - (CAST(c2 AS DOUBLE) / nullif(CAST(n2 AS DOUBLE), 0.0E0))))
                  / (((CAST(c1 AS DOUBLE) / nullif(CAST(n1 AS DOUBLE), 0.0E0)) - (CAST(c2 AS DOUBLE) / nullif(CAST(n2 AS DOUBLE), 0.0E0)))
                     * ((CAST(c1 AS DOUBLE) / nullif(CAST(n1 AS DOUBLE), 0.0E0)) - (CAST(c2 AS DOUBLE) / nullif(CAST(n2 AS DOUBLE), 0.0E0)))) END AS n_per_arm
         FROM m"""),
    QueryDef("q_dedup_prf", (s, dir) =>
      Dedup.dedupPrf(Tables.documents(s, dir)),
      s"""WITH g AS (SELECT doc_id, source, $duckShingles AS grams FROM documents),
         truth AS (
           SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
           FROM g a JOIN g b ON a.source = b.source AND a.doc_id < b.doc_id
           WHERE CAST(len(list_intersect(a.grams, b.grams)) AS DOUBLE) /
                 CAST(len(list_distinct(list_concat(a.grams, b.grams))) AS DOUBLE) >= 0.5),
         $duckMinhashSigCtes,
         bands AS (SELECT doc_id, sig, unnest(generate_series(0,7)) AS band FROM sig),
         keyed AS (SELECT doc_id, band, sig[band*4+1:band*4+4] AS bsig FROM bands),
         kept AS (SELECT * FROM keyed QUALIFY count(*) OVER (PARTITION BY band, bsig) <= $bucketCap),
         cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
                  FROM kept a JOIN kept b ON a.band = b.band AND a.bsig = b.bsig AND a.doc_id < b.doc_id),
         sj AS (SELECT doc_a, doc_b, sa.sig AS sig_a, sb.sig AS sig_b
                FROM cand JOIN sig sa ON sa.doc_id = doc_a JOIN sig sb ON sb.doc_id = doc_b),
         mh AS (SELECT doc_a, doc_b FROM sj
                WHERE CAST(len(list_filter(generate_series(1,32), i -> sig_a[i] = sig_b[i])) AS DOUBLE) / 32 >= 0.5),
         pred AS (SELECT doc_a, doc_b FROM mh
                  JOIN documents da ON da.doc_id = doc_a
                  JOIN documents db ON db.doc_id = doc_b
                  WHERE da.source = db.source),
         ng AS (SELECT CAST(count(*) AS BIGINT) AS n_gold FROM truth),
         np AS (SELECT CAST(count(*) AS BIGINT) AS n_pred FROM pred),
         nh AS (SELECT CAST(count(*) AS BIGINT) AS n_hit FROM truth JOIN pred USING (doc_a, doc_b))
         SELECT n_gold, n_pred, n_hit,
                CASE WHEN n_pred = 0 THEN NULL ELSE CAST(n_hit AS DOUBLE) / CAST(n_pred AS DOUBLE) END AS precision,
                CASE WHEN n_gold = 0 THEN NULL ELSE CAST(n_hit AS DOUBLE) / CAST(n_gold AS DOUBLE) END AS recall,
                CASE WHEN n_pred = 0 OR n_gold = 0 OR n_hit = 0 THEN NULL
                     ELSE 2.0 * (CAST(n_hit AS DOUBLE) / CAST(n_pred AS DOUBLE))
                          * (CAST(n_hit AS DOUBLE) / CAST(n_gold AS DOUBLE))
                          / (CAST(n_hit AS DOUBLE) / CAST(n_pred AS DOUBLE)
                             + CAST(n_hit AS DOUBLE) / CAST(n_gold AS DOUBLE)) END AS f1
         FROM ng, np, nh"""),
    QueryDef("q_logrank", (s, dir) =>
      Analytics.logRankTest(Tables.events(s, dir)),
      s"""WITH pu AS (SELECT user_id,
                            min(${Stages.duckEpochBucketSql("ts", 1)}) AS first_s,
                            max(${Stages.duckEpochBucketSql("ts", 1)}) AS last_s,
                            CAST(CASE WHEN 100 * sum(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END)
                                           >= 25 * count(*) THEN 1 ELSE 0 END AS BIGINT) AS grp_a
                     FROM events GROUP BY 1),
         mx AS (SELECT max(${Stages.duckEpochBucketSql("ts", 1)}) AS max_s FROM events),
         u AS (SELECT (last_s - first_s) // 86400 AS dur_day,
                      last_s >= max_s - 86400 AS censored, grp_a
               FROM pu, mx),
         tot AS (SELECT CAST(sum(grp_a) AS BIGINT) AS na,
                        CAST(sum(1 - grp_a) AS BIGINT) AS nb FROM u),
         bd AS (SELECT dur_day,
                       CAST(sum(CASE WHEN NOT censored AND grp_a = 1 THEN 1 ELSE 0 END) AS BIGINT) AS da,
                       CAST(sum(CASE WHEN NOT censored AND grp_a = 0 THEN 1 ELSE 0 END) AS BIGINT) AS db,
                       CAST(sum(CASE WHEN grp_a = 1 THEN 1 ELSE 0 END) AS BIGINT) AS xa,
                       CAST(sum(CASE WHEN grp_a = 0 THEN 1 ELSE 0 END) AS BIGINT) AS xb
                FROM u GROUP BY 1),
         cum AS (SELECT dur_day, da, db,
                        coalesce(sum(xa) OVER (ORDER BY dur_day ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS exa,
                        coalesce(sum(xb) OVER (ORDER BY dur_day ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS exb
                 FROM bd),
         t AS (SELECT da, db, na - exa AS n1, nb - exb AS n2 FROM cum, tot
               WHERE da + db > 0 AND na - exa + nb - exb > 1),
         q AS (SELECT da,
                      CAST(round((CAST(da AS DOUBLE)
                        - CAST(da + db AS DOUBLE) * CAST(n1 AS DOUBLE) / CAST(n1 + n2 AS DOUBLE)) * 1000000.0) AS BIGINT) AS oe_micro,
                      CAST(round(CAST(da + db AS DOUBLE)
                        * (CAST(n1 AS DOUBLE) / CAST(n1 + n2 AS DOUBLE))
                        * (CAST(n2 AS DOUBLE) / CAST(n1 + n2 AS DOUBLE))
                        * (CAST(n1 + n2 - da - db AS DOUBLE) / CAST(n1 + n2 - 1 AS DOUBLE)) * 1000000.0) AS BIGINT) AS v_micro
               FROM t),
         agg AS (SELECT CAST(sum(da) AS BIGINT) AS o_a, CAST(sum(oe_micro) AS BIGINT) AS oe_sum,
                        CAST(sum(v_micro) AS BIGINT) AS v_sum
                 FROM q)
         SELECT na AS n_a, nb AS n_b, o_a,
                CAST(oe_sum AS DOUBLE) / 1000000.0 AS o_minus_e,
                CAST(v_sum AS DOUBLE) / 1000000.0 AS variance,
                CASE WHEN v_sum = 0 THEN NULL ELSE
                  (CAST(oe_sum AS DOUBLE) / 1000000.0) * (CAST(oe_sum AS DOUBLE) / 1000000.0)
                  / (CAST(v_sum AS DOUBLE) / 1000000.0) END AS chi2
         FROM agg, tot"""),
    QueryDef("q_durbin_watson", (s, dir) =>
      Analytics.durbinWatson(Tables.events(s, dir)),
      s"""WITH hourly AS (SELECT ${Stages.duckEpochBucketSql("ts", 3600)} AS h,
                                 CAST(sum(${Stages.centsSql("value")}) AS BIGINT) AS cents
                          FROM events GROUP BY 1),
         i AS (SELECT min(h) AS h0 FROM hourly),
         s AS (SELECT h - h0 AS x, cents AS y FROM hourly, i),
         m AS (SELECT CAST(count(*) AS BIGINT) AS n,
                      CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
                      CAST(sum(CAST(x AS HUGEINT) * y) AS HUGEINT) AS sxy,
                      CAST(sum(CAST(x AS HUGEINT) * x) AS HUGEINT) AS sxx,
                      CAST(sum(CAST(y AS HUGEINT) * y) AS HUGEINT) AS syy
               FROM s),
         r AS (SELECT x, CAST(round(${Stages.residualSql}) AS BIGINT) AS e FROM s, m),
         l AS (SELECT e, lag(e, 1) OVER (ORDER BY x) AS e_prev FROM r)
         SELECT CAST(count(*) AS BIGINT) AS n_hours,
                CAST(sum(CASE WHEN e_prev IS NOT NULL THEN CAST(e - e_prev AS HUGEINT) * (e - e_prev) ELSE CAST(0 AS HUGEINT) END) AS DOUBLE)
                / CAST(sum(CAST(e AS HUGEINT) * e) AS DOUBLE) AS dw
         FROM l"""),
    QueryDef("q_cooks", (s, dir) =>
      Analytics.cooksDistanceTopK(Tables.lineitem(s, dir)).orderBy("rank"),
      {
      val nD = Stages.divisorSql(nonZero = false)
      val cxx = Stages.cmomSql("sxx", "sx", "sx", nD)
      val cyy = Stages.cmomSql("syy", "sy", "sy", nD)
      val cxy = Stages.cmomSql("sxy", "sx", "sy", nD)
      val mx = Stages.meanSql("sx", nD)
      val h = s"(1.0 / $nD + (CAST(x AS DOUBLE) - $mx) * (CAST(x AS DOUBLE) - $mx) / nullif($nD * $cxx, 0.0E0))"
      val s2 = s"(($cyy - $cxy * $cxy / nullif($cxx, 0.0E0)) * $nD / nullif($nD - 2, 0.0E0))"
      val cooks =
        s"((${Stages.residualSql} * ${Stages.residualSql}) / (2.0 * $s2) * $h / ((1.0 - $h) * (1.0 - $h)))"
      s"""WITH b AS (SELECT l_orderkey, l_linenumber,
                            ${Stages.lineitemQtySql} AS x,
                            ${Stages.centsSql("l_extendedprice")} // 100 AS y
                     FROM lineitem),
         m AS (SELECT CAST(count(*) AS BIGINT) AS n,
                      CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
                      CAST(sum(x * y) AS BIGINT) AS sxy, CAST(sum(x * x) AS BIGINT) AS sxx,
                      CAST(sum(y * y) AS BIGINT) AS syy
               FROM b),
         d AS (SELECT l_orderkey, l_linenumber, x, y, $cooks AS cooks_d FROM b, m),
         r AS (SELECT l_orderkey, l_linenumber, x, y, cooks_d,
                      CAST(row_number() OVER (ORDER BY cooks_d DESC, l_orderkey ASC, l_linenumber ASC) AS BIGINT) AS rank
               FROM d)
         SELECT rank, l_orderkey, l_linenumber, x, y, cooks_d
         FROM r WHERE rank <= 20 ORDER BY rank"""
    }),
    QueryDef("q_acf", (s, dir) =>
      Analytics.acfLadder(Tables.events(s, dir)).orderBy("lag"),
      s"""WITH daily AS $duckDailyCents,
         tot AS (SELECT CAST(count(*) AS BIGINT) AS n, CAST(sum(y) AS BIGINT) AS s FROM daily),
         dm AS (SELECT d, n * y - s AS e FROM daily, tot),
         den AS (SELECT CAST(sum(CAST(e AS HUGEINT) * e) AS HUGEINT) AS see FROM dm),
         lags AS (SELECT CAST(unnest(generate_series(1, 7)) AS BIGINT) AS lag),
         p AS (SELECT lag, CAST(count(*) AS BIGINT) AS n_pairs,
                      CAST(sum(CAST(a.e AS HUGEINT) * b.e) AS HUGEINT) AS num
               FROM dm a, lags, dm b
               WHERE a.d + lag = b.d GROUP BY 1)
         SELECT lag, n_pairs, CAST(num AS DOUBLE) / nullif(CAST(see AS DOUBLE), 0.0E0) AS acf
         FROM p, den ORDER BY lag"""),
    QueryDef("q_pacf", (s, dir) =>
      Analytics.pacf(Tables.events(s, dir)).orderBy("n_days"),
      // via-VARCHAR double casts: DuckDB's HUGEINT/DECIMAL->DOUBLE cast
      // is NOT correctly rounded past 2^53 (measured r10: ...292880
      // casts to the ulp BELOW; Spark and strtod round to nearest) —
      // the string parse is correctly rounded, keeping the surfaced
      // wide-integer statistics bit-identical across engines.
      s"""WITH ${duckAcfSuffCtes(3)}
         SELECT n AS n_days, CAST(CAST(see AS VARCHAR) AS DOUBLE) AS see,
                CAST(CAST(num1 AS VARCHAR) AS DOUBLE) AS num1,
                CAST(CAST(num2 AS VARCHAR) AS DOUBLE) AS num2,
                CAST(CAST(num3 AS VARCHAR) AS DOUBLE) AS num3,
                ${Analytics.rSql(1)} AS pacf1,
                ${Analytics.pacf2Sql} AS pacf2,
                ${Analytics.pacf3Sql} AS pacf3
         FROM ss ORDER BY n_days"""),
    QueryDef("q_ljung_box", (s, dir) =>
      Analytics.ljungBox(Tables.events(s, dir)).orderBy("n_days"),
      s"""WITH ${duckAcfSuffCtes(7)},
         ss2 AS (SELECT n AS n_days, see, num1, num2, num3, num4, num5, num6, num7 FROM ss)
         SELECT n_days, CAST(CAST(see AS VARCHAR) AS DOUBLE) AS see, ${Analytics.ljungBoxSql(7)} AS q_lb
         FROM ss2 ORDER BY n_days"""),
    QueryDef("q_skew_kurt", (s, dir) =>
      Analytics.skewKurtosis(Tables.events(s, dir)).orderBy("event_type"),
      {
      val (mu, m2, m3, m4) = Stages.centralMomentsSql
      s"""WITH b AS (SELECT event_type, CAST(round(value) AS BIGINT) AS y FROM events),
         m AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n,
                      CAST(sum(y) AS BIGINT) AS s1, CAST(sum(y * y) AS BIGINT) AS s2,
                      CAST(sum(y * y * y) AS BIGINT) AS s3,
                      CAST(sum(y * y * y * y) AS BIGINT) AS s4
               FROM b GROUP BY 1)
         SELECT event_type, n, $mu AS mean_dollars,
                CASE WHEN $m2 <= 0 THEN NULL ELSE $m3 / ($m2 * sqrt($m2)) END AS skewness,
                CASE WHEN $m2 <= 0 THEN NULL ELSE $m4 / ($m2 * $m2) - 3 END AS excess_kurtosis
         FROM m ORDER BY event_type"""
    }),
    QueryDef("q_wls", (s, dir) =>
      Analytics.weightedLinreg(Tables.lineitem(s, dir)),
      {
      val sw = Stages.divisorSql("sw", nonZero = false)
      val mx = s"(${Stages.meanSql("swx", sw)})"
      val my = s"(${Stages.meanSql("swy", sw)})"
      val cxx = Stages.cmomSql("swxx", "swx", "swx", sw)
      val cxy = Stages.cmomSql("swxy", "swx", "swy", sw)
      s"""WITH b AS (SELECT ${Stages.lineitemQtySql} AS x,
                            ${Stages.centsSql("l_extendedprice")} // 100 AS y
                     FROM lineitem),
         m AS (SELECT CAST(count(*) AS BIGINT) AS n, CAST(sum(x) AS BIGINT) AS sw,
                      CAST(sum(x * x) AS BIGINT) AS swx, CAST(sum(x * y) AS BIGINT) AS swy,
                      CAST(sum(x * x * x) AS BIGINT) AS swxx,
                      CAST(sum(x * x * y) AS BIGINT) AS swxy
               FROM b)
         SELECT n, sw,
                CASE WHEN $cxx = 0 THEN NULL ELSE $cxy / $cxx END AS slope,
                CASE WHEN $cxx = 0 THEN NULL ELSE $my - ($cxy / $cxx) * $mx END AS intercept
         FROM m"""
    }),
    QueryDef("q_price_index", (s, dir) =>
      Relational.priceIndex(Tables.orders(s, dir), Tables.lineitem(s, dir)),
      s"""WITH y0 AS (SELECT l_partkey, CAST(sum(${Stages.centsSql("l_extendedprice")}) AS BIGINT) AS c0,
                            CAST(sum(${Stages.lineitemQtySql}) AS BIGINT) AS q0
                     FROM lineitem JOIN orders ON l_orderkey = o_orderkey
                     WHERE o_orderdate >= TIMESTAMP '1996-01-01' AND o_orderdate < TIMESTAMP '1997-01-01'
                     GROUP BY 1),
         y1 AS (SELECT l_partkey, CAST(sum(${Stages.centsSql("l_extendedprice")}) AS BIGINT) AS c1,
                       CAST(sum(${Stages.lineitemQtySql}) AS BIGINT) AS q1
                FROM lineitem JOIN orders ON l_orderkey = o_orderkey
                WHERE o_orderdate >= TIMESTAMP '1997-01-01' AND o_orderdate < TIMESTAMP '1998-01-01'
                GROUP BY 1),
         j AS (SELECT c0, c1,
                      CAST(round((CAST(c1 AS DOUBLE) / CAST(q1 AS DOUBLE)) * CAST(q0 AS DOUBLE)) AS BIGINT) AS p1q0,
                      CAST(round((CAST(c0 AS DOUBLE) / CAST(q0 AS DOUBLE)) * CAST(q1 AS DOUBLE)) AS BIGINT) AS p0q1
               FROM y0 JOIN y1 USING (l_partkey)),
         m AS (SELECT CAST(count(*) AS BIGINT) AS n_parts,
                      CAST(sum(c0) AS BIGINT) AS sc0, CAST(sum(c1) AS BIGINT) AS sc1,
                      CAST(sum(p1q0) AS BIGINT) AS sp1q0, CAST(sum(p0q1) AS BIGINT) AS sp0q1
               FROM j)
         SELECT n_parts,
                CAST(sp1q0 AS DOUBLE) / CAST(sc0 AS DOUBLE) AS laspeyres,
                CAST(sc1 AS DOUBLE) / CAST(sp0q1 AS DOUBLE) AS paasche,
                sqrt((CAST(sp1q0 AS DOUBLE) / CAST(sc0 AS DOUBLE))
                     * (CAST(sc1 AS DOUBLE) / CAST(sp0q1 AS DOUBLE))) AS fisher
         FROM m"""),
    QueryDef("q_qte", (s, dir) =>
      Analytics.quantileTreatmentEffects(Tables.events(s, dir)).orderBy("decile"),
      s"""WITH v AS (SELECT $duckUserArmSql AS arm,
                           ${Stages.centsSql("value")} AS v
                    FROM events),
         c AS (SELECT arm, v, CAST(count(*) AS BIGINT) AS cnt FROM v GROUP BY 1, 2),
         cc AS (SELECT arm, v, sum(cnt) OVER (PARTITION BY arm ORDER BY v
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
                FROM c),
         t AS (SELECT arm, CAST(count(*) AS BIGINT) AS n FROM v GROUP BY 1),
         d AS (SELECT CAST(unnest(generate_series(1, 9)) AS BIGINT) AS decile),
         q AS (SELECT arm, decile, min(v) AS q
               FROM cc JOIN t USING (arm), d
               WHERE cum >= (decile * n + 9) // 10
               GROUP BY 1, 2)
         SELECT a.decile AS decile,
                CAST(a.q AS DOUBLE) / 100.0 AS q_a_dollars,
                CAST(b.q AS DOUBLE) / 100.0 AS q_b_dollars,
                CAST(b.q - a.q AS DOUBLE) / 100.0 AS shift_dollars
         FROM q a JOIN q b ON a.decile = b.decile AND a.arm = 0 AND b.arm = 1
         ORDER BY decile"""),
    QueryDef("q_backtest", (s, dir) =>
      Analytics.seasonalNaiveBacktest(Tables.events(s, dir)),
      s"""WITH hourly AS (SELECT ${Stages.duckEpochBucketSql("ts", 3600)} AS h,
                                CAST(sum(${Stages.centsSql("value")}) AS BIGINT) AS y
                         FROM events GROUP BY 1),
         j AS (SELECT t.y AS y, f.y AS f FROM hourly t JOIN hourly f ON t.h = f.h + 168),
         e AS (SELECT CAST(round(1000000.0 * abs(CAST(y - f AS DOUBLE)) / CAST(y AS DOUBLE)) AS BIGINT) AS ape_micro,
                      CAST(round(1000000.0 * 2.0 * abs(CAST(y - f AS DOUBLE))
                        / CAST(y + f AS DOUBLE)) AS BIGINT) AS sape_micro
               FROM j)
         SELECT CAST(count(*) AS BIGINT) AS n_eval,
                (CAST(sum(ape_micro) AS DOUBLE) / CAST(count(*) AS DOUBLE)) / 1000000.0 AS mape,
                (CAST(sum(sape_micro) AS DOUBLE) / CAST(count(*) AS DOUBLE)) / 1000000.0 AS smape
         FROM e"""),
    QueryDef("q_theil_u", (s, dir) =>
      Analytics.theilU(Tables.events(s, dir)),
      s"""WITH hourly AS (SELECT ${Stages.duckEpochBucketSql("ts", 3600)} AS h,
                                CAST(sum(${Stages.centsSql("value")}) AS BIGINT) AS y
                         FROM events GROUP BY 1),
         j AS (SELECT t.y AS y, fs.y AS fs, fp.y AS fp
               FROM hourly t JOIN hourly fs ON t.h = fs.h + 168
                             JOIN hourly fp ON t.h = fp.h + 1),
         m AS (SELECT CAST(count(*) AS BIGINT) AS n_eval,
                      CAST(sum((y - fs) * (y - fs)) AS BIGINT) AS se_seasonal,
                      CAST(sum((y - fp) * (y - fp)) AS BIGINT) AS se_persist
               FROM j)
         SELECT n_eval, se_seasonal, se_persist,
                CASE WHEN se_persist = 0 THEN NULL
                     ELSE sqrt(CAST(se_seasonal AS DOUBLE) / CAST(se_persist AS DOUBLE)) END AS theil_u
         FROM m"""),
    QueryDef("q_segmented", (s, dir) =>
      Analytics.segmentedRegression(Tables.lineitem(s, dir)),
      {
      def side(sfx: String, cond: String) =
        s"""CAST(sum(CASE WHEN $cond THEN 1 ELSE 0 END) AS BIGINT) AS n_$sfx,
            CAST(sum(CASE WHEN $cond THEN x ELSE 0 END) AS BIGINT) AS sx_$sfx,
            CAST(sum(CASE WHEN $cond THEN y ELSE 0 END) AS BIGINT) AS sy_$sfx,
            CAST(sum(CASE WHEN $cond THEN x * y ELSE 0 END) AS BIGINT) AS sxy_$sfx,
            CAST(sum(CASE WHEN $cond THEN x * x ELSE 0 END) AS BIGINT) AS sxx_$sfx,
            CAST(sum(CASE WHEN $cond THEN y * y ELSE 0 END) AS BIGINT) AS syy_$sfx"""
      s"""WITH b AS (SELECT ${Stages.lineitemQtySql} AS x,
                            ${Stages.centsSql("l_extendedprice")} // 100 AS y
                     FROM lineitem),
         c AS (SELECT x, CAST(count(*) AS BIGINT) AS cnt FROM b GROUP BY 1),
         t AS (SELECT CAST(count(*) AS BIGINT) AS n_all FROM b),
         s AS (SELECT min(x) AS x_split
               FROM (SELECT x, sum(cnt) OVER (ORDER BY x ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum FROM c), t
               WHERE cum >= (n_all + 1) // 2),
         m AS (SELECT ${side("lo", "x <= x_split")},
                      ${side("hi", "x > x_split")}
               FROM b, s)
         SELECT s.x_split AS x_split, n_lo, n_hi,
                ${Analytics.linregSideSql("slope", "lo")} AS slope_lo,
                ${Analytics.linregSideSql("slope", "hi")} AS slope_hi,
                (${Analytics.linregSideSql("slope", "hi")}) - (${Analytics.linregSideSql("slope", "lo")}) AS slope_diff
         FROM m, s"""
    }),
    QueryDef("q_ccf", (s, dir) =>
      Analytics.crossCorrelationLadder(Tables.events(s, dir)).orderBy("lag"),
      s"""WITH pa AS (SELECT ${Stages.duckEpochBucketSql("ts", 86400)} AS d,
                            CAST(sum(${Stages.centsSql("value")}) AS BIGINT) AS y
                     FROM events WHERE event_type = 'purchase' GROUP BY 1),
         ta AS (SELECT CAST(count(*) AS BIGINT) AS n, CAST(sum(y) AS BIGINT) AS s FROM pa),
         ea AS (SELECT d, n * y - s AS e FROM pa, ta),
         pb AS (SELECT ${Stages.duckEpochBucketSql("ts", 86400)} AS d,
                       CAST(sum(${Stages.centsSql("value")}) AS BIGINT) AS y
                FROM events WHERE event_type = 'click' GROUP BY 1),
         tb AS (SELECT CAST(count(*) AS BIGINT) AS n, CAST(sum(y) AS BIGINT) AS s FROM pb),
         eb AS (SELECT d, n * y - s AS e FROM pb, tb),
         saa AS (SELECT CAST(sum(CAST(e AS HUGEINT) * e) AS HUGEINT) AS saa FROM ea),
         sbb AS (SELECT CAST(sum(CAST(e AS HUGEINT) * e) AS HUGEINT) AS sbb FROM eb),
         lags AS (SELECT CAST(unnest(generate_series(-3, 3)) AS BIGINT) AS lag),
         p AS (SELECT lag, CAST(count(*) AS BIGINT) AS n_pairs,
                      CAST(sum(CAST(a.e AS HUGEINT) * b.e) AS HUGEINT) AS sab
               FROM ea a, lags, eb b
               WHERE a.d + lag = b.d GROUP BY 1)
         SELECT lag, n_pairs,
                CAST(sab AS DOUBLE) / nullif(sqrt(CAST(saa AS DOUBLE) * CAST(sbb AS DOUBLE)), 0.0E0) AS ccf
         FROM p, saa, sbb ORDER BY lag"""),
    QueryDef("q_concurrency", (s, dir) =>
      Analytics.peakConcurrency(Tables.events(s, dir)).orderBy("day"),
      s"""WITH e AS (SELECT event_id,
                           ${Stages.duckEpochBucketSql("ts", 1)} AS ts_sec
                    FROM events),
         pts AS (SELECT event_id, ts_sec // 86400 AS day, ts_sec - 900 AS t,
                        CAST(1 AS BIGINT) AS delta
                 FROM e
                 UNION ALL
                 SELECT event_id, ts_sec // 86400 AS day, ts_sec + 900 AS t,
                        CAST(-1 AS BIGINT) AS delta
                 FROM e),
         r AS (SELECT day,
                      CAST(sum(delta) OVER (PARTITION BY day
                        ORDER BY t ASC, delta ASC, event_id ASC
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
                        AS running
               FROM pts)
         SELECT day, max(running) AS peak_concurrency, count(*) AS n_points
         FROM r GROUP BY day ORDER BY day"""),
    QueryDef("q_peaks", (s, dir) =>
      Analytics.localPeaks(Tables.events(s, dir)).orderBy("hour"),
      s"""WITH h AS (SELECT ${Stages.duckEpochBucketSql("ts", 3600)} AS hour,
                      count(*) AS cnt
               FROM events GROUP BY 1),
         l AS (SELECT hour, cnt,
                      lag(cnt, 1) OVER o AS p1, lag(cnt, 2) OVER o AS p2,
                      lead(cnt, 1) OVER o AS n1, lead(cnt, 2) OVER o AS n2
               FROM h WINDOW o AS (ORDER BY hour))
         SELECT hour, cnt, p1, n1 FROM l
         WHERE p1 IS NOT NULL AND p2 IS NOT NULL AND n1 IS NOT NULL AND n2 IS NOT NULL
           AND cnt > p1 AND cnt > p2 AND cnt > n1 AND cnt > n2
         ORDER BY hour"""),
    QueryDef("q_dedup_sweep", (s, dir) =>
      Dedup.dedupThresholdSweep(Tables.documents(s, dir)).orderBy("n_candidates"),
      s"""WITH g AS (SELECT doc_id, $duckShingles AS grams FROM documents),
         $duckMinhashSigCtes,
         bands AS (SELECT doc_id, sig, unnest(generate_series(0,7)) AS band FROM sig),
         keyed AS (SELECT doc_id, band, sig[band*4+1:band*4+4] AS bsig FROM bands),
         kept AS (SELECT * FROM keyed QUALIFY count(*) OVER (PARTITION BY band, bsig) <= $bucketCap),
         cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
                  FROM kept a JOIN kept b ON a.band = b.band AND a.bsig = b.bsig AND a.doc_id < b.doc_id),
         sj AS (SELECT CAST(len(list_filter(generate_series(1,32), i -> sa.sig[i] = sb.sig[i])) AS DOUBLE) / 32 AS ej
                FROM cand JOIN sig sa ON sa.doc_id = doc_a JOIN sig sb ON sb.doc_id = doc_b)
         SELECT count(*) AS n_candidates,
                CAST(sum(CASE WHEN ej >= 0.5 THEN 1 ELSE 0 END) AS BIGINT) AS ge_050,
                CAST(sum(CASE WHEN ej >= 0.6 THEN 1 ELSE 0 END) AS BIGINT) AS ge_060,
                CAST(sum(CASE WHEN ej >= 0.7 THEN 1 ELSE 0 END) AS BIGINT) AS ge_070,
                CAST(sum(CASE WHEN ej >= 0.8 THEN 1 ELSE 0 END) AS BIGINT) AS ge_080,
                CAST(sum(CASE WHEN ej >= 0.9 THEN 1 ELSE 0 END) AS BIGINT) AS ge_090
         FROM sj"""),
    QueryDef("q_winsor_mean", (s, dir) =>
      Analytics.winsorizedMean(Tables.events(s, dir)).orderBy("event_type"),
      s"""WITH b AS (SELECT event_type, ${Stages.centsSql("value")} AS cents FROM events),
         f AS (SELECT event_type,
                      CAST(round(quantile_cont(cents, 0.05)) AS BIGINT) AS lo,
                      CAST(round(quantile_cont(cents, 0.95)) AS BIGINT) AS hi
               FROM b GROUP BY 1)
         SELECT event_type, count(*) AS n, max(lo) AS lo_cents, max(hi) AS hi_cents,
                CAST(sum(greatest(lo, least(hi, cents))) AS BIGINT) AS winsor_cents,
                CAST(sum(cents) AS BIGINT) AS raw_cents,
                CAST(sum(greatest(lo, least(hi, cents))) AS DOUBLE)
                  / CAST(count(*) AS DOUBLE) AS winsor_mean
         FROM b JOIN f USING (event_type)
         GROUP BY event_type ORDER BY event_type"""),
    QueryDef("q_growth_accounting", (s, dir) =>
      Analytics.growthAccounting(Tables.events(s, dir)).orderBy("week"),
      s"""WITH a AS (SELECT DISTINCT user_id,
                           ${Stages.duckEpochBucketSql("ts", 604800)} AS week
                    FROM events),
         f AS (SELECT user_id, min(week) AS first_week FROM a GROUP BY 1),
         cur AS (SELECT user_id, week, 1 AS is_curr FROM a),
         prv AS (SELECT user_id, week + 1 AS week, 1 AS was_prev FROM a),
         j AS (SELECT coalesce(cur.user_id, prv.user_id) AS user_id,
                      coalesce(cur.week, prv.week) AS week,
                      cur.is_curr, prv.was_prev
               FROM cur FULL OUTER JOIN prv
                 ON cur.user_id = prv.user_id AND cur.week = prv.week)
         SELECT week,
                CAST(sum(CASE WHEN is_curr IS NOT NULL AND first_week = week
                  THEN 1 ELSE 0 END) AS BIGINT) AS n_new,
                CAST(sum(CASE WHEN is_curr IS NOT NULL AND was_prev IS NOT NULL
                  THEN 1 ELSE 0 END) AS BIGINT) AS n_retained,
                CAST(sum(CASE WHEN is_curr IS NOT NULL AND was_prev IS NULL
                  AND first_week < week THEN 1 ELSE 0 END) AS BIGINT) AS n_resurrected,
                CAST(sum(CASE WHEN is_curr IS NULL AND was_prev IS NOT NULL
                  THEN 1 ELSE 0 END) AS BIGINT) AS n_churned
         FROM j JOIN f USING (user_id), (SELECT max(week) AS max_week FROM a) mx
         WHERE week <= max_week
         GROUP BY week ORDER BY week"""),
    QueryDef("q_cuped", (s, dir) =>
      Analytics.cupedReport(Tables.events(s, dir)).orderBy("n_users"),
      {
      val stats = (Stages.momentStatsSql.filter(_._1 == "corr_xy") ++ Stages.cupedSql)
        .map { case (name, sql) => s"$sql AS $name" }
        .mkString(",\n                ")
      s"""WITH b AS (SELECT user_id,
                      ${Stages.duckEpochBucketSql("ts", 604800)} AS week,
                      ${Stages.centsSql("value")} AS cents
               FROM events),
         a AS (SELECT min(week) AS w0 FROM b),
         pu AS (SELECT user_id,
                       CAST(sum(CASE WHEN week - w0 <= 1 THEN cents ELSE 0 END) AS BIGINT) AS pre,
                       CAST(sum(CASE WHEN week - w0 >= 3 AND week - w0 <= 4 THEN cents ELSE 0 END) AS BIGINT) AS post
                FROM b CROSS JOIN a GROUP BY 1),
         m AS (SELECT count(*) AS n, CAST(sum(pre) AS BIGINT) AS sx,
                      CAST(sum(post) AS BIGINT) AS sy,
                      CAST(sum(pre * post) AS BIGINT) AS sxy,
                      CAST(sum(pre * pre) AS BIGINT) AS sxx,
                      CAST(sum(post * post) AS BIGINT) AS syy
               FROM pu)
         SELECT n AS n_users,
                $stats
         FROM m"""
    }),
    QueryDef("q_sample_error", (s, dir) =>
      Relational.sampleAccuracy(Tables.events(s, dir)).orderBy("event_type"),
      s"""WITH b AS (SELECT event_type, ${Stages.centsSql("value")} AS cents,
                      ${Stages.duckMd5BitsSql("CAST(event_id AS VARCHAR)", "1", 8)} % 10 AS h
               FROM events)
         SELECT event_type, count(*) AS n,
                quantile_cont(cents, 0.5) AS p50_full,
                CAST(sum(CASE WHEN h = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_sample,
                quantile_cont(CASE WHEN h = 0 THEN cents END, 0.5) AS p50_sample,
                abs(quantile_cont(CASE WHEN h = 0 THEN cents END, 0.5)
                    - quantile_cont(cents, 0.5)) AS abs_err
         FROM b GROUP BY event_type ORDER BY event_type"""),
    QueryDef("q_recency_score", (s, dir) =>
      Relational.recencyScore(Tables.events(s, dir)).orderBy("user_id"),
      s"""WITH b AS (SELECT user_id,
                      ${Stages.duckEpochBucketSql("ts", 1)} AS ts_sec,
                      ${Stages.centsSql("value")} AS cents
               FROM events),
         a AS (SELECT max(ts_sec) AS now_sec FROM b),
         s AS (SELECT user_id, cents,
                      (now_sec - ts_sec) // 604800 AS age_weeks
               FROM b CROSS JOIN a),
         w AS (SELECT user_id, cents,
                      CASE WHEN age_weeks > 5 THEN 0
                           ELSE 32 // (1 << CAST(age_weeks AS INT)) END AS w32
               FROM s)
         SELECT user_id, count(*) AS n_events,
                CAST(sum(cents * w32) AS BIGINT) AS score_32nds,
                CAST(sum(cents * w32) AS DOUBLE) / 32.0 AS score
         FROM w GROUP BY user_id ORDER BY user_id"""),
    QueryDef("q_error_rate", (s, dir) =>
      Analytics.errorRateMonitor(Tables.events(s, dir)).orderBy("hour"),
      s"""WITH h AS (SELECT ${Stages.duckEpochBucketSql("ts", 3600)} AS hour,
                      count(*) AS n,
                      CAST(sum(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS BIGINT)
                        AS n_err
               FROM events GROUP BY 1),
         w AS (SELECT hour, n, n_err,
                      CAST(sum(n) OVER fr AS BIGINT) AS win_n,
                      CAST(sum(n_err) OVER fr AS BIGINT) AS win_err
               FROM h WINDOW fr AS (ORDER BY hour ROWS BETWEEN 23 PRECEDING AND CURRENT ROW))
         SELECT hour, n, n_err,
                CAST(n_err AS DOUBLE) / CAST(n AS DOUBLE) AS rate,
                CASE WHEN win_err = 0 THEN NULL
                ELSE CAST(n_err AS DOUBLE) * CAST(win_n AS DOUBLE)
                     / (CAST(n AS DOUBLE) * CAST(win_err AS DOUBLE)) END AS rate_ratio
         FROM w ORDER BY hour"""),
    QueryDef("q_trending", (s, dir) =>
      Analytics.trendingParts(Tables.lineitem(s, dir)).orderBy("l_partkey"),
      s"""WITH wk AS (SELECT ${Stages.duckEpochBucketSql("l_shipdate", 604800)} AS week,
                      l_partkey, CAST(sum(${Stages.centsSql("l_extendedprice")}) AS BIGINT) AS week_cents
               FROM lineitem GROUP BY 1, 2),
         a AS (SELECT min(week) AS w0 FROM wk),
         f AS (SELECT l_partkey, week - w0 AS rel, week_cents FROM wk CROSS JOIN a
               WHERE week - w0 IN (0, 3)),
         r AS (SELECT l_partkey, rel, week_cents,
                      CAST(row_number() OVER (PARTITION BY rel
                        ORDER BY week_cents DESC, l_partkey ASC) AS BIGINT) AS rank
               FROM f),
         t AS (SELECT * FROM r WHERE rank <= 20)
         SELECT coalesce(x.l_partkey, y.l_partkey) AS l_partkey,
                x.rank AS rank_a, x.week_cents AS cents_a,
                y.rank AS rank_b, y.week_cents AS cents_b,
                x.rank - y.rank AS jump
         FROM (SELECT * FROM t WHERE rel = 0) x
         FULL OUTER JOIN (SELECT * FROM t WHERE rel = 3) y ON x.l_partkey = y.l_partkey
         ORDER BY l_partkey"""),
    QueryDef("q_revenue_bridge", (s, dir) =>
      Analytics.revenueBridge(Tables.events(s, dir)).orderBy("event_type"),
      s"""WITH b AS (SELECT event_type,
                      ${Stages.duckEpochBucketSql("ts", 604800)} AS week,
                      ${Stages.centsSql("value")} AS cents
               FROM events),
         a AS (SELECT min(week) AS w0 FROM b),
         f AS (SELECT event_type, week - w0 AS rel, cents FROM b CROSS JOIN a
               WHERE week - w0 IN (0, 3)),
         g AS (SELECT event_type,
                      CAST(sum(CASE WHEN rel = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
                      CAST(sum(CASE WHEN rel = 0 THEN cents ELSE 0 END) AS BIGINT) AS s_a,
                      CAST(sum(CASE WHEN rel = 3 THEN 1 ELSE 0 END) AS BIGINT) AS n_b,
                      CAST(sum(CASE WHEN rel = 3 THEN cents ELSE 0 END) AS BIGINT) AS s_b
               FROM f GROUP BY 1)
         SELECT event_type, n_a, s_a, n_b, s_b, s_b - s_a AS delta_cents,
                CASE WHEN n_a = 0 THEN NULL
                ELSE CAST(n_b - n_a AS DOUBLE) * (CAST(s_a AS DOUBLE) / CAST(n_a AS DOUBLE))
                END AS volume_effect,
                CASE WHEN n_a = 0 THEN NULL
                ELSE CAST(s_b - s_a AS DOUBLE)
                     - CAST(n_b - n_a AS DOUBLE) * (CAST(s_a AS DOUBLE) / CAST(n_a AS DOUBLE))
                END AS mix_effect
         FROM g ORDER BY event_type"""),
    QueryDef("q_time_in_state", (s, dir) =>
      Analytics.timeInState(Tables.events(s, dir)).orderBy("event_type"),
      s"""WITH e AS (SELECT user_id, event_id, event_type,
                           ${Stages.duckEpochBucketSql("ts", 1)} AS ts_sec
                    FROM events),
         d AS (SELECT event_type,
                      lead(ts_sec, 1) OVER (PARTITION BY user_id
                        ORDER BY ts_sec ASC, event_id ASC) - ts_sec AS dwell
               FROM e)
         SELECT event_type, count(*) AS n_stays,
                CAST(sum(dwell) AS BIGINT) AS total_sec, max(dwell) AS max_sec,
                CAST(sum(dwell) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS avg_sec
         FROM d WHERE dwell IS NOT NULL GROUP BY event_type ORDER BY event_type"""),
    QueryDef("q_vocab_drift", (s, dir) =>
      TextAnalysis.vocabDrift(Tables.documents(s, dir)).orderBy("batch"),
      """WITH s AS (SELECT DISTINCT doc_id // 100 AS batch,
                           unnest(string_split_regex(trim(text), '\s+')) AS tok
                    FROM documents),
         z AS (SELECT batch, count(*) AS n_tokens FROM s GROUP BY 1),
         c AS (SELECT b.batch AS batch, count(*) AS n_common
               FROM s a JOIN s b ON a.tok = b.tok AND b.batch = a.batch + 1
               GROUP BY 1)
         SELECT z.batch AS batch, p.n_tokens AS n_tokens_prev, z.n_tokens AS n_tokens,
                CAST(coalesce(c.n_common, 0) AS BIGINT) AS n_common,
                CAST(coalesce(c.n_common, 0) AS DOUBLE)
                  / CAST(p.n_tokens + z.n_tokens - coalesce(c.n_common, 0) AS DOUBLE) AS jaccard
         FROM z JOIN (SELECT batch + 1 AS batch, n_tokens FROM z) p USING (batch)
              LEFT JOIN c USING (batch)
         ORDER BY batch"""),
    QueryDef("q_asof_forward", (s, dir) => {
      // right side: purchases, unique per (user, ts) per the as-of contract
      val purchases = Tables.events(s, dir)
        .filter(col("event_type") === "purchase")
        .groupBy(col("user_id").as("p_user"), col("ts").as("p_ts"))
        .agg(max("event_id").as("purchase_id"),
          expr(s"max_by(${Stages.centsSql("value")}, event_id)").as("p_cents"))
      AsOfJoin
        .leftAsOfForward(
          Tables.events(s, dir).select(col("event_id"), col("user_id"), col("ts")),
          purchases, "user_id", "ts", "p_user", "p_ts")
        .select(col("event_id"), col("user_id"), col("purchase_id"), col("p_cents"))
        .orderBy("event_id")
    },
      s"""WITH p AS (
           SELECT user_id AS p_user, ts AS p_ts, max(event_id) AS purchase_id,
                  arg_max(${Stages.centsSql("value")}, event_id) AS p_cents
           FROM events WHERE event_type = 'purchase' GROUP BY 1, 2)
         SELECT e.event_id, e.user_id, p.purchase_id, p.p_cents
         FROM events e ASOF LEFT JOIN p
           ON e.user_id = p.p_user AND e.ts <= p.p_ts
         ORDER BY event_id"""),
    QueryDef("q_levene", (s, dir) =>
      Inference.brownForsythe(Tables.events(s, dir)),
      s"""WITH base AS (SELECT event_type, ${Stages.centsSql("value")} AS cents FROM events),
         med AS (SELECT event_type, CAST(round(2 * quantile_cont(cents, 0.5)) AS BIGINT) AS med2
                 FROM base GROUP BY 1),
         dev AS (SELECT base.event_type, abs(2 * cents - med2) AS d
                 FROM base JOIN med USING (event_type)),
         g AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n, CAST(sum(d) AS BIGINT) AS s,
                      CAST(sum(d * d) AS BIGINT) AS q
               FROM dev GROUP BY 1),
         t AS (SELECT CAST(count(*) AS BIGINT) AS k, CAST(sum(n) AS BIGINT) AS nn,
                      CAST(sum(s) AS BIGINT) AS ss,
                      CAST(sum(${Inference.rayleighQSql("n", "s")}) AS BIGINT) AS rbq,
                      CAST(sum(q) AS BIGINT) AS qq
               FROM g)
         SELECT k, nn AS n, ${Inference.fStatSql} AS f_stat FROM t"""),
    QueryDef("q_kruskal", (s, dir) =>
      Inference.kruskalWallis(Tables.events(s, dir)),
      s"""WITH base AS (SELECT event_type, ${Stages.centsSql("value")} AS x FROM events),
         gx AS (SELECT x, event_type, CAST(count(*) AS BIGINT) AS cnt FROM base GROUP BY 1, 2),
         tx0 AS (SELECT x, CAST(sum(cnt) AS BIGINT) AS t FROM gx GROUP BY 1),
         tx AS (SELECT x, t,
                       CAST(coalesce(sum(t) OVER (ORDER BY x
                              ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS c
                FROM tx0),
         pg AS (SELECT event_type, CAST(sum(cnt) AS BIGINT) AS n,
                       CAST(sum(cnt * (2 * c + t + 1)) AS BIGINT) AS s
                FROM gx JOIN tx USING (x) GROUP BY 1),
         ties0 AS (SELECT CAST(sum(t) AS BIGINT) AS nn,
                          CAST(sum(CAST(t AS HUGEINT) * t * t - t) AS HUGEINT) AS tie3 FROM tx),
         ties AS (SELECT nn, tie3,
                         (tie3 = CAST(nn AS HUGEINT) * nn * nn - nn) AS all_tied FROM ties0),
         agg AS (SELECT CAST(count(*) AS BIGINT) AS k,
                        CAST(sum(${Inference.rayleighQSql("n", "s")}) AS BIGINT) AS r2q
                 FROM pg)
         SELECT k, nn AS n, ${Inference.kwHSql} AS h_stat FROM agg, ties"""),
    QueryDef("q_tukey", (s, dir) =>
      Inference.tukeyContrasts(Tables.events(s, dir)).orderBy("type_a", "type_b"),
      s"""WITH base AS (SELECT event_type, ${Stages.centsSql("value")} AS cents FROM events),
         g AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n, CAST(sum(cents) AS BIGINT) AS s,
                      CAST(sum(cents * cents) AS BIGINT) AS q
               FROM base GROUP BY 1),
         m AS (SELECT CAST(count(*) AS BIGINT) AS k, CAST(sum(n) AS BIGINT) AS nn,
                      CAST(sum(${Inference.rayleighQSql("n", "s")}) AS BIGINT) AS rbq,
                      CAST(sum(q) AS BIGINT) AS qq
               FROM g)
         SELECT a.event_type AS type_a, b.event_type AS type_b,
                (CAST(a.s AS DOUBLE) / CAST(a.n AS DOUBLE)) / 100.0 AS mean_a,
                (CAST(b.s AS DOUBLE) / CAST(b.n AS DOUBLE)) / 100.0 AS mean_b,
                ${Inference.tukeyQSql("a.n", "a.s", "b.n", "b.s")} AS q_stat
         FROM g a JOIN g b ON a.event_type < b.event_type, m
         ORDER BY type_a, type_b"""),
    QueryDef("q_effect_size", (s, dir) =>
      Inference.cohensD(Tables.events(s, dir)),
      s"""WITH base AS (SELECT event_type, ${Stages.centsSql("value")} AS cents FROM events),
         m AS (SELECT
                 CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS n1,
                 CAST(sum(CASE WHEN event_type = 'purchase' THEN cents ELSE 0 END) AS BIGINT) AS s1,
                 CAST(sum(CASE WHEN event_type = 'purchase' THEN cents * cents ELSE 0 END) AS BIGINT) AS q1,
                 CAST(sum(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS BIGINT) AS n2,
                 CAST(sum(CASE WHEN event_type = 'view' THEN cents ELSE 0 END) AS BIGINT) AS s2,
                 CAST(sum(CASE WHEN event_type = 'view' THEN cents * cents ELSE 0 END) AS BIGINT) AS q2
               FROM base)
         SELECT n1, n2, ${Inference.cohenDSql} AS cohen_d,
                (1.0 - 3.0 / (4.0 * CAST(n1 + n2 AS DOUBLE) - 9.0)) * (${Inference.cohenDSql}) AS hedges_g
         FROM m"""),
    QueryDef("q_odds_ratio", (s, dir) =>
      Inference.oddsRatio(Tables.events(s, dir)),
      s"""WITH base AS (SELECT ((CAST(ts AS DATE) - DATE '1970-01-05') % 7) >= 5 AS wk,
                              ${Stages.centsSql("value")} > 10000 AS hi
                       FROM events),
         m AS (SELECT CAST(sum(CASE WHEN wk AND hi THEN 1 ELSE 0 END) AS BIGINT) AS a,
                      CAST(sum(CASE WHEN wk AND NOT hi THEN 1 ELSE 0 END) AS BIGINT) AS b,
                      CAST(sum(CASE WHEN NOT wk AND hi THEN 1 ELSE 0 END) AS BIGINT) AS c,
                      CAST(sum(CASE WHEN NOT wk AND NOT hi THEN 1 ELSE 0 END) AS BIGINT) AS d
               FROM base)
         SELECT a, b, c, d,
                (CAST(a AS DOUBLE) / nullif(CAST(b AS DOUBLE), 0.0E0)) * (CAST(d AS DOUBLE) / nullif(CAST(c AS DOUBLE), 0.0E0)) AS odds_ratio,
                (CAST(a AS DOUBLE) / nullif(CAST(a + b AS DOUBLE), 0.0E0))
                  / nullif(CAST(c AS DOUBLE) / nullif(CAST(c + d AS DOUBLE), 0.0E0), 0.0E0) AS risk_ratio,
                1.0 / nullif(CAST(a AS DOUBLE), 0.0E0) + 1.0 / nullif(CAST(b AS DOUBLE), 0.0E0)
                  + 1.0 / nullif(CAST(c AS DOUBLE), 0.0E0) + 1.0 / nullif(CAST(d AS DOUBLE), 0.0E0) AS se2_log_or
         FROM m"""),
    QueryDef("q_binom_test", (s, dir) =>
      Inference.binomialTest(Tables.events(s, dir)).orderBy("event_type"),
      s"""WITH g AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n,
                            CAST(sum(CASE WHEN ${Stages.centsSql("value")} > 10000
                                          THEN 1 ELSE 0 END) AS BIGINT) AS x
                     FROM events GROUP BY 1)
         SELECT event_type, n, x, CAST(x AS DOUBLE) / CAST(n AS DOUBLE) AS p_hat,
                ${Inference.binomZSql(0.25)} AS z
         FROM g ORDER BY event_type"""),
    QueryDef("q_eb_shrink", (s, dir) =>
      Inference.ebShrinkage(Tables.lineitem(s, dir)).orderBy("l_partkey"),
      s"""WITH pp AS (SELECT l_partkey, CAST(count(*) AS BIGINT) AS n,
                             CAST(sum(CASE WHEN l_quantity >= 25.0 THEN 1 ELSE 0 END) AS BIGINT) AS x
                      FROM lineitem GROUP BY 1),
         pq AS (SELECT *, CAST(round((CAST(x AS DOUBLE) / CAST(n AS DOUBLE)) * 1000000) AS BIGINT) AS ppm
                FROM pp),
         pr AS (SELECT CAST(count(*) AS BIGINT) AS k, CAST(sum(n) AS BIGINT) AS sn,
                       CAST(sum(x) AS BIGINT) AS sx, CAST(sum(ppm) AS BIGINT) AS sp,
                       CAST(sum(ppm * ppm) AS BIGINT) AS spp
                FROM pq),
         pm AS (SELECT ${Inference.ebMuSql} AS mu, ${Inference.ebMSql} AS m_prior FROM pr)
         SELECT l_partkey, n, x, CAST(x AS DOUBLE) / CAST(n AS DOUBLE) AS p_raw, mu, m_prior,
                (CAST(x AS DOUBLE) + m_prior * mu) / (CAST(n AS DOUBLE) + m_prior) AS p_shrunk
         FROM pq, pm ORDER BY l_partkey"""),
    QueryDef("q_rolling_corr", (s, dir) =>
      Inference.rollingCorr(Tables.lineitem(s, dir)).orderBy("l_returnflag", "day_epoch"),
      s"""WITH daily AS (SELECT l_returnflag, CAST(l_shipdate AS DATE) AS d,
                               CAST(count(*) AS BIGINT) AS x,
                               CAST(sum(${Stages.centsSql("l_extendedprice")}) AS BIGINT) AS y
                        FROM lineitem GROUP BY 1, 2),
         w AS (SELECT l_returnflag, d,
                      CAST(count(*) OVER win AS BIGINT) AS wn,
                      CAST(sum(x) OVER win AS BIGINT) AS sx,
                      CAST(sum(y) OVER win AS BIGINT) AS sy,
                      CAST(sum(x * x) OVER win AS BIGINT) AS sxx,
                      CAST(sum(y * y) OVER win AS BIGINT) AS syy,
                      CAST(sum(x * y) OVER win AS BIGINT) AS sxy
               FROM daily
               WINDOW win AS (PARTITION BY l_returnflag ORDER BY d
                              ROWS BETWEEN 6 PRECEDING AND CURRENT ROW))
         SELECT l_returnflag, CAST(d - DATE '1970-01-01' AS BIGINT) AS day_epoch,
                wn AS n_days, ${Inference.rollingCorrSql} AS r
         FROM w ORDER BY l_returnflag, d"""),
    QueryDef("q_math_funcs", (s, dir) =>
      Relational.mathFuncs(Tables.lineitem(s, dir)).orderBy("l_orderkey", "l_linenumber"),
      s"""SELECT l_orderkey, CAST(l_linenumber AS BIGINT) AS l_linenumber,
                abs(l_quantity - 25.0) AS q_abs,
                CAST(sign(l_quantity - 25.0) AS BIGINT) AS q_sign,
                ${Stages.centsSql("l_extendedprice")} // 100000 AS p_floor_k,
                (${Stages.centsSql("l_extendedprice")} + 99999) // 100000 AS p_ceil_k,
                l_orderkey % 7 AS k_mod7,
                l_quantity * l_quantity AS q_sq,
                CASE WHEN l_quantity < 0 THEN NULL ELSE sqrt(l_quantity) END AS q_sqrt,
                greatest(l_quantity, 25.0) AS q_hi,
                least(l_quantity, 25.0) AS q_lo,
                CAST(length(bin(${Stages.centsSql("l_extendedprice")})) AS BIGINT) AS p_bits
         FROM lineitem ORDER BY l_orderkey, l_linenumber"""),
    QueryDef("q_bit_funcs", (s, dir) =>
      Relational.bitFuncs(Tables.lineitem(s, dir)).orderBy("l_returnflag", "l_linestatus"),
      """SELECT l_returnflag, l_linestatus, CAST(count(*) AS BIGINT) AS n_rows,
                CAST(bit_and(l_orderkey) AS BIGINT) AS key_and,
                CAST(bit_or(l_orderkey) AS BIGINT) AS key_or,
                CAST(bit_xor(l_orderkey) AS BIGINT) AS key_xor,
                CAST(sum(bit_count(l_orderkey)) AS BIGINT) AS popcount_sum,
                CAST(sum(l_orderkey & 255) AS BIGINT) AS low_byte_sum,
                CAST(sum(l_linenumber * 8) AS BIGINT) AS shifted_sum
         FROM lineitem GROUP BY 1, 2 ORDER BY 1, 2"""),
    QueryDef("q_posexplode", (s, dir) =>
      TextAnalysis.posExplode(Tables.documents(s, dir)).orderBy("doc_id", "pos"),
      """WITH t AS (SELECT doc_id, string_split_regex(trim(text), '\s+') AS toks FROM documents),
         e AS (SELECT doc_id, CAST(unnest(range(len(toks))) AS BIGINT) AS pos,
                      unnest(toks) AS token
               FROM t)
         SELECT doc_id, pos, token FROM e WHERE pos < 8 ORDER BY doc_id, pos"""),
    QueryDef("q_doclen_hist", (s, dir) =>
      TextAnalysis.docLengthHistogram(Tables.documents(s, dir)).orderBy("lang", "len_bits"),
      """SELECT lang, CAST(length(bin(n_chars)) AS BIGINT) AS len_bits,
                CAST(count(*) AS BIGINT) AS n_docs,
                CAST(min(n_chars) AS BIGINT) AS min_chars,
                CAST(max(n_chars) AS BIGINT) AS max_chars
         FROM documents GROUP BY 1, 2 ORDER BY 1, 2"""),
    QueryDef("q_clustering_coeff", (s, dir) =>
      Graph.clusteringCoefficient(Tables.lineitem(s, dir)).orderBy("part"),
      """WITH op AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem),
         e AS (SELECT a.pk AS pa, b.pk AS pb FROM op a JOIN op b ON a.ok = b.ok AND a.pk < b.pk
               GROUP BY 1, 2 HAVING count(*) >= 2),
         d AS (SELECT part, count(*) AS d
               FROM (SELECT pa AS part FROM e UNION ALL SELECT pb FROM e) GROUP BY part),
         o AS (SELECT CASE WHEN da < db OR (da = db AND pa < pb) THEN pa ELSE pb END AS src,
                      CASE WHEN da < db OR (da = db AND pa < pb) THEN pb ELSE pa END AS dst
               FROM (SELECT e.pa, e.pb, x.d AS da, y.d AS db
                     FROM e JOIN d x ON x.part = e.pa JOIN d y ON y.part = e.pb)),
         t AS (SELECT e1.src AS a, e1.dst AS b, e2.dst AS c
               FROM o e1 JOIN o e2 ON e1.dst = e2.src
               JOIN o e3 ON e3.src = e1.src AND e3.dst = e2.dst),
         pn AS (SELECT part, count(*) AS n_tri
                FROM (SELECT a AS part FROM t UNION ALL SELECT b FROM t UNION ALL SELECT c FROM t)
                GROUP BY part)
         SELECT d.part, CAST(d.d AS BIGINT) AS degree,
                CAST(coalesce(pn.n_tri, 0) AS BIGINT) AS n_tri,
                2.0 * CAST(coalesce(pn.n_tri, 0) AS DOUBLE)
                  / (CAST(d.d AS DOUBLE) * CAST(d.d - 1 AS DOUBLE)) AS coeff
         FROM d LEFT JOIN pn ON pn.part = d.part
         WHERE d.d >= 2 ORDER BY d.part"""),
    QueryDef("q_novelty", (s, dir) =>
      TextAnalysis.ngramNovelty(Tables.documents(s, dir)).orderBy("doc_id"),
      """WITH t AS (SELECT doc_id, string_split_regex(trim(text), '\s+') AS toks FROM documents),
         b0 AS (SELECT doc_id, CAST(unnest(range(1, len(toks))) AS BIGINT) AS i, toks
                FROM t WHERE len(toks) >= 2),
         bg AS (SELECT DISTINCT doc_id, toks[i] AS w1, toks[i + 1] AS w2 FROM b0),
         f AS (SELECT w1, w2, min(doc_id) AS first_doc FROM bg GROUP BY 1, 2)
         SELECT bg.doc_id, CAST(count(*) AS BIGINT) AS n_grams,
                CAST(sum(CASE WHEN f.first_doc = bg.doc_id THEN 1 ELSE 0 END) AS BIGINT) AS n_novel,
                CAST(sum(CASE WHEN f.first_doc = bg.doc_id THEN 1 ELSE 0 END) AS DOUBLE)
                  / CAST(count(*) AS DOUBLE) AS novelty
         FROM bg JOIN f USING (w1, w2) GROUP BY 1 ORDER BY doc_id"""),
    QueryDef("q_jarque_bera", (s, dir) =>
      Analytics.jarqueBera(Tables.events(s, dir)).orderBy("event_type"),
      {
      val (mu, m2, m3, m4) = Stages.centralMomentsSql
      val skew = s"($m3 / ($m2 * sqrt($m2)))"
      val exk = s"($m4 / ($m2 * $m2) - 3)"
      s"""WITH b AS (SELECT event_type, CAST(round(value) AS BIGINT) AS y FROM events),
         m AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n,
                      CAST(sum(y) AS BIGINT) AS s1, CAST(sum(y * y) AS BIGINT) AS s2,
                      CAST(sum(y * y * y) AS BIGINT) AS s3,
                      CAST(sum(y * y * y * y) AS BIGINT) AS s4
               FROM b GROUP BY 1)
         SELECT event_type, n,
                CASE WHEN $m2 <= 0 THEN NULL ELSE $skew END AS skewness,
                CASE WHEN $m2 <= 0 THEN NULL ELSE $exk END AS excess_kurtosis,
                CASE WHEN $m2 <= 0 THEN NULL ELSE ${Stages.divisorSql(nonZero = false)} / 6.0 * ($skew * $skew + $exk * $exk / 4.0) END AS jb
         FROM m ORDER BY event_type"""
    }),
    QueryDef("q_quantile_disc", (s, dir) =>
      Relational.discQuantiles(Tables.lineitem(s, dir)).orderBy("l_returnflag"),
      s"""WITH g AS (SELECT l_returnflag, ${Stages.centsSql("l_extendedprice")} AS x,
                           CAST(count(*) AS BIGINT) AS c
                    FROM lineitem GROUP BY 1, 2),
         w AS (SELECT l_returnflag, x, c,
                      CAST(sum(c) OVER (PARTITION BY l_returnflag ORDER BY x
                             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum
               FROM g),
         n AS (SELECT l_returnflag, CAST(sum(c) AS BIGINT) AS n_rows FROM g GROUP BY 1)
         SELECT w.l_returnflag, n.n_rows,
                CAST(min(CASE WHEN 100 * cum >= 25 * n_rows THEN x END) AS DOUBLE) / 100.0 AS p25,
                CAST(min(CASE WHEN 100 * cum >= 50 * n_rows THEN x END) AS DOUBLE) / 100.0 AS p50,
                CAST(min(CASE WHEN 100 * cum >= 75 * n_rows THEN x END) AS DOUBLE) / 100.0 AS p75,
                CAST(min(CASE WHEN 100 * cum >= 95 * n_rows THEN x END) AS DOUBLE) / 100.0 AS p95
         FROM w JOIN n USING (l_returnflag)
         GROUP BY 1, 2 ORDER BY 1"""),
    QueryDef("q_cramers_v", (s, dir) =>
      TextAnalysis.cramersV(Tables.documents(s, dir)),
      """WITH cells AS (SELECT source, lang, CAST(count(*) AS BIGINT) AS obs
                        FROM documents GROUP BY 1, 2),
         rt AS (SELECT source, CAST(sum(obs) AS BIGINT) AS rt FROM cells GROUP BY 1),
         ct AS (SELECT lang, CAST(sum(obs) AS BIGINT) AS ct FROM cells GROUP BY 1),
         tot AS (SELECT CAST(sum(obs) AS BIGINT) AS n FROM cells),
         j AS (SELECT source, lang, obs, rt, ct, n
               FROM cells JOIN rt USING (source) JOIN ct USING (lang) CROSS JOIN tot),
         t AS (SELECT CAST(max(n) AS BIGINT) AS nn,
                      CAST(count(DISTINCT source) AS BIGINT) AS r,
                      CAST(count(DISTINCT lang) AS BIGINT) AS c,
                      CAST(sum(CAST(round(
                        ((CAST(obs AS DOUBLE) - CAST(rt AS DOUBLE) * CAST(ct AS DOUBLE) / CAST(n AS DOUBLE))
                         * (CAST(obs AS DOUBLE) - CAST(rt AS DOUBLE) * CAST(ct AS DOUBLE) / CAST(n AS DOUBLE))
                         / nullif(CAST(rt AS DOUBLE) * CAST(ct AS DOUBLE) / CAST(n AS DOUBLE), 0.0E0)) * 1000000)
                        AS BIGINT)) AS BIGINT) AS chi2_micro
               FROM j)
         SELECT nn AS n, r, c,
                CAST(chi2_micro AS DOUBLE) / 1000000.0 AS chi2,
                sqrt((CAST(chi2_micro AS DOUBLE) / 1000000.0)
                     / nullif(CAST(nn AS DOUBLE) * CAST(least(r - 1, c - 1) AS DOUBLE), 0.0E0)) AS v
         FROM t"""),
    QueryDef("q_two_prop", (s, dir) =>
      Inference.twoProportionTest(Tables.events(s, dir)),
      s"""WITH base AS (SELECT ((CAST(ts AS DATE) - DATE '1970-01-05') % 7) >= 5 AS wk,
                               ${Stages.centsSql("value")} > 10000 AS hi
                        FROM events),
         m AS (SELECT CAST(sum(CASE WHEN NOT wk THEN 1 ELSE 0 END) AS BIGINT) AS n1,
                      CAST(sum(CASE WHEN NOT wk AND hi THEN 1 ELSE 0 END) AS BIGINT) AS x1,
                      CAST(sum(CASE WHEN wk THEN 1 ELSE 0 END) AS BIGINT) AS n2,
                      CAST(sum(CASE WHEN wk AND hi THEN 1 ELSE 0 END) AS BIGINT) AS x2
               FROM base)
         SELECT n1, x1, n2, x2,
                CAST(x1 AS DOUBLE) / nullif(CAST(n1 AS DOUBLE), 0.0E0) AS p1,
                CAST(x2 AS DOUBLE) / nullif(CAST(n2 AS DOUBLE), 0.0E0) AS p2,
                ${Inference.twoPropZSql} AS z
         FROM m"""),
    QueryDef("q_mcnemar", (s, dir) =>
      TextAnalysis.mcnemar(Tables.documents(s, dir)),
      s"""WITH p AS (SELECT n_chars > 300 AS p1,
                            len(string_split_regex(trim(text), '\\s+')) > 55 AS p2
                     FROM documents),
         m AS (SELECT CAST(sum(CASE WHEN p1 AND p2 THEN 1 ELSE 0 END) AS BIGINT) AS a,
                      CAST(sum(CASE WHEN p1 AND NOT p2 THEN 1 ELSE 0 END) AS BIGINT) AS b,
                      CAST(sum(CASE WHEN NOT p1 AND p2 THEN 1 ELSE 0 END) AS BIGINT) AS c,
                      CAST(sum(CASE WHEN NOT p1 AND NOT p2 THEN 1 ELSE 0 END) AS BIGINT) AS d
               FROM p)
         SELECT a, b, c, d, ${TextAnalysis.mcnemarSql} AS stat FROM m"""),
    QueryDef("q_hellinger", (s, dir) =>
      Inference.hellingerDistance(Tables.events(s, dir)),
      s"""WITH g AS (SELECT ${Stages.centsSql("value")} // 1000 AS bucket,
                            CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS a,
                            CAST(sum(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS BIGINT) AS b
                     FROM events WHERE event_type IN ('purchase', 'view') GROUP BY 1),
         t AS (SELECT CAST(count(*) AS BIGINT) AS n_buckets,
                      CAST(sum(a) AS BIGINT) AS na, CAST(sum(b) AS BIGINT) AS nb,
                      CAST(sum(CAST(round(sqrt(CAST(a AS DOUBLE) * CAST(b AS DOUBLE)) * 1000)
                        AS BIGINT)) AS BIGINT) AS bc_milli
               FROM g)
         SELECT n_buckets, na, nb,
                ${Inference.hellingerBcSql} AS bc,
                sqrt(greatest(1.0 - (${Inference.hellingerBcSql}), 0.0)) AS hellinger
         FROM t"""),
    QueryDef("q_prefix_dedup", (s, dir) =>
      Dedup.prefixClusters(Tables.documents(s, dir)).orderBy("prefix_md5"),
      """WITH t AS (SELECT doc_id,
                           md5(array_to_string((string_split_regex(trim(text), '\s+'))[1:8], ' ')) AS prefix_md5
                    FROM documents)
         SELECT prefix_md5, CAST(count(*) AS BIGINT) AS n_docs,
                min(doc_id) AS keeper_doc_id, max(doc_id) AS last_doc_id
         FROM t GROUP BY 1 HAVING count(*) >= 2 ORDER BY prefix_md5"""),
    QueryDef("q_full_outer", (s, dir) =>
      Joins.fullOuterActivity(Tables.orders(s, dir), Tables.events(s, dir)).orderBy("key"),
      s"""WITH o AS (SELECT o_custkey AS key, CAST(count(*) AS BIGINT) AS n_orders,
                           CAST(sum(${Stages.centsSql("o_totalprice")}) AS BIGINT) AS order_cents
                    FROM orders GROUP BY 1),
         e AS (SELECT user_id AS key, CAST(count(*) AS BIGINT) AS n_events FROM events GROUP BY 1)
         SELECT coalesce(o.key, e.key) AS key,
                coalesce(n_orders, 0) AS n_orders,
                coalesce(order_cents, 0) AS order_cents,
                coalesce(n_events, 0) AS n_events,
                CASE WHEN o.key IS NOT NULL AND e.key IS NOT NULL THEN 'both'
                     WHEN o.key IS NOT NULL THEN 'orders_only'
                     ELSE 'events_only' END AS side
         FROM o FULL JOIN e ON o.key = e.key ORDER BY key"""),
    QueryDef("q_kmv", (s, dir) =>
      TextAnalysis.kmvIntersect(Tables.documents(s, dir)),
      s"""WITH tk AS (SELECT DISTINCT source, unnest(string_split_regex(trim(text), '\\s+')) AS tok
                     FROM documents WHERE source IN ('src0', 'src1')),
         hs AS (SELECT ${Stages.duckMd5BitsSql("tok", "1", 8)} AS h,
                       CAST(sum(CASE WHEN source = 'src0' THEN 1 ELSE 0 END) AS BIGINT) AS ca,
                       CAST(sum(CASE WHEN source = 'src1' THEN 1 ELSE 0 END) AS BIGINT) AS cb
                FROM tk GROUP BY 1),
         th AS (SELECT max(h) AS theta FROM (SELECT h FROM hs ORDER BY h LIMIT 64)),
         m AS (SELECT max(theta) AS theta,
                      CAST(count(*) AS BIGINT) AS n_union_exact,
                      CAST(sum(CASE WHEN ca > 0 AND cb > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_inter_exact,
                      CAST(sum(CASE WHEN h < theta THEN 1 ELSE 0 END) AS BIGINT) AS below_union,
                      CAST(sum(CASE WHEN h < theta AND ca > 0 AND cb > 0 THEN 1 ELSE 0 END) AS BIGINT) AS below_inter
               FROM hs CROSS JOIN th)
         SELECT CAST(64 AS BIGINT) AS k, theta, n_union_exact, n_inter_exact,
                CAST(below_union AS DOUBLE) * 4294967296.0 / CAST(theta AS DOUBLE) AS est_union,
                CAST(below_inter AS DOUBLE) * 4294967296.0 / CAST(theta AS DOUBLE) AS est_inter
         FROM m"""),
    QueryDef("q_brier", (s, dir) =>
      Analytics.brierDecomposition(Tables.events(s, dir)),
      """WITH bins AS (SELECT CAST(hour(CAST(ts AS TIMESTAMP)) AS BIGINT) AS hr,
                              CAST(count(*) AS BIGINT) AS nk,
                              CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS yk
                       FROM events GROUP BY 1),
         tot AS (SELECT CAST(sum(nk) AS BIGINT) AS n, CAST(sum(yk) AS BIGINT) AS y,
                        CAST(count(*) AS BIGINT) AS nb
                 FROM bins),
         m AS (SELECT max(nb) AS n_bins, max(n) AS n, max(y) AS y,
                      CAST(sum(CAST(round(CAST(nk AS DOUBLE)
                        * ((CAST(yk AS DOUBLE) / CAST(nk AS DOUBLE)) - (CAST(y AS DOUBLE) / CAST(n AS DOUBLE)))
                        * ((CAST(yk AS DOUBLE) / CAST(nk AS DOUBLE)) - (CAST(y AS DOUBLE) / CAST(n AS DOUBLE)))
                        * 1000000) AS BIGINT)) AS BIGINT) AS res_micro,
                      CAST(sum(CAST(round((CAST(yk AS DOUBLE)
                        * (1.0 - (CAST(yk AS DOUBLE) / CAST(nk AS DOUBLE)))
                        * (1.0 - (CAST(yk AS DOUBLE) / CAST(nk AS DOUBLE)))
                        + CAST(nk - yk AS DOUBLE)
                        * (CAST(yk AS DOUBLE) / CAST(nk AS DOUBLE))
                        * (CAST(yk AS DOUBLE) / CAST(nk AS DOUBLE))) * 1000000) AS BIGINT)) AS BIGINT) AS brier_micro
               FROM bins CROSS JOIN tot)
         SELECT n_bins, n,
                CAST(y AS DOUBLE) / CAST(n AS DOUBLE) AS ybar,
                CAST(res_micro AS DOUBLE) / 1000000.0 / CAST(n AS DOUBLE) AS res,
                (CAST(y AS DOUBLE) / CAST(n AS DOUBLE))
                  * (1.0 - CAST(y AS DOUBLE) / CAST(n AS DOUBLE)) AS unc,
                CAST(brier_micro AS DOUBLE) / 1000000.0 / CAST(n AS DOUBLE) AS brier
         FROM m"""),
    QueryDef("q_delta_method", (s, dir) =>
      Inference.deltaMethodRatio(Tables.events(s, dir)),
      s"""WITH daily AS (SELECT CAST(ts AS DATE) AS d,
                               CAST(sum(${Stages.centsSql("value")}) AS BIGINT) AS x,
                               CAST(count(*) AS BIGINT) AS y
                        FROM events GROUP BY 1),
         m AS (SELECT CAST(count(*) AS BIGINT) AS n, CAST(sum(x) AS BIGINT) AS sx,
                      CAST(sum(y) AS BIGINT) AS sy, CAST(sum(x * x) AS BIGINT) AS sxx,
                      CAST(sum(x * y) AS BIGINT) AS sxy, CAST(sum(y * y) AS BIGINT) AS syy
               FROM daily)
         SELECT n AS n_days,
                CAST(sx AS DOUBLE) / nullif(CAST(sy AS DOUBLE), 0.0E0) AS ratio_cents,
                ${Inference.deltaSe2Sql} AS se2_ratio
         FROM m"""),
    QueryDef("q_tost", (s, dir) =>
      Inference.tost(Tables.events(s, dir)),
      s"""WITH base AS (SELECT event_type, ${Stages.centsSql("value")} AS cents FROM events),
         m AS (SELECT
                 CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS n1,
                 CAST(sum(CASE WHEN event_type = 'purchase' THEN cents ELSE 0 END) AS BIGINT) AS s1,
                 CAST(sum(CASE WHEN event_type = 'purchase' THEN cents * cents ELSE 0 END) AS BIGINT) AS q1,
                 CAST(sum(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS BIGINT) AS n2,
                 CAST(sum(CASE WHEN event_type = 'view' THEN cents ELSE 0 END) AS BIGINT) AS s2,
                 CAST(sum(CASE WHEN event_type = 'view' THEN cents * cents ELSE 0 END) AS BIGINT) AS q2
               FROM base)
         SELECT n1, n2,
                (CAST(s1 AS DOUBLE) / nullif(CAST(n1 AS DOUBLE), 0.0E0) - CAST(s2 AS DOUBLE) / nullif(CAST(n2 AS DOUBLE), 0.0E0)) / 100.0 AS diff_dollars,
                ${Inference.tostTSql(500L, lower = true)} AS t_lower,
                ${Inference.tostTSql(500L, lower = false)} AS t_upper
         FROM m"""),
    QueryDef("q_did", (s, dir) =>
      Inference.diffInDiff(Tables.events(s, dir)),
      s"""WITH span AS (SELECT min(${Stages.duckEpochBucketSql("ts", 1)}) AS t0,
                               max(${Stages.duckEpochBucketSql("ts", 1)}) AS t1
                        FROM events),
         b AS (SELECT $duckUserArmSql AS arm,
                      ${Stages.duckEpochBucketSql("ts", 1)} * 2 >= t0 + t1 AS late,
                      ${Stages.centsSql("value")} AS cents
               FROM events CROSS JOIN span),
         m AS (SELECT
                 CAST(sum(CASE WHEN arm = 0 AND NOT late THEN 1 ELSE 0 END) AS BIGINT) AS n00,
                 CAST(sum(CASE WHEN arm = 0 AND NOT late THEN cents ELSE 0 END) AS BIGINT) AS s00,
                 CAST(sum(CASE WHEN arm = 0 AND NOT late THEN cents * cents ELSE 0 END) AS BIGINT) AS q00,
                 CAST(sum(CASE WHEN arm = 0 AND late THEN 1 ELSE 0 END) AS BIGINT) AS n01,
                 CAST(sum(CASE WHEN arm = 0 AND late THEN cents ELSE 0 END) AS BIGINT) AS s01,
                 CAST(sum(CASE WHEN arm = 0 AND late THEN cents * cents ELSE 0 END) AS BIGINT) AS q01,
                 CAST(sum(CASE WHEN arm = 1 AND NOT late THEN 1 ELSE 0 END) AS BIGINT) AS n10,
                 CAST(sum(CASE WHEN arm = 1 AND NOT late THEN cents ELSE 0 END) AS BIGINT) AS s10,
                 CAST(sum(CASE WHEN arm = 1 AND NOT late THEN cents * cents ELSE 0 END) AS BIGINT) AS q10,
                 CAST(sum(CASE WHEN arm = 1 AND late THEN 1 ELSE 0 END) AS BIGINT) AS n11,
                 CAST(sum(CASE WHEN arm = 1 AND late THEN cents ELSE 0 END) AS BIGINT) AS s11,
                 CAST(sum(CASE WHEN arm = 1 AND late THEN cents * cents ELSE 0 END) AS BIGINT) AS q11
               FROM b)
         SELECT n00, n01, n10, n11,
                ${Inference.didSql} AS did_cents,
                ${Inference.didSe2Sql} AS se2_did
         FROM m"""),
    QueryDef("q_wald_iv", (s, dir) =>
      Inference.waldIV(Tables.events(s, dir)),
      s"""WITH b AS (SELECT ((CAST(ts AS DATE) - DATE '1970-01-05') % 7) >= 5 AS wk,
                            CASE WHEN ${Stages.centsSql("value")} > 10000 THEN 1 ELSE 0 END AS x,
                            coalesce(CAST(nullif(CASE WHEN json_valid(props)
                                                      THEN json_extract_string(props, '$$.k') END, '') AS BIGINT), 0) AS y
                     FROM events),
         m AS (SELECT CAST(sum(CASE WHEN wk THEN 1 ELSE 0 END) AS BIGINT) AS nz1,
                      CAST(sum(CASE WHEN wk THEN x ELSE 0 END) AS BIGINT) AS sx1,
                      CAST(sum(CASE WHEN wk THEN y ELSE 0 END) AS BIGINT) AS sy1,
                      CAST(sum(CASE WHEN NOT wk THEN 1 ELSE 0 END) AS BIGINT) AS nz0,
                      CAST(sum(CASE WHEN NOT wk THEN x ELSE 0 END) AS BIGINT) AS sx0,
                      CAST(sum(CASE WHEN NOT wk THEN y ELSE 0 END) AS BIGINT) AS sy0
               FROM b)
         SELECT nz1, nz0,
                CAST(sx1 AS DOUBLE) / nullif(CAST(nz1 AS DOUBLE), 0.0E0) - CAST(sx0 AS DOUBLE) / nullif(CAST(nz0 AS DOUBLE), 0.0E0) AS first_stage,
                CAST(sy1 AS DOUBLE) / nullif(CAST(nz1 AS DOUBLE), 0.0E0) - CAST(sy0 AS DOUBLE) / nullif(CAST(nz0 AS DOUBLE), 0.0E0) AS reduced_form,
                ${Inference.waldSql} AS wald
         FROM m"""),
    QueryDef("q_top2_agg", (s, dir) =>
      Relational.topTwoAgg(Tables.lineitem(s, dir)).orderBy("l_returnflag"),
      s"""WITH b AS (SELECT l_returnflag, ${Stages.centsSql("l_extendedprice")} AS c
                    FROM lineitem),
         m1 AS (SELECT l_returnflag, CAST(count(*) AS BIGINT) AS n_rows, max(c) AS m1
                FROM b GROUP BY 1)
         SELECT b.l_returnflag, CAST(max(n_rows) AS BIGINT) AS n_rows,
                CAST(max(m1) AS DOUBLE) / 100.0 AS max_price,
                CAST(max(CASE WHEN c < m1 THEN c END) AS DOUBLE) / 100.0 AS second_price
         FROM b JOIN m1 USING (l_returnflag) GROUP BY 1 ORDER BY 1"""),
    QueryDef("q_argminmax", (s, dir) =>
      Relational.argMinMax(Tables.events(s, dir)).orderBy("event_type"),
      s"""WITH b AS (SELECT event_type, event_id,
                           ${Stages.centsSql("value")} AS c,
                           ${Stages.centsSql("value")} * 100000000 + event_id AS key
                    FROM events)
         SELECT event_type, CAST(count(*) AS BIGINT) AS n,
                arg_max(event_id, key) AS max_event_id,
                arg_min(event_id, key) AS min_event_id,
                CAST(max(c) AS BIGINT) AS max_cents,
                CAST(min(c) AS BIGINT) AS min_cents
         FROM b GROUP BY 1 ORDER BY 1"""),
    QueryDef("q_bool_aggs", (s, dir) =>
      Relational.boolAggs(Tables.events(s, dir)).orderBy("event_type"),
      """SELECT event_type, CAST(count(*) AS BIGINT) AS n,
                bool_and(value > 0) AS all_positive,
                bool_or(value > 100) AS any_large,
                CAST(sum(CASE WHEN value > 100 THEN 1 ELSE 0 END) AS BIGINT) AS n_large
         FROM events GROUP BY 1 ORDER BY 1"""),
    QueryDef("q_neyman", (s, dir) =>
      Inference.neymanAllocation(Tables.events(s, dir)).orderBy("event_type"),
      {
      val sd = s"sqrt(${Stages.sampleCmomSql("q", "s", "s")})"
      s"""WITH b AS (SELECT event_type, ${Stages.centsSql("value")} AS cents FROM events),
         g AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n, CAST(sum(cents) AS BIGINT) AS s,
                      CAST(sum(cents * cents) AS BIGINT) AS q
               FROM b GROUP BY 1),
         g2 AS (SELECT *, CAST(round(CAST(n AS DOUBLE) * $sd) AS BIGINT) AS term FROM g),
         t AS (SELECT CAST(sum(term) AS BIGINT) AS term_total FROM g2)
         SELECT event_type, n, $sd / 100.0 AS sd_dollars,
                CAST(term AS DOUBLE) / nullif(CAST(term_total AS DOUBLE), 0.0E0) AS share,
                CAST(round(1000.0 * CAST(term AS DOUBLE) / nullif(CAST(term_total AS DOUBLE), 0.0E0)) AS BIGINT) AS n_alloc
         FROM g2, t ORDER BY event_type"""
    }),
    QueryDef("q_fdr", (s, dir) =>
      Inference.fdrScreen(Tables.lineitem(s, dir)).orderBy("rank"),
      {
      val mu = "(CAST(sx AS DOUBLE) / CAST(sn AS DOUBLE))"
      val z =
        s"""((CAST(x AS DOUBLE) / CAST(n AS DOUBLE) - $mu)
           / nullif(sqrt($mu * (1.0 - $mu) / CAST(n AS DOUBLE)), 0.0E0))"""
      s"""WITH pp AS (SELECT l_partkey, CAST(count(*) AS BIGINT) AS n,
                             CAST(sum(CASE WHEN l_quantity >= 45.0 THEN 1 ELSE 0 END) AS BIGINT) AS x
                      FROM lineitem GROUP BY 1),
         t AS (SELECT CAST(sum(n) AS BIGINT) AS sn, CAST(sum(x) AS BIGINT) AS sx,
                      CAST(count(*) AS BIGINT) AS m
               FROM pp),
         r AS (SELECT l_partkey, n, x, m, $z AS z FROM pp, t),
         r2 AS (SELECT *, CASE WHEN z * z > 0.0 THEN least(1.0, 1.0 / (z * z))
                               WHEN z = 0.0 THEN 1.0 END AS p_cheb FROM r),
         r3 AS (SELECT *, CAST(row_number() OVER (ORDER BY p_cheb, l_partkey) AS BIGINT) AS rank
                FROM r2),
         r4 AS (SELECT *, p_cheb <= 0.1 * CAST(rank AS DOUBLE) / CAST(m AS DOUBLE) AS bh_ok FROM r3),
         km AS (SELECT CAST(coalesce(max(CASE WHEN bh_ok THEN rank END), 0) AS BIGINT) AS k_max
                FROM r4)
         SELECT l_partkey, n, x, z, p_cheb, rank, rank <= k_max AS discovered
         FROM r4, km ORDER BY rank"""
    }),
    QueryDef("q_dow_strength", (s, dir) =>
      Inference.dowSeasonalityStrength(Tables.events(s, dir)),
      s"""WITH daily AS (SELECT CAST(ts AS DATE) AS d,
                               CAST(sum(${Stages.centsSql("value")}) AS BIGINT) AS rev
                        FROM events GROUP BY 1),
         dw AS (SELECT ((((d - DATE '1970-01-05') % 7) + 7) % 7) AS dow, rev FROM daily),
         g AS (SELECT dow, CAST(count(*) AS BIGINT) AS n, CAST(sum(rev) AS BIGINT) AS s,
                      CAST(sum(rev * rev) AS BIGINT) AS q
               FROM dw GROUP BY 1),
         t AS (SELECT CAST(count(*) AS BIGINT) AS k, CAST(sum(n) AS BIGINT) AS nn,
                      CAST(sum(s) AS BIGINT) AS ss,
                      CAST(sum(${Inference.rayleighQSql("n", "s")}) AS BIGINT) AS rbq,
                      CAST(sum(q) AS BIGINT) AS qq
               FROM g)
         SELECT k, nn AS n_days, ${Inference.fStatSql} AS f_stat, ${Inference.etaSqSql} AS eta2
         FROM t"""),
    QueryDef("q_capture_recapture", (s, dir) =>
      Inference.captureRecapture(Tables.events(s, dir)),
      s"""WITH span AS (SELECT min(${Stages.duckEpochBucketSql("ts", 1)}) AS t0,
                               max(${Stages.duckEpochBucketSql("ts", 1)}) AS t1
                        FROM events),
         pu AS (SELECT user_id,
                       CAST(max(CASE WHEN ${Stages.duckEpochBucketSql("ts", 1)} * 2 < t0 + t1
                                     THEN 1 ELSE 0 END) AS BIGINT) AS in_a,
                       CAST(max(CASE WHEN ${Stages.duckEpochBucketSql("ts", 1)} * 2 >= t0 + t1
                                     THEN 1 ELSE 0 END) AS BIGINT) AS in_b
                FROM events CROSS JOIN span GROUP BY 1),
         agg AS (SELECT CAST(sum(in_a) AS BIGINT) AS na, CAST(sum(in_b) AS BIGINT) AS nb,
                        CAST(sum(in_a * in_b) AS BIGINT) AS m
                 FROM pu)
         SELECT na, nb, m, ${Inference.chapmanSql} AS n_hat, ${Inference.chapmanVarSql} AS var_n_hat
         FROM agg"""),
    QueryDef("q_lift", (s, dir) =>
      Analytics.liftDeciles(Tables.events(s, dir)).orderBy("decile"),
      s"""WITH r AS (SELECT CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS y,
                           row_number() OVER (ORDER BY ${Stages.centsSql("value")} DESC,
                                              event_id ASC) AS rn
                    FROM events),
         n AS (SELECT CAST(count(*) AS BIGINT) AS n FROM events),
         d AS (SELECT CAST(CAST(rn - 1 AS BIGINT) * 10 // n AS BIGINT) + 1 AS decile,
                      CAST(count(*) AS BIGINT) AS n_rows, CAST(sum(y) AS BIGINT) AS n_pos
               FROM r, n GROUP BY 1),
         t AS (SELECT CAST(sum(n_rows) AS BIGINT) AS nn, CAST(sum(n_pos) AS BIGINT) AS pp FROM d),
         c AS (SELECT *, CAST(sum(n_pos) OVER (ORDER BY decile
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_pos
               FROM d)
         SELECT decile, n_rows, n_pos,
                CAST(n_pos AS DOUBLE) / CAST(n_rows AS DOUBLE) AS rate,
                (CAST(n_pos AS DOUBLE) / CAST(n_rows AS DOUBLE))
                  / nullif(CAST(pp AS DOUBLE) / CAST(nn AS DOUBLE), 0.0E0) AS lift,
                CAST(cum_pos AS DOUBLE) / nullif(CAST(pp AS DOUBLE), 0.0E0) AS cum_gain
         FROM c, t ORDER BY decile"""),
    QueryDef("q_burstiness", (s, dir) =>
      Analytics.burstiness(Tables.events(s, dir)).orderBy("event_type"),
      {
      val sd = Analytics.burstSdSql
      s"""WITH b AS (SELECT event_type, ${Stages.duckEpochBucketSql("ts", 1)} AS t, event_id
                     FROM events),
         g AS (SELECT event_type,
                      t - lag(t) OVER (PARTITION BY event_type ORDER BY t, event_id) AS gap
               FROM b),
         m AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n_gaps,
                      CAST(sum(gap) AS BIGINT) AS s, CAST(sum(gap * gap) AS BIGINT) AS q
               FROM g WHERE gap IS NOT NULL GROUP BY 1)
         SELECT event_type, n_gaps,
                CAST(s AS DOUBLE) / CAST(n_gaps AS DOUBLE) AS mean_gap_s,
                $sd AS sd_gap_s,
                ($sd - CAST(s AS DOUBLE) / CAST(n_gaps AS DOUBLE))
                  / nullif($sd + CAST(s AS DOUBLE) / CAST(n_gaps AS DOUBLE), 0.0E0) AS burstiness
         FROM m ORDER BY event_type"""
    }),
    QueryDef("q_bayes_ab", (s, dir) =>
      Inference.bayesAB(Tables.events(s, dir)),
      s"""WITH pu AS (SELECT user_id,
                            CAST(max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS converted
                     FROM events GROUP BY 1),
         a AS (SELECT converted,
                      $duckUserArmSql AS arm
               FROM pu),
         m AS (SELECT CAST(sum(CASE WHEN arm = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n1,
                      CAST(sum(CASE WHEN arm = 0 THEN converted ELSE 0 END) AS BIGINT) AS c1,
                      CAST(sum(CASE WHEN arm = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n2,
                      CAST(sum(CASE WHEN arm = 1 THEN converted ELSE 0 END) AS BIGINT) AS c2
               FROM a)
         SELECT n1, c1, n2, c2,
                ${Inference.betaMeanSql("c1", "n1")} AS mu1,
                ${Inference.betaMeanSql("c2", "n2")} AS mu2,
                ${Inference.bayesZSql} AS z
         FROM m"""),
    QueryDef("q_trimmed_mean", (s, dir) =>
      Inference.trimmedMean(Tables.lineitem(s, dir)).orderBy("l_returnflag"),
      s"""WITH g AS (SELECT l_returnflag, ${Stages.centsSql("l_extendedprice")} AS x,
                           CAST(count(*) AS BIGINT) AS t
                    FROM lineitem GROUP BY 1, 2),
         w AS (SELECT *, CAST(sum(t) OVER (PARTITION BY l_returnflag ORDER BY x
                         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum
               FROM g),
         n AS (SELECT l_returnflag, CAST(sum(t) AS BIGINT) AS n FROM g GROUP BY 1),
         e AS (SELECT w.l_returnflag, w.x, w.t, w.cum, n.n, n.n * 10 // 100 AS lo
               FROM w JOIN n USING (l_returnflag)),
         c AS (SELECT *, greatest(least(cum, n - lo) - greatest(cum - t, lo), 0) AS c_eff FROM e)
         SELECT l_returnflag, CAST(max(n) AS BIGINT) AS n, CAST(sum(c_eff) AS BIGINT) AS n_kept,
                (CAST(sum(c_eff * x) AS DOUBLE) / CAST(sum(c_eff) AS DOUBLE)) / 100.0 AS trimmed_mean
         FROM c GROUP BY 1 ORDER BY 1"""),
    QueryDef("q_avg_precision", (s, dir) =>
      Inference.averagePrecision(Tables.events(s, dir)),
      s"""WITH r AS (SELECT CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS y,
                           CAST(row_number() OVER (ORDER BY ${Stages.centsSql("value")} DESC,
                                                   event_id ASC) AS BIGINT) AS rn
                    FROM events),
         c AS (SELECT y, rn, CAST(sum(y) OVER (ORDER BY rn
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_pos
               FROM r)
         SELECT CAST(count(*) AS BIGINT) AS n_pos,
                CAST(sum(CAST(round(CAST(cum_pos AS DOUBLE) / CAST(rn AS DOUBLE) * 1000000) AS BIGINT)) AS DOUBLE)
                  / 1000000.0 / CAST(count(*) AS DOUBLE) AS avg_precision
         FROM c WHERE y = 1"""),
    QueryDef("q_cpk", (s, dir) =>
      Inference.processCapability(Tables.lineitem(s, dir)).orderBy("l_returnflag"),
      {
      val sd = s"sqrt(${Stages.sampleCmomSql("q", "s", "s")})"
      val mu = s"(${Stages.meanSql("s", Stages.divisorSql(nonZero = false))})"
      s"""WITH b AS (SELECT l_returnflag, ${Stages.centsSql("l_extendedprice")} AS cents
                     FROM lineitem),
         g AS (SELECT l_returnflag, CAST(count(*) AS BIGINT) AS n, CAST(sum(cents) AS BIGINT) AS s,
                      CAST(sum(cents * cents) AS BIGINT) AS q
               FROM b GROUP BY 1)
         SELECT l_returnflag, n,
                $mu / 100.0 AS mean_dollars,
                $sd / 100.0 AS sd_dollars,
                ((100000.0 - 10000.0) / nullif(6.0 * $sd, 0.0E0)) AS cp,
                (least(100000.0 - $mu, $mu - 10000.0) / nullif(3.0 * $sd, 0.0E0)) AS cpk
         FROM g ORDER BY l_returnflag"""
    }),
    QueryDef("q_abc", (s, dir) =>
      Inference.abcClassification(Tables.lineitem(s, dir)).orderBy("rank"),
      s"""WITH rev AS (SELECT l_partkey,
                             CAST(sum(${Stages.centsSql("l_extendedprice")}) AS BIGINT) AS rev
                      FROM lineitem GROUP BY 1),
         t AS (SELECT CAST(sum(rev) AS BIGINT) AS tot FROM rev),
         r AS (SELECT l_partkey, rev,
                      CAST(row_number() OVER (ORDER BY rev DESC, l_partkey) AS BIGINT) AS rank,
                      CAST(sum(rev) OVER (ORDER BY rev DESC, l_partkey
                             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum
               FROM rev)
         SELECT l_partkey, rank, CAST(rev AS DOUBLE) / 100.0 AS revenue_dollars,
                CAST(cum AS DOUBLE) / CAST(tot AS DOUBLE) AS cum_share,
                CASE WHEN 5 * cum <= 4 * tot THEN 'A'
                     WHEN 20 * cum <= 19 * tot THEN 'B'
                     ELSE 'C' END AS abc_class
         FROM r, t ORDER BY rank"""),
    QueryDef("q_rbo", (s, dir) =>
      Inference.rankBiasedOverlap(Tables.lineitem(s, dir)),
      s"""WITH ga AS (SELECT l_partkey,
                             CAST(sum(${Stages.centsSql("l_extendedprice")}) AS BIGINT) AS v
                      FROM lineitem GROUP BY 1),
         ta AS (SELECT l_partkey, CAST(row_number() OVER (ORDER BY v DESC, l_partkey) AS BIGINT) AS ra
                FROM ga ORDER BY v DESC, l_partkey LIMIT 10),
         gb AS (SELECT l_partkey, CAST(sum(${Stages.lineitemQtySql}) AS BIGINT) AS v
                FROM lineitem GROUP BY 1),
         tb AS (SELECT l_partkey, CAST(row_number() OVER (ORDER BY v DESC, l_partkey) AS BIGINT) AS rb
                FROM gb ORDER BY v DESC, l_partkey LIMIT 10),
         m AS (SELECT ra, rb FROM ta JOIN tb USING (l_partkey))
         SELECT CAST(10 AS BIGINT) AS k, 0.9 AS p, CAST(count(*) AS BIGINT) AS n_matched,
                coalesce(sum(${Inference.rboSuffixCaseSql(10, 0.9)}), 0.0) AS rbo
         FROM m"""),
    // ---- TPC-H remainder (TpcH.scala; Q1/3/5/7/8/14/19 live elsewhere) ----
    QueryDef("q_tpch_q4", (s, dir) =>
      TpcH.orderPriorityCheck(
        Tables.orders(s, dir), Tables.lineitem(s, dir), "1996-01-01", "1996-04-01")
        .orderBy("o_orderpriority"),
      s"""SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS order_count
         FROM orders
         WHERE o_orderdate >= TIMESTAMP '1996-01-01' AND o_orderdate < TIMESTAMP '1996-04-01'
           AND EXISTS (SELECT 1 FROM lineitem
                       WHERE l_orderkey = o_orderkey
                         AND ${Stages.duckEpochBucketSql("l_shipdate", 86400)} > ${Stages.duckEpochBucketSql("o_orderdate", 86400)} + 30)
         GROUP BY 1 ORDER BY o_orderpriority"""),
    QueryDef("q_tpch_q6", (s, dir) =>
      TpcH.forecastRevenueChange(Tables.lineitem(s, dir), "1996-01-01", "1997-01-01"),
      s"""SELECT CAST(count(*) AS BIGINT) AS n_lines,
                sum(${Stages.centsSql("l_extendedprice")} *
                    ${Stages.centsSql("l_discount")}) / CAST(10000 AS DOUBLE) AS revenue
         FROM lineitem
         WHERE l_shipdate >= TIMESTAMP '1996-01-01' AND l_shipdate < TIMESTAMP '1997-01-01'
           AND ${Stages.centsSql("l_discount")} BETWEEN 5 AND 7
           AND ${Stages.lineitemQtySql} < 24"""),
    QueryDef("q_tpch_q9", (s, dir) =>
      TpcH.productTypeProfit(
        Tables.lineitem(s, dir), Tables.orders(s, dir), Tables.part(s, dir),
        Tables.supplier(s, dir), Tables.nation(s, dir), "red")
        .orderBy("nation", "o_year"),
      s"""SELECT n_name AS nation, year(o_orderdate) AS o_year,
                CAST(count(*) AS BIGINT) AS n_lines,
                sum(${Stages.lineitemRevUnitsSql}
                    - ${Stages.centsSql("p_retailprice")} * 60 *
                      ${Stages.lineitemQtySql}) / CAST(10000 AS DOUBLE) AS profit
         FROM lineitem
         JOIN part ON l_partkey = p_partkey AND p_name LIKE '%red%'
         JOIN supplier ON l_suppkey = s_suppkey
         JOIN nation ON s_nationkey = n_nationkey
         JOIN orders ON l_orderkey = o_orderkey
         GROUP BY 1, 2 ORDER BY nation, o_year"""),
    QueryDef("q_tpch_q10", (s, dir) =>
      TpcH.returnedItemReport(
        Tables.customer(s, dir), Tables.orders(s, dir), Tables.lineitem(s, dir),
        Tables.nation(s, dir), "1996-01-01", "1996-04-01")
        .orderBy("rank"),
      s"""WITH per AS (
           SELECT o_custkey,
                  CAST(sum(${Stages.lineitemRevUnitsSql}) AS BIGINT) AS rev_units
           FROM lineitem JOIN orders ON l_orderkey = o_orderkey
           WHERE l_returnflag = 'R'
             AND o_orderdate >= TIMESTAMP '1996-01-01' AND o_orderdate < TIMESTAMP '1996-04-01'
           GROUP BY 1),
         r AS (SELECT o_custkey, rev_units, c_name, c_acctbal, n_name,
                      row_number() OVER (ORDER BY rev_units DESC, o_custkey ASC) AS rk
               FROM per JOIN customer ON o_custkey = c_custkey
                        JOIN nation ON c_nationkey = n_nationkey)
         SELECT CAST(rk AS BIGINT) AS rank, o_custkey AS c_custkey, c_name, n_name, c_acctbal,
                CAST(rev_units AS DOUBLE) / 10000.0 AS revenue
         FROM r WHERE rk <= 20 ORDER BY rank"""),
    QueryDef("q_tpch_q12", (s, dir) =>
      TpcH.shippingPriorityAudit(
        Tables.orders(s, dir), Tables.lineitem(s, dir), "1996-01-01", "1997-01-01")
        .orderBy("o_orderstatus"),
      s"""SELECT o_orderstatus,
                CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT','2-HIGH') THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
                CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT','2-HIGH') THEN 0 ELSE 1 END) AS BIGINT) AS low_line_count
         FROM lineitem JOIN orders ON l_orderkey = o_orderkey
         WHERE l_shipdate >= TIMESTAMP '1996-01-01' AND l_shipdate < TIMESTAMP '1997-01-01'
           AND ${Stages.duckEpochBucketSql("l_shipdate", 86400)} > ${Stages.duckEpochBucketSql("o_orderdate", 86400)} + 60
         GROUP BY 1 ORDER BY o_orderstatus"""),
    QueryDef("q_tpch_q13", (s, dir) =>
      TpcH.customerDistribution(Tables.customer(s, dir), Tables.orders(s, dir))
        .orderBy("c_count"),
      """WITH per AS (
           SELECT c_custkey, CAST(count(o_orderkey) AS BIGINT) AS c_count
           FROM customer LEFT JOIN orders
             ON c_custkey = o_custkey AND o_orderpriority <> '1-URGENT'
           GROUP BY 1)
         SELECT c_count, CAST(count(*) AS BIGINT) AS custdist
         FROM per GROUP BY 1 ORDER BY c_count"""),
    QueryDef("q_tpch_q15", (s, dir) =>
      TpcH.topSupplier(
        Tables.supplier(s, dir), Tables.lineitem(s, dir), "1996-01-01", "1996-04-01")
        .orderBy("s_suppkey"),
      s"""WITH rev AS (
           SELECT l_suppkey,
                  CAST(sum(${Stages.lineitemRevUnitsSql}) AS BIGINT) AS rev_units
           FROM lineitem
           WHERE l_shipdate >= TIMESTAMP '1996-01-01' AND l_shipdate < TIMESTAMP '1996-04-01'
           GROUP BY 1)
         SELECT l_suppkey AS s_suppkey, s_name,
                CAST(rev_units AS DOUBLE) / 10000.0 AS total_revenue
         FROM rev JOIN supplier ON l_suppkey = s_suppkey
         WHERE rev_units = (SELECT max(rev_units) FROM rev)
         ORDER BY s_suppkey"""),
    QueryDef("q_tpch_q16", (s, dir) =>
      TpcH.partSupplierRelationship(Tables.part(s, dir), Tables.lineitem(s, dir))
        .orderBy("p_brand", "p_type", "p_size"),
      """SELECT p_brand, p_type, p_size,
                CAST(count(DISTINCT l_suppkey) AS BIGINT) AS supplier_cnt
         FROM lineitem JOIN part ON l_partkey = p_partkey
         WHERE p_brand <> 'Brand#45' AND p_size IN (1, 9, 14, 19, 23, 36, 45, 49)
         GROUP BY 1, 2, 3 ORDER BY p_brand, p_type, p_size"""),
    QueryDef("q_tpch_q17", (s, dir) =>
      TpcH.smallQuantityRevenue(Tables.lineitem(s, dir), Tables.part(s, dir)),
      s"""WITH branded AS (
           SELECT l_partkey, ${Stages.lineitemQtySql} AS q,
                  ${Stages.centsSql("l_extendedprice")} AS cents
           FROM lineitem JOIN part ON l_partkey = p_partkey
           WHERE p_brand = 'Brand#23'),
         per AS (SELECT l_partkey AS ap_partkey, CAST(count(*) AS BIGINT) AS n,
                        CAST(sum(q) AS BIGINT) AS sq
                 FROM branded GROUP BY 1)
         SELECT CAST(count(*) AS BIGINT) AS n_small_lines,
                sum(cents) / 700.0 AS avg_yearly
         FROM branded JOIN per ON l_partkey = ap_partkey
         WHERE 5 * q * n < sq"""),
    QueryDef("q_tpch_q18", (s, dir) =>
      TpcH.largeVolumeCustomers(
        Tables.customer(s, dir), Tables.orders(s, dir), Tables.lineitem(s, dir))
        .orderBy("rank"),
      s"""WITH big AS (
           SELECT l_orderkey, CAST(sum(${Stages.lineitemQtySql}) AS BIGINT) AS total_qty
           FROM lineitem GROUP BY 1 HAVING sum(${Stages.lineitemQtySql}) > 250),
         r AS (SELECT c_custkey, c_name, o_orderkey, o_orderdate, o_totalprice, total_qty,
                      row_number() OVER (ORDER BY total_qty DESC, o_orderkey ASC) AS rk
               FROM big JOIN orders ON l_orderkey = o_orderkey
                        JOIN customer ON o_custkey = c_custkey)
         SELECT CAST(rk AS BIGINT) AS rank, c_custkey, c_name, o_orderkey,
                strftime(o_orderdate, '%Y-%m-%d') AS order_date,
                ${Stages.centsSql("o_totalprice")} AS total_price_cents,
                total_qty
         FROM r WHERE rk <= 10 ORDER BY rank"""),
    QueryDef("q_tpch_q21", (s, dir) =>
      TpcH.suppliersKeptWaiting(
        Tables.supplier(s, dir), Tables.orders(s, dir), Tables.lineitem(s, dir),
        Tables.nation(s, dir))
        .orderBy("rank"),
      s"""WITH l AS (
           SELECT DISTINCT l_orderkey AS ok, l_suppkey AS sk,
                  ${Stages.duckEpochBucketSql("l_shipdate", 86400)} > ${Stages.duckEpochBucketSql("o_orderdate", 86400)} + 90 AS late
           FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
         w AS (SELECT a.sk, CAST(count(DISTINCT a.ok) AS BIGINT) AS numwait
               FROM l a
               WHERE a.late
                 AND EXISTS (SELECT 1 FROM l b WHERE b.ok = a.ok AND b.sk <> a.sk)
                 AND NOT EXISTS (SELECT 1 FROM l c WHERE c.ok = a.ok AND c.sk <> a.sk AND c.late)
               GROUP BY 1),
         r AS (SELECT sk, numwait, row_number() OVER (ORDER BY numwait DESC, sk ASC) AS rk FROM w)
         SELECT CAST(rk AS BIGINT) AS rank, sk AS s_suppkey, s_name, n_name, numwait
         FROM r JOIN supplier ON sk = s_suppkey JOIN nation ON s_nationkey = n_nationkey
         WHERE rk <= 10 ORDER BY rank"""),
    QueryDef("q_tpch_q22", (s, dir) =>
      TpcH.globalSalesOpportunity(
        Tables.customer(s, dir), Tables.orders(s, dir), Tables.nation(s, dir))
        .orderBy("nation"),
      s"""WITH a AS (
           SELECT CAST(sum(${Stages.centsSql("c_acctbal")}) AS BIGINT) AS s_cents,
                  CAST(count(*) AS BIGINT) AS n_pos
           FROM customer WHERE c_acctbal > 0)
         SELECT n_name AS nation, CAST(count(*) AS BIGINT) AS numcust,
                CAST(sum(${Stages.centsSql("c_acctbal")}) AS BIGINT) AS totacctbal_cents
         FROM customer
         JOIN nation ON c_nationkey = n_nationkey
         CROSS JOIN a
         WHERE ${Stages.centsSql("c_acctbal")} * n_pos > s_cents
           AND NOT EXISTS (SELECT 1 FROM orders
                           WHERE o_custkey = c_custkey
                             AND o_orderdate >= TIMESTAMP '1999-01-01')
         GROUP BY 1 ORDER BY nation"""),
    QueryDef("q_tpch_q2", (s, dir) =>
      TpcH.minCostSupplier(
        Tables.part(s, dir), Tables.supplier(s, dir), Tables.nation(s, dir),
        Tables.region(s, dir), Tables.lineitem(s, dir))
        .orderBy("rank"),
      s"""WITH ps AS (SELECT l_suppkey AS ps_suppkey, l_partkey AS ps_partkey,
                CAST(min(${Stages.centsSql("l_extendedprice")}
                    // greatest(${Stages.lineitemQtySql}, 1)) AS BIGINT) AS ps_cost_cents
              FROM lineitem GROUP BY 1, 2),
         sr AS (SELECT s_suppkey, s_name, s_acctbal, n_name
                FROM supplier JOIN nation ON s_nationkey = n_nationkey
                              JOIN region ON n_regionkey = r_regionkey AND r_name = 'EUROPE'),
         offers AS (SELECT p_partkey, ps_suppkey, ps_cost_cents, s_name, s_acctbal, n_name
                    FROM ps JOIN part ON ps_partkey = p_partkey AND p_type = 'ECONOMY'
                            JOIN sr ON ps_suppkey = s_suppkey),
         mc AS (SELECT p_partkey AS mc_partkey, min(ps_cost_cents) AS min_cost
                FROM offers GROUP BY 1),
         w AS (SELECT o.*, row_number() OVER (
                   ORDER BY s_acctbal DESC, p_partkey ASC, ps_suppkey ASC) AS rk
               FROM offers o JOIN mc
                 ON p_partkey = mc_partkey AND ps_cost_cents = min_cost)
         SELECT CAST(rk AS BIGINT) AS rank, s_acctbal, s_name, n_name,
                p_partkey, ps_suppkey AS s_suppkey, ps_cost_cents
         FROM w WHERE rk <= 20 ORDER BY rank"""),
    QueryDef("q_tpch_q11", (s, dir) =>
      TpcH.importantStock(
        Tables.lineitem(s, dir), Tables.supplier(s, dir), Tables.nation(s, dir))
        .orderBy("ps_partkey"),
      s"""WITH ps AS (SELECT l_suppkey AS sk, l_partkey AS pk,
                CAST(min(${Stages.centsSql("l_extendedprice")}
                    // greatest(${Stages.lineitemQtySql}, 1)) AS BIGINT) AS c,
                CAST(sum(${Stages.lineitemQtySql}) AS BIGINT) AS q
              FROM lineitem GROUP BY 1, 2),
         v AS (SELECT pk AS ps_partkey, CAST(sum(c * q) AS BIGINT) AS value_units
               FROM ps JOIN supplier ON sk = s_suppkey
                       JOIN nation ON s_nationkey = n_nationkey AND n_name = 'NATION_3'
               GROUP BY 1),
         t AS (SELECT CAST(sum(value_units) AS BIGINT) AS total_units,
                      CAST(count(*) AS BIGINT) AS n_parts FROM v)
         SELECT ps_partkey, value_units,
                CAST(value_units AS DOUBLE) / CAST(total_units AS DOUBLE) AS value_share
         FROM v CROSS JOIN t
         WHERE value_units * n_parts > total_units * 2
         ORDER BY ps_partkey"""),
    QueryDef("q_tpch_q20", (s, dir) =>
      TpcH.promoSupplyConcentration(
        Tables.lineitem(s, dir), Tables.part(s, dir), Tables.supplier(s, dir),
        Tables.nation(s, dir))
        .orderBy("s_suppkey"),
      s"""WITH ps AS (SELECT l_suppkey AS sk, l_partkey AS pk,
                CAST(sum(${Stages.lineitemQtySql}) AS BIGINT) AS q
              FROM lineitem GROUP BY 1, 2),
         y AS (SELECT l_suppkey AS sk, l_partkey AS pk,
                CAST(sum(${Stages.lineitemQtySql}) AS BIGINT) AS yq
               FROM lineitem
               WHERE l_shipdate >= TIMESTAMP '1996-01-01' AND l_shipdate < TIMESTAMP '1997-01-01'
               GROUP BY 1, 2),
         conc AS (SELECT DISTINCT y.sk
                  FROM y JOIN ps ON y.sk = ps.sk AND y.pk = ps.pk
                         JOIN part ON y.pk = p_partkey AND p_name LIKE '%red%'
                  WHERE y.yq * 2 > ps.q)
         SELECT s_suppkey, s_name, n_name
         FROM supplier JOIN conc ON s_suppkey = conc.sk
                       JOIN nation ON s_nationkey = n_nationkey
         ORDER BY s_suppkey"""),
    // ---- curation planning reports ----
    QueryDef("q_dedup_savings", (s, dir) =>
      Dedup.dedupSavings(Tables.documents(s, dir)).orderBy("source"),
      """WITH t AS (SELECT source, doc_id, md5(text) AS k,
                CAST(len(string_split_regex(trim(text), '\s+')) AS BIGINT) AS toks
              FROM documents),
         b AS (SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
                CAST(sum(toks) AS BIGINT) AS tokens_total FROM t GROUP BY 1),
         kp AS (SELECT k, min_by(source, doc_id) AS source,
                CAST(min(toks) AS BIGINT) AS toks FROM t GROUP BY 1),
         a AS (SELECT source, CAST(count(*) AS BIGINT) AS n_docs_kept,
                CAST(sum(toks) AS BIGINT) AS tokens_kept FROM kp GROUP BY 1)
         SELECT b.source, n_docs,
                COALESCE(n_docs_kept, 0) AS n_docs_kept,
                tokens_total,
                COALESCE(tokens_kept, 0) AS tokens_kept,
                1.0 - CAST(COALESCE(tokens_kept, 0) AS DOUBLE) / CAST(tokens_total AS DOUBLE) AS savings
         FROM b LEFT JOIN a ON b.source = a.source
         ORDER BY b.source"""),
    QueryDef("q_length_sweep", (s, dir) =>
      TextAnalysis.lengthFilterSweep(Tables.documents(s, dir)),
      """WITH t AS (SELECT CAST(len(string_split_regex(trim(text), '\s+')) AS BIGINT) AS t
              FROM documents)
         SELECT CAST(count(*) AS BIGINT) AS n_docs,
                CAST(sum(t) AS BIGINT) AS tokens_total,
                CAST(sum(CASE WHEN t >= 10 THEN 1 ELSE 0 END) AS BIGINT) AS docs_ge_10,
                CAST(sum(CASE WHEN t >= 10 THEN t ELSE 0 END) AS BIGINT) AS toks_ge_10,
                CAST(sum(CASE WHEN t >= 25 THEN 1 ELSE 0 END) AS BIGINT) AS docs_ge_25,
                CAST(sum(CASE WHEN t >= 25 THEN t ELSE 0 END) AS BIGINT) AS toks_ge_25,
                CAST(sum(CASE WHEN t >= 50 THEN 1 ELSE 0 END) AS BIGINT) AS docs_ge_50,
                CAST(sum(CASE WHEN t >= 50 THEN t ELSE 0 END) AS BIGINT) AS toks_ge_50,
                CAST(sum(CASE WHEN t >= 100 THEN 1 ELSE 0 END) AS BIGINT) AS docs_ge_100,
                CAST(sum(CASE WHEN t >= 100 THEN t ELSE 0 END) AS BIGINT) AS toks_ge_100,
                CAST(sum(CASE WHEN t >= 200 THEN 1 ELSE 0 END) AS BIGINT) AS docs_ge_200,
                CAST(sum(CASE WHEN t >= 200 THEN t ELSE 0 END) AS BIGINT) AS toks_ge_200
         FROM t"""),
    QueryDef("q_mrl_recall", (s, dir) =>
      Similarity.matryoshkaRecall(Tables.embeddings(s, dir)).orderBy("dims_kept"),
      """WITH m AS (SELECT vec_id,
                list_transform(embedding::DOUBLE[], v -> round(v * 1000)) AS m
              FROM embeddings),
         q AS (SELECT vec_id AS qid, m AS qm FROM m WHERE vec_id < 10),
         p AS (SELECT qid, m.vec_id,
                CAST(list_dot_product(m.m[1:8], m.m[1:8]) + list_dot_product(qm[1:8], qm[1:8])
                     - 2 * list_dot_product(m.m[1:8], qm[1:8]) AS BIGINT) AS d8,
                CAST(list_dot_product(m.m[1:16], m.m[1:16]) + list_dot_product(qm[1:16], qm[1:16])
                     - 2 * list_dot_product(m.m[1:16], qm[1:16]) AS BIGINT) AS d16,
                CAST(list_dot_product(m.m[1:32], m.m[1:32]) + list_dot_product(qm[1:32], qm[1:32])
                     - 2 * list_dot_product(m.m[1:32], qm[1:32]) AS BIGINT) AS d32,
                CAST(list_dot_product(m.m, m.m) + list_dot_product(qm, qm)
                     - 2 * list_dot_product(m.m, qm) AS BIGINT) AS d64
               FROM m CROSS JOIN q WHERE m.vec_id <> qid),
         tk AS (SELECT qid, vec_id,
                row_number() OVER (PARTITION BY qid ORDER BY d8, vec_id) AS r8,
                row_number() OVER (PARTITION BY qid ORDER BY d16, vec_id) AS r16,
                row_number() OVER (PARTITION BY qid ORDER BY d32, vec_id) AS r32,
                row_number() OVER (PARTITION BY qid ORDER BY d64, vec_id) AS r64
               FROM p),
         tn AS (SELECT sum(CASE WHEN r64 <= 5 THEN 1 ELSE 0 END) AS n_true FROM tk)
         SELECT CAST(8 AS BIGINT) AS dims_kept, CAST(10 AS BIGINT) AS n_queries,
                CAST(coalesce(sum(CASE WHEN r8 <= 5 AND r64 <= 5 THEN 1 ELSE 0 END), 0) AS BIGINT) AS n_hits,
                sum(CASE WHEN r8 <= 5 AND r64 <= 5 THEN 1 ELSE 0 END) / (CAST(max(tn.n_true) AS DOUBLE)) AS recall FROM tk, tn
         UNION ALL
         SELECT 16, 10,
                CAST(coalesce(sum(CASE WHEN r16 <= 5 AND r64 <= 5 THEN 1 ELSE 0 END), 0) AS BIGINT),
                sum(CASE WHEN r16 <= 5 AND r64 <= 5 THEN 1 ELSE 0 END) / (CAST(max(tn.n_true) AS DOUBLE)) FROM tk, tn
         UNION ALL
         SELECT 32, 10,
                CAST(coalesce(sum(CASE WHEN r32 <= 5 AND r64 <= 5 THEN 1 ELSE 0 END), 0) AS BIGINT),
                sum(CASE WHEN r32 <= 5 AND r64 <= 5 THEN 1 ELSE 0 END) / (CAST(max(tn.n_true) AS DOUBLE)) FROM tk, tn
         ORDER BY dims_kept"""),
    QueryDef("q_setops_bag", (s, dir) =>
      Relational.setOpsBag(Tables.events(s, dir)).orderBy("user_id"),
      """WITH bag AS (
           (SELECT user_id FROM events WHERE event_type = 'purchase'
            INTERSECT ALL
            SELECT user_id FROM events WHERE event_type = 'view')
           EXCEPT ALL
           SELECT user_id FROM events WHERE event_type = 'error')
         SELECT user_id, CAST(count(*) AS BIGINT) AS multiplicity
         FROM bag GROUP BY 1 ORDER BY user_id"""),
    QueryDef("q_fertility", (s, dir) =>
      TextAnalysis.tokenizerFertility(Tables.documents(s, dir)).orderBy("lang"),
      s"""WITH t AS (SELECT lang,
                CAST(length(text) AS BIGINT) AS chars,
                CAST(len(string_split_regex(trim(text), '\\s+')) AS BIGINT) AS words,
                CAST(len(regexp_extract_all(text, '${TextAnalysis.bpeSplitPattern}')) AS BIGINT) AS bpe
              FROM documents)
         SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
                CAST(sum(chars) AS BIGINT) AS chars_total,
                CAST(sum(words) AS BIGINT) AS words_total,
                CAST(sum(bpe) AS BIGINT) AS bpe_total,
                CAST(sum(chars) AS DOUBLE) / CAST(sum(bpe) AS DOUBLE) AS chars_per_token,
                CAST(sum(bpe) AS DOUBLE) / CAST(sum(words) AS DOUBLE) AS tokens_per_word
         FROM t GROUP BY 1 ORDER BY lang"""),
    QueryDef("q_kappa", (s, dir) =>
      TextAnalysis.langIdKappa(Tables.documents(s, dir)).orderBy("n_docs"),
      s"""WITH pred AS ($duckLangIdSql),
         conf AS (SELECT d.lang AS t, p.pred_lang AS pr, CAST(count(*) AS BIGINT) AS n
                  FROM pred p JOIN documents d ON d.doc_id = p.doc_id GROUP BY 1, 2),
         rs AS (SELECT t AS lbl, CAST(sum(n) AS BIGINT) AS row_n FROM conf GROUP BY 1),
         cs AS (SELECT pr AS lbl, CAST(sum(n) AS BIGINT) AS col_n FROM conf GROUP BY 1),
         ch AS (SELECT CAST(sum(CAST(row_n AS HUGEINT) * col_n) AS HUGEINT) AS chance
                FROM rs JOIN cs USING (lbl)),
         tot AS (SELECT CAST(sum(n) AS BIGINT) AS n_docs,
                        CAST(sum(CASE WHEN t = pr THEN n ELSE 0 END) AS BIGINT) AS n_agree
                 FROM conf)
         SELECT n_docs, n_agree,
                CAST(n_agree AS DOUBLE) / CAST(n_docs AS DOUBLE) AS po,
                CAST(chance AS DOUBLE) / (CAST(n_docs AS DOUBLE) * CAST(n_docs AS DOUBLE)) AS pe,
                CASE WHEN CAST(n_docs AS HUGEINT) * n_docs = chance THEN NULL
                     ELSE (CAST(n_docs AS DOUBLE) * CAST(n_agree AS DOUBLE) - CAST(chance AS DOUBLE)) /
                (CAST(n_docs AS DOUBLE) * CAST(n_docs AS DOUBLE) - CAST(chance AS DOUBLE)) END AS kappa
         FROM tot, ch ORDER BY n_docs"""),
    QueryDef("q_dup_matrix", (s, dir) =>
      TextAnalysis.crossSourceDupMatrix(Tables.documents(s, dir))
        .orderBy("source_a", "source_b"),
      """WITH g AS (SELECT DISTINCT md5(text) AS h, source FROM documents),
         u AS (SELECT source, CAST(count(*) AS BIGINT) AS n_uniq FROM g GROUP BY 1),
         p AS (SELECT a.source AS source_a, b.source AS source_b,
                      CAST(count(*) AS BIGINT) AS n_shared
               FROM g a JOIN g b ON a.h = b.h AND a.source < b.source GROUP BY 1, 2),
         frame AS (SELECT ua.source AS source_a, ub.source AS source_b,
                          ua.n_uniq AS uniq_a, ub.n_uniq AS uniq_b
                   FROM u ua JOIN u ub ON ua.source < ub.source)
         SELECT f.source_a, f.source_b,
                CAST(coalesce(p.n_shared, 0) AS BIGINT) AS n_shared,
                f.uniq_a, f.uniq_b,
                CAST(coalesce(p.n_shared, 0) AS DOUBLE) /
                CAST(f.uniq_a + f.uniq_b - coalesce(p.n_shared, 0) AS DOUBLE) AS jaccard
         FROM frame f LEFT JOIN p ON p.source_a = f.source_a AND p.source_b = f.source_b
         ORDER BY f.source_a, f.source_b"""),
    QueryDef("q_ann_binary", (s, dir) =>
      Similarity.binaryQuantRecall(Tables.embeddings(s, dir), 10, 5).orderBy("qid"),
      s"""WITH pk AS (
           SELECT vec_id,
                  CAST(sum(CASE WHEN i <= 32 AND v > 0 THEN (CAST(1 AS BIGINT) << (i - 1)) ELSE 0 END) AS BIGINT) AS b0,
                  CAST(sum(CASE WHEN i > 32 AND v > 0 THEN (CAST(1 AS BIGINT) << (i - 33)) ELSE 0 END) AS BIGINT) AS b1
           FROM (SELECT vec_id, unnest(embedding) AS v,
                        generate_subscripts(embedding, 1) AS i FROM embeddings)
           GROUP BY vec_id),
         q AS (SELECT vec_id AS qid, b0 AS q0, b1 AS q1 FROM pk WHERE vec_id < 10),
         ranked AS (
           SELECT q.qid, pk.vec_id AS nid,
                  row_number() OVER (
                    PARTITION BY q.qid
                    ORDER BY CAST(bit_count(xor(pk.b0, q.q0)) AS BIGINT) +
                             CAST(bit_count(xor(pk.b1, q.q1)) AS BIGINT) ASC,
                             pk.vec_id ASC) AS rk
           FROM q JOIN pk ON pk.vec_id <> q.qid),
         ap AS (SELECT qid, nid FROM ranked WHERE rk <= 5),
         bf AS (SELECT qid, nid FROM (${duckCosineTopKSql(10, 5)})),
         h AS (SELECT qid, count(*) AS n_hit FROM bf JOIN ap USING (qid, nid) GROUP BY qid),
         t AS (SELECT qid, count(*) AS n_true FROM bf GROUP BY qid)
         SELECT t.qid, t.n_true, coalesce(h.n_hit, 0) AS n_hit,
                CAST(coalesce(h.n_hit, 0) AS DOUBLE) / CAST(t.n_true AS DOUBLE) AS recall
         FROM t LEFT JOIN h ON t.qid = h.qid ORDER BY t.qid"""),
    QueryDef("q_source_entropy", (s, dir) =>
      TextAnalysis.sourceEntropy(Tables.documents(s, dir)).orderBy("source"),
      """WITH toks AS (SELECT source, unnest(string_split_regex(trim(text), '\s+')) AS w
                       FROM documents),
         sw AS (SELECT source, w, CAST(count(*) AS BIGINT) AS n_sw FROM toks GROUP BY 1, 2),
         cw AS (SELECT w, CAST(count(*) AS BIGINT) AS n_w FROM toks GROUP BY 1),
         per AS (
           SELECT source,
                  CAST(sum(n_sw) AS BIGINT) AS n_tokens,
                  CAST(count(*) AS BIGINT) AS vocab,
                  CAST(sum(CAST(round(n_sw * ln(n_sw) * 1000000) AS BIGINT)) AS BIGINT) AS ent_micro,
                  CAST(sum(CAST(round(n_sw * (ln(n_sw) - ln(n_w)) * 1000000) AS BIGINT)) AS BIGINT) AS kl_micro
           FROM sw JOIN cw USING (w) GROUP BY source),
         tot AS (SELECT CAST(sum(n_tokens) AS BIGINT) AS n_total FROM per)
         SELECT source, n_tokens, vocab,
                ln(CAST(n_tokens AS DOUBLE)) - CAST(ent_micro AS DOUBLE) / (1000000.0 * CAST(n_tokens AS DOUBLE)) AS entropy,
                CAST(kl_micro AS DOUBLE) / (1000000.0 * CAST(n_tokens AS DOUBLE))
                  + ln(CAST(n_total AS DOUBLE)) - ln(CAST(n_tokens AS DOUBLE)) AS kl_vs_corpus
         FROM per, tot ORDER BY source"""),
    QueryDef("q_near_dup_matrix", (s, dir) =>
      Dedup.nearDupSourceMatrix(Tables.documents(s, dir))
        .orderBy("source_a", "source_b"),
      s"""WITH mh AS (SELECT doc_a, doc_b FROM ($duckMinhashPairsSql)),
         src AS (SELECT doc_id, source FROM documents)
         SELECT least(sa.source, sb.source) AS source_a,
                greatest(sa.source, sb.source) AS source_b,
                CAST(count(*) AS BIGINT) AS n_pairs
         FROM mh JOIN src sa ON sa.doc_id = mh.doc_a
                 JOIN src sb ON sb.doc_id = mh.doc_b
         GROUP BY 1, 2 ORDER BY 1, 2"""),
    QueryDef("q_split_leakage", (s, dir) =>
      Dedup.splitLeakage(Tables.documents(s, dir)).orderBy("split_a", "split_b"),
      s"""WITH mh AS (SELECT doc_a, doc_b FROM ($duckMinhashPairsSql)),
         s AS (SELECT doc_id,
                      CASE WHEN b < 8 THEN 'train' WHEN b = 8 THEN 'valid' ELSE 'test' END AS split
               FROM (SELECT doc_id,
                            ${Stages.duckMd5BitsSql("CAST(doc_id AS VARCHAR)", "1", 8)} % 10 AS b
                     FROM documents)),
         cells AS (
           SELECT least(sa.split, sb.split) AS split_a,
                  greatest(sa.split, sb.split) AS split_b,
                  CAST(count(*) AS BIGINT) AS n_pairs
           FROM mh JOIN s sa ON sa.doc_id = mh.doc_a
                   JOIN s sb ON sb.doc_id = mh.doc_b
           GROUP BY 1, 2)
         SELECT split_a, split_b, n_pairs, split_a <> split_b AS crosses_split
         FROM cells ORDER BY split_a, split_b"""),
    QueryDef("q_ann_rerank", (s, dir) =>
      Similarity.binaryRerankRecall(Tables.embeddings(s, dir), 10, 5, 20).orderBy("qid"),
      s"""WITH pk AS (
           SELECT vec_id,
                  CAST(sum(CASE WHEN i <= 32 AND v > 0 THEN (CAST(1 AS BIGINT) << (i - 1)) ELSE 0 END) AS BIGINT) AS b0,
                  CAST(sum(CASE WHEN i > 32 AND v > 0 THEN (CAST(1 AS BIGINT) << (i - 33)) ELSE 0 END) AS BIGINT) AS b1
           FROM (SELECT vec_id, unnest(embedding) AS v,
                        generate_subscripts(embedding, 1) AS i FROM embeddings)
           GROUP BY vec_id),
         q AS (SELECT vec_id AS qid, b0 AS q0, b1 AS q1 FROM pk WHERE vec_id < 10),
         hranked AS (
           SELECT q.qid, pk.vec_id AS nid,
                  row_number() OVER (
                    PARTITION BY q.qid
                    ORDER BY CAST(bit_count(xor(pk.b0, q.q0)) AS BIGINT) +
                             CAST(bit_count(xor(pk.b1, q.q1)) AS BIGINT) ASC,
                             pk.vec_id ASC) AS rk
           FROM q JOIN pk ON pk.vec_id <> q.qid),
         short AS (SELECT qid, nid FROM hranked WHERE rk <= 20),
         rer AS (
           SELECT short.qid, short.nid,
                  round(list_dot_product(eq.embedding::DOUBLE[], en.embedding::DOUBLE[]) /
                        (sqrt(list_dot_product(eq.embedding::DOUBLE[], eq.embedding::DOUBLE[])) *
                         sqrt(list_dot_product(en.embedding::DOUBLE[], en.embedding::DOUBLE[]))), 3) AS cos_sim
           FROM short JOIN embeddings eq ON eq.vec_id = short.qid
                      JOIN embeddings en ON en.vec_id = short.nid),
         rranked AS (
           SELECT qid, nid,
                  row_number() OVER (PARTITION BY qid ORDER BY cos_sim DESC, nid ASC) AS rk
           FROM rer),
         ap AS (SELECT qid, nid FROM rranked WHERE rk <= 5),
         bf AS (SELECT qid, nid FROM (${duckCosineTopKSql(10, 5)})),
         h AS (SELECT qid, count(*) AS n_hit FROM bf JOIN ap USING (qid, nid) GROUP BY qid),
         t AS (SELECT qid, count(*) AS n_true FROM bf GROUP BY qid)
         SELECT t.qid, t.n_true, coalesce(h.n_hit, 0) AS n_hit,
                CAST(coalesce(h.n_hit, 0) AS DOUBLE) / CAST(t.n_true AS DOUBLE) AS recall
         FROM t LEFT JOIN h ON t.qid = h.qid ORDER BY t.qid"""),
    QueryDef("q_bpe_merges", (s, dir) =>
      TextAnalysis.bpeMergeCandidates(Tables.documents(s, dir), 25).orderBy("rank"),
      """WITH wc AS (SELECT w, CAST(count(*) AS BIGINT) AS n_w
                     FROM (SELECT unnest(string_split_regex(trim(text), '\s+')) AS w
                           FROM documents)
                     GROUP BY w HAVING length(w) >= 2),
         p AS (SELECT w, n_w,
                      unnest(list_transform(generate_series(1, length(w) - 1),
                                            i -> substring(w, i, 2))) AS pair
               FROM wc),
         g AS (SELECT pair, CAST(sum(n_w) AS BIGINT) AS n_occ,
                      CAST(count(DISTINCT w) AS BIGINT) AS n_types
               FROM p GROUP BY pair),
         r AS (SELECT pair, n_occ, n_types,
                      CAST(row_number() OVER (ORDER BY n_occ DESC, pair ASC) AS BIGINT) AS rank
               FROM g)
         SELECT rank, pair, n_occ, n_types FROM r WHERE rank <= 25 ORDER BY rank"""),
    QueryDef("q_ivf_purity", (s, dir) =>
      Similarity.ivfPurity(Tables.embeddings(s, dir)).orderBy("cell"),
      {
      val dists = duckIvfDists(8)
      s"""WITH e AS (SELECT vec_id, label, embedding::DOUBLE[] AS v FROM embeddings),
          e2 AS (SELECT vec_id, label, v, list_dot_product(v, v) AS vv FROM e),
          d AS (SELECT vec_id, label, $dists AS dists FROM e2),
          b AS (SELECT CAST(list_position(dists, list_min(dists)) - 1 AS BIGINT) AS cell,
                       CAST(label AS BIGINT) AS label
                FROM d),
          counts AS (SELECT cell, label, CAST(count(*) AS BIGINT) AS n FROM b GROUP BY 1, 2),
          totals AS (SELECT cell, CAST(sum(n) AS BIGINT) AS n_vecs,
                            CAST(count(*) AS BIGINT) AS n_labels
                     FROM counts GROUP BY 1),
          major AS (SELECT cell, label AS major_label, n AS n_major
                    FROM (SELECT cell, label, n,
                                 row_number() OVER (PARTITION BY cell ORDER BY n DESC, label ASC) AS rk
                          FROM counts)
                    WHERE rk = 1)
          SELECT t.cell, t.n_vecs, t.n_labels, m.major_label, m.n_major,
                 CAST(m.n_major AS DOUBLE) / CAST(t.n_vecs AS DOUBLE) AS purity
          FROM totals t JOIN major m ON m.cell = t.cell ORDER BY t.cell"""
    }),
    QueryDef("q_ann_filtered", (s, dir) =>
      Similarity.filteredTopK(Tables.embeddings(s, dir), 10, 5).orderBy("qid", "rank"),
      """WITH q AS (SELECT vec_id AS qid, embedding::DOUBLE[] AS qe, label AS qlabel
                    FROM embeddings WHERE vec_id < 10),
         pairs AS (
           SELECT q.qid, e.vec_id AS nid, CAST(e.label AS BIGINT) AS label,
                  round(list_dot_product(q.qe, e.embedding::DOUBLE[]) /
                        (sqrt(list_dot_product(q.qe, q.qe)) *
                         sqrt(list_dot_product(e.embedding::DOUBLE[], e.embedding::DOUBLE[]))), 3) AS cos_sim
           FROM q JOIN embeddings e ON e.label = q.qlabel AND e.vec_id <> q.qid),
         ranked AS (
           SELECT qid, nid, label, cos_sim,
                  CAST(row_number() OVER (PARTITION BY qid ORDER BY cos_sim DESC, nid) AS BIGINT) AS rank
           FROM pairs)
         SELECT qid, rank, nid, label, cos_sim FROM ranked WHERE rank <= 5 ORDER BY qid, rank"""),
    QueryDef("q_frame_energy", (s, dir) =>
      graft.multimodal.Multimodal.frameEnergies(Tables.documents(s, dir))
        .orderBy("doc_id", "frame_id"),
      """WITH f AS (SELECT doc_id, CAST(length(text) AS BIGINT) AS byte_len,
                unnest(generate_series(0, greatest((length(text) - 1) // 256, 0))) AS frame_id,
                text
              FROM documents),
         per AS (SELECT doc_id, byte_len, frame_id,
                        substring(text, CAST(frame_id * 256 + 1 AS INTEGER), 256) AS fr
                 FROM f),
         e AS (SELECT doc_id, CAST(frame_id AS BIGINT) AS frame_id,
                      least(256, byte_len - frame_id * 256) AS n_bytes,
                      CAST(coalesce(list_sum(list_transform(generate_series(1, length(fr)),
                        i -> CAST(ascii(substring(fr, i, 1)) AS BIGINT) *
                             CAST(ascii(substring(fr, i, 1)) AS BIGINT))), 0) AS BIGINT) AS energy
               FROM per)
         SELECT doc_id, frame_id, n_bytes, energy,
                CASE WHEN n_bytes > 0 THEN sqrt(CAST(energy AS DOUBLE) / CAST(n_bytes AS DOUBLE)) END AS rms
         FROM e ORDER BY doc_id, frame_id"""),
    QueryDef("q_payload_entropy", (s, dir) =>
      graft.multimodal.Multimodal.payloadEntropy(Tables.documents(s, dir))
        .orderBy("doc_id"),
      """WITH b AS (SELECT doc_id,
                unnest(list_transform(generate_series(1, length(text)),
                                      i -> ascii(substring(text, i, 1)))) AS byte
              FROM documents),
         counts AS (SELECT doc_id, byte, CAST(count(*) AS BIGINT) AS c FROM b GROUP BY 1, 2),
         per AS (SELECT doc_id,
                        CAST(sum(c) AS BIGINT) AS n_bytes,
                        CAST(count(*) AS BIGINT) AS n_distinct,
                        CAST(sum(CAST(round(c * ln(c) * 1000000) AS BIGINT)) AS BIGINT) AS ent_micro
                 FROM counts GROUP BY doc_id),
         fl AS (SELECT d.doc_id,
                       coalesce(per.n_bytes, 0) AS n_bytes,
                       coalesce(per.n_distinct, 0) AS n_distinct,
                       coalesce(per.ent_micro, 0) AS ent_micro
                FROM documents d LEFT JOIN per ON d.doc_id = per.doc_id)
         SELECT doc_id, n_bytes, n_distinct,
                CASE WHEN n_bytes > 0 THEN
                  (ln(CAST(n_bytes AS DOUBLE)) -
                   CAST(ent_micro AS DOUBLE) / (1000000.0 * CAST(n_bytes AS DOUBLE)))
                  / 0.6931471805599453 END AS bits_per_byte,
                CASE WHEN n_bytes > 0 THEN
                  ((ln(CAST(n_bytes AS DOUBLE)) -
                    CAST(ent_micro AS DOUBLE) / (1000000.0 * CAST(n_bytes AS DOUBLE)))
                   / 0.6931471805599453) > 6.0 END AS high_entropy
         FROM fl ORDER BY doc_id"""),
    QueryDef("q_budget_cut", (s, dir) =>
      TextAnalysis.budgetCut(Tables.documents(s, dir)).orderBy("source"),
      s"""WITH d AS (SELECT doc_id, source,
                CAST(len(string_split_regex(trim(lower(text)), '\\s+')) AS BIGINT) AS n_tokens,
                CAST(${duckStopwordHits("en")} AS BIGINT) AS hits
              FROM documents),
         q AS (SELECT doc_id, source, n_tokens,
                      (1000000 * hits) // n_tokens AS q_micro
               FROM d),
         c AS (SELECT *,
                      sum(n_tokens) OVER (ORDER BY q_micro DESC, doc_id ASC
                                          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
                      (sum(n_tokens) OVER ()) // 2 AS budget
               FROM q)
         SELECT source,
                CAST(count(*) AS BIGINT) AS n_docs,
                CAST(sum(n_tokens) AS BIGINT) AS total_tokens,
                CAST(sum(CASE WHEN cum <= budget THEN 1 ELSE 0 END) AS BIGINT) AS kept_docs,
                CAST(sum(CASE WHEN cum <= budget THEN n_tokens ELSE 0 END) AS BIGINT) AS kept_tokens,
                min(CASE WHEN cum <= budget THEN q_micro END) AS cut_q_micro
         FROM c GROUP BY source ORDER BY source"""),
    QueryDef("q_bitext_mine", (s, dir) =>
      Similarity.bitextMine(Tables.embeddings(s, dir), Tables.documents(s, dir))
        .orderBy("src_id"),
      duckBitextSql("en", "fr", 8)),
    QueryDef("q_t_closeness", (s, dir) =>
      Analytics.tCloseness(Tables.orders(s, dir)).orderBy("priority", "o_year"),
      """WITH cell AS (SELECT o_orderpriority AS priority,
                       CAST(year(o_orderdate) AS BIGINT) AS o_year,
                       o_orderstatus AS status, CAST(count(*) AS BIGINT) AS c_gv
                FROM orders GROUP BY 1, 2, 3),
         grp AS (SELECT priority, o_year, CAST(sum(c_gv) AS BIGINT) AS n_g FROM cell GROUP BY 1, 2),
         gm AS (SELECT status, CAST(sum(c_gv) AS BIGINT) AS c_v FROM cell GROUP BY 1),
         tot AS (SELECT CAST(sum(c_v) AS BIGINT) AS n FROM gm),
         ex AS (SELECT grp.priority, grp.o_year, grp.n_g, gm.status, gm.c_v, tot.n
                FROM grp CROSS JOIN gm CROSS JOIN tot),
         j AS (SELECT ex.priority, ex.o_year, ex.n_g, ex.n, ex.c_v,
                      coalesce(cell.c_gv, 0) AS c_gv
               FROM ex LEFT JOIN cell ON cell.priority = ex.priority
                 AND cell.o_year = ex.o_year AND cell.status = ex.status),
         agg AS (SELECT priority, o_year, max(n_g) AS n_g, max(n) AS n,
                        sum(abs(CAST(c_gv AS HUGEINT) * n - CAST(c_v AS HUGEINT) * n_g)) AS tv_num
                 FROM j GROUP BY 1, 2)
         SELECT priority, o_year, n_g AS n_rows,
                CAST(tv_num AS DOUBLE) / (2.0 * CAST(n_g AS DOUBLE) * CAST(n AS DOUBLE)) AS tv_dist,
                5 * tv_num <= CAST(2 AS HUGEINT) * n_g * n AS is_close
         FROM agg ORDER BY priority, o_year"""),
    QueryDef("q_lsh_scurve", (s, dir) =>
      Dedup.lshSCurve(Tables.documents(s, dir)).orderBy("bucket"),
      {
      val curve = graft.text.Dedup.analyticDetectProb(8, 4).zipWithIndex
        .map { case (p, d) => s"WHEN bucket = $d THEN CAST($p AS DOUBLE)" }
        .mkString("CASE ", " ", " END")
      s"""WITH g AS (SELECT doc_id, source, $duckShingles AS grams FROM documents),
         gold AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
                         least(CAST(floor(CAST(len(list_intersect(a.grams, b.grams)) AS DOUBLE) /
                           CAST(len(list_distinct(list_concat(a.grams, b.grams))) AS DOUBLE) * 10) AS BIGINT), 9) AS bucket
                  FROM g a JOIN g b ON a.source = b.source AND a.doc_id < b.doc_id
                  WHERE CAST(len(list_intersect(a.grams, b.grams)) AS DOUBLE) /
                        CAST(len(list_distinct(list_concat(a.grams, b.grams))) AS DOUBLE) >= 0.3),
         $duckMinhashSigCtes,
         bands AS (SELECT doc_id, sig, unnest(generate_series(0,7)) AS band FROM sig),
         keyed AS (SELECT doc_id, band, sig[band*4+1:band*4+4] AS bsig FROM bands),
         kept AS (SELECT * FROM keyed QUALIFY count(*) OVER (PARTITION BY band, bsig) <= $bucketCap),
         cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
                  FROM kept a JOIN kept b ON a.band = b.band AND a.bsig = b.bsig AND a.doc_id < b.doc_id),
         det AS (SELECT gold.bucket, CASE WHEN cand.doc_a IS NOT NULL THEN 1 ELSE 0 END AS hit
                 FROM gold LEFT JOIN cand ON cand.doc_a = gold.doc_a AND cand.doc_b = gold.doc_b)
         SELECT bucket, CAST(count(*) AS BIGINT) AS n_pairs, CAST(sum(hit) AS BIGINT) AS n_detected,
                CAST(sum(hit) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS detect_rate,
                $curve AS p_analytic
         FROM det GROUP BY bucket ORDER BY bucket"""
    }),
    QueryDef("q_dsir_weights", (s, dir) =>
      TextAnalysis.dsirWeights(Tables.documents(s, dir)).orderBy("lang"),
      s"""WITH tok AS (SELECT doc_id, lang, unnest(string_split_regex(trim(lower(text)), '\\s+')) AS tok FROM documents),
         bk AS (SELECT doc_id, lang,
                       ${Stages.duckMd5BitsSql("tok", "1", 8)} % 256 AS b
                FROM tok),
         counts AS (SELECT b, CAST(count(*) AS BIGINT) AS n_all,
                           CAST(sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS BIGINT) AS n_tgt
                    FROM bk GROUP BY b),
         tot AS (SELECT CAST(sum(n_all) AS BIGINT) AS t_all, CAST(sum(n_tgt) AS BIGINT) AS t_tgt FROM counts),
         lam AS (SELECT b, CAST(round((ln(CAST(n_tgt + 1 AS DOUBLE)) - ln(CAST(t_tgt + 256 AS DOUBLE))
                                     - ln(CAST(n_all + 1 AS DOUBLE)) + ln(CAST(t_all + 256 AS DOUBLE)))
                                     * 1000000) AS BIGINT) AS lam_micro
                 FROM counts CROSS JOIN tot),
         db AS (SELECT doc_id, lang, b, CAST(count(*) AS BIGINT) AS c FROM bk GROUP BY 1, 2, 3),
         dw AS (SELECT doc_id, lang, CAST(sum(c) AS BIGINT) AS n_tok, CAST(sum(c * lam_micro) AS BIGINT) AS w_micro
                FROM db JOIN lam USING (b) GROUP BY 1, 2)
         SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
                CAST(sum(CASE WHEN w_micro > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_pos,
                CAST(sum(CASE WHEN w_micro > 0 THEN 1 ELSE 0 END) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS pos_frac,
                CAST(sum(w_micro) AS DOUBLE) / (1000000.0 * CAST(sum(n_tok) AS DOUBLE)) AS mean_nats_per_tok
         FROM dw GROUP BY lang ORDER BY lang"""),
    QueryDef("q_doc_ppl", (s, dir) =>
      TextAnalysis.docPpl(Tables.documents(s, dir)).orderBy("doc_id"),
      """WITH toks AS (SELECT doc_id, string_split_regex(trim(text), '\s+') AS t FROM documents),
         bi AS (SELECT doc_id, unnest(list_transform(generate_series(1, len(t) - 1),
                  i -> struct_pack(w1 := t[i], w2 := t[i+1]))) AS bg FROM toks WHERE len(t) >= 2),
         bg AS (SELECT doc_id, bg.w1 AS w1, bg.w2 AS w2 FROM bi),
         bc AS (SELECT w1, w2, CAST(count(*) AS BIGINT) AS n_ab FROM bg GROUP BY 1, 2),
         pre AS (SELECT w1, CAST(sum(n_ab) AS BIGINT) AS n_a FROM bc GROUP BY w1),
         vc AS (SELECT CAST(count(DISTINCT tok) AS BIGINT) AS v
                FROM (SELECT unnest(string_split_regex(trim(text), '\s+')) AS tok FROM documents)),
         costs AS (SELECT bc.w1, bc.w2,
                          CAST(round((ln(CAST(n_a + v AS DOUBLE)) - ln(CAST(n_ab + 1 AS DOUBLE))) * 1000000) AS BIGINT) AS cost_micro
                   FROM bc JOIN pre ON bc.w1 = pre.w1 CROSS JOIN vc),
         db AS (SELECT doc_id, w1, w2, CAST(count(*) AS BIGINT) AS c FROM bg GROUP BY 1, 2, 3)
         SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_bigrams,
                CAST(sum(c * cost_micro) AS DOUBLE) / (1000000.0 * CAST(sum(c) AS DOUBLE)) AS nats_per_bigram
         FROM db JOIN costs ON db.w1 = costs.w1 AND db.w2 = costs.w2
         GROUP BY doc_id ORDER BY doc_id""")
  )

  /** Name → builder, derived from [[defs]]. */
  lazy val queries: Map[String, (SparkSession, String) => DataFrame] =
    defs.map(d => d.name -> d.build).toMap

  /** Name → DuckDB oracle SQL, derived from [[defs]]; Verify writes it as
    * `oracle_sql.json`.
    */
  lazy val oracleSql: Map[String, String] = defs.map(d => d.name -> d.oracleSql).toMap

  /** The entries named in the comma-separated `names` (every entry when
    * None), in the iteration order of [[queries]], which [[oracleSql]]
    * shares. Throws IllegalArgumentException listing every unknown name,
    * so a mistyped subset fails instead of silently selecting nothing.
    */
  def select(names: Option[String]): Seq[QueryDef] = {
    val wanted = names.map { list =>
      val w = list.split(",").map(_.trim).filter(_.nonEmpty).toSet
      if (w.isEmpty) throw new IllegalArgumentException(s"no query names in '$list'")
      val unknown = w.filterNot(queries.contains).toSeq.sorted
      if (unknown.nonEmpty)
        throw new IllegalArgumentException(s"unknown queries: ${unknown.mkString(", ")}")
      w
    }
    val byName = defs.map(d => d.name -> d).toMap
    queries.keys.iterator.filter(n => wanted.forall(_(n))).map(byName).toSeq
  }

  /** Seconds from order date to ship date: q_abnormal_duration's
    * `lead_sec`, in the oracle's dialect. */
  private val duckLeadSecs =
    s"${Stages.duckEpochBucketSql("l_shipdate", 1)} - ${Stages.duckEpochBucketSql("o_orderdate", 1)}"

  /** The daily cents series `(d, y)` as a CTE body: the day number and the
    * day's summed value cents, the oracle twin of `Analytics.dailyCents`. */
  private val duckDailyCents =
    s"""(SELECT ${Stages.duckEpochBucketSql("ts", 86400)} AS d, CAST(sum(${Stages.centsSql("value")}) AS BIGINT) AS y
        FROM events GROUP BY 1)"""

  /** The hour bucket as the (`date`, `hour`) strings of the three hourly
    * reference pipelines, the oracle twin of `RefPipelines.windowHour`. */
  private val duckWindowHour =
    "strftime(date_trunc('hour', ts), '%Y-%m-%d') AS date, strftime(date_trunc('hour', ts), '%H:%M:%S') AS hour"

  // Shared SQL fragments (identical text on both engines — see Stages).
  private val avgRevenueAggs =
    s"""${Stages.halfUpAvgDollarsSql(RefPipelines.valueCents)} AS avg_revenue,
        ${Stages.halfUpAvgDollarsSql(RefPipelines.purchaseCents)} AS avg_purchase,
        ${Stages.halfUpAvgDollarsSql(RefPipelines.signupCents)} AS avg_signup"""

  /** DuckDB 3-gram shingle list for `text`, distinct, mirroring
    * [[graft.text.Dedup]]'s `shingles(3)`.
    */
  private val duckShingles =
    "list_distinct(list_transform(generate_series(1, greatest(len(string_split_regex(trim(text), '\\s+')) - 2, 1)), " +
      "i -> array_to_string(string_split_regex(trim(text), '\\s+')[i:i+2], ' ')))"

  /** DuckDB CTE chain producing the one-row ACF sufficient-statistics
    * table `ss(n, see, num1..num{maxLag})` — the oracle twin of
    * [[graft.engine.Analytics.acfSuffStats]].
    */
  private def duckAcfSuffCtes(maxLag: Int): String = {
    val wide = (1 to maxLag)
      .map(k => s"CAST(coalesce(sum(CASE WHEN lag = $k THEN num END), 0) AS DECIMAL(38,0)) AS num$k")
      .mkString(", ")
    s"""daily AS $duckDailyCents,
        tot AS (SELECT CAST(count(*) AS BIGINT) AS n, CAST(sum(y) AS BIGINT) AS s FROM daily),
        dm AS (SELECT d, n, n * y - s AS e FROM daily, tot),
        den AS (SELECT CAST(max(n) AS BIGINT) AS n, CAST(sum(CAST(e AS HUGEINT) * e) AS DECIMAL(38,0)) AS see FROM dm),
        lags AS (SELECT CAST(unnest(generate_series(1, $maxLag)) AS BIGINT) AS lag),
        p AS (SELECT lag, CAST(sum(CAST(a.e AS HUGEINT) * b.e) AS HUGEINT) AS num
              FROM dm a, lags, dm b WHERE a.d + lag = b.d GROUP BY 1),
        w AS (SELECT $wide FROM p),
        ss AS (SELECT den.n, den.see, w.* FROM den, w)"""
  }

  /** DuckDB k-core peel, generated: the support-2 co-order edge build
    * followed by `rounds` unrolled (degree → keep → prune) CTE stages
    * with a per-round count report — the oracle twin of
    * [[graft.engine.Graph.kcorePeel]]. The edge and kept-node CTEs are
    * MATERIALIZED: DuckDB otherwise inlines a CTE once per reference,
    * and the rounds nest, so the pair self-join would be recomputed a
    * number of times that grows with every round.
    */
  private def duckKcoreSql(k: Int, rounds: Int): String = {
    val base =
      s"""WITH op AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem),
         e0 AS MATERIALIZED (SELECT a.pk AS pa, b.pk AS pb FROM op a JOIN op b ON a.ok = b.ok AND a.pk < b.pk
                GROUP BY 1, 2 HAVING count(*) >= 2)"""
    val stages = (1 to rounds).map { r =>
      s""", d$r AS (SELECT node, count(*) AS deg
                FROM (SELECT pa AS node FROM e${r - 1} UNION ALL SELECT pb FROM e${r - 1})
                GROUP BY 1),
         k$r AS MATERIALIZED (SELECT node FROM d$r WHERE deg >= $k),
         e$r AS MATERIALIZED (SELECT pa, pb FROM e${r - 1}
                 WHERE pa IN (SELECT node FROM k$r) AND pb IN (SELECT node FROM k$r)),
         rep$r AS (SELECT CAST($r AS BIGINT) AS round,
                          (SELECT CAST(count(*) AS BIGINT) FROM k$r) AS n_nodes,
                          (SELECT CAST(count(*) AS BIGINT) FROM e$r) AS n_edges)"""
    }.mkString
    val union = (1 to rounds).map(r => s"SELECT * FROM rep$r").mkString(" UNION ALL ")
    s"$base$stages $union ORDER BY round"
  }

  /** DuckDB JL distortion, generated with the same ±1 sign matrix as
    * [[graft.similarity.Similarity.jlDistortion]].
    */
  private def duckJlSql(k: Int, numQueries: Int): String = {
    val signs = graft.similarity.Similarity.jlSigns(k, 64)
    val yCols = signs.zipWithIndex.map { case (row, j) =>
      val terms = row.zipWithIndex
        .map { case (r, d) => s"($r * ma[${d + 1}])" }
        .mkString(" + ")
      s"CAST($terms AS BIGINT) AS y${j + 1}"
    }.mkString(", ")
    val dk = (1 to k).map(j => s"(a.y$j - b.y$j) * (a.y$j - b.y$j)").mkString(" + ")
    s"""WITH m AS (SELECT vec_id,
                   list_transform(embedding, v -> CAST(round(CAST(v AS DOUBLE) * 1000) AS BIGINT)) AS ma
            FROM embeddings WHERE vec_id < $numQueries),
       y AS (SELECT vec_id, ma, $yCols FROM m),
       p AS (SELECT a.vec_id AS va, b.vec_id AS vb,
                    CAST(list_sum(list_transform(generate_series(1, 64),
                      i -> (a.ma[i] - b.ma[i]) * (a.ma[i] - b.ma[i]))) AS BIGINT) AS d64,
                    CAST($dk AS BIGINT) AS dk
             FROM y a JOIN y b ON a.vec_id < b.vec_id)
       SELECT va, vb, d64, dk,
              CASE WHEN d64 = 0 THEN NULL
                   ELSE CAST(dk AS DOUBLE) / ($k.0 * CAST(d64 AS DOUBLE)) END AS ratio
       FROM p ORDER BY va, vb"""
  }

  /** HLL rank ladder (shared text with [[graft.engine.Analytics.hllDistinct]]):
    * position of the first set bit in the 24-bit remainder, 25 when zero.
    */
  private lazy val hllRhoLadder: String = (1 to 24)
    .map(r => s"WHEN rem >= ${1L << (24 - r)} THEN $r")
    .mkString("CASE ", " ", " ELSE 25 END")

  /** The engine's stop-bucket cap ([[graft.text.Dedup.MaxCandidateBucket]]),
    * shared so every banded-candidate oracle models the same bucket-size
    * drop the engine applies — the oracles stay faithful even on a corpus
    * whose buckets exceed the cap (fixtures max out at single digits).
    */
  private val bucketCap: Int = graft.text.Dedup.MaxCandidateBucket

  /** Oracle twins of the engine's shared hash inputs (the user A/B arm,
    * the lineitem row key, the Poisson bootstraps' resample hash). */
  private val duckUserArmSql = s"${Stages.duckMd5BitsSql("CAST(user_id AS VARCHAR)", "1", 8)} % 2"
  private val duckLineitemRowKeySql =
    "concat(CAST(l_orderkey AS VARCHAR), '_', CAST(l_linenumber AS VARCHAR))"
  private val duckResampleHashSql =
    Stages.duckMd5BitsSql("concat(CAST(event_id AS VARCHAR), '_', CAST(r AS VARCHAR))", "1", 8)

  /** DuckDB MinHash-LSH near-dup pair pipeline (the q_dedup_minhash
    * chain, shared with q_dedup_agreement): emits (doc_a, doc_b,
    * est_jaccard) for banded candidates at est ≥ 0.5.
    */
  /** DuckDB 32-hash MinHash signature CTE pair (`h`/`sig`) over a
    * preceding `g(doc_id, grams)` CTE — the ONE spelling of the
    * signature arithmetic every minhash-family oracle interpolates.
    * Before round 9 this block existed as 13 verbatim copies; a
    * hash-scheme retune applied to one copy would silently have missed
    * the others (the [[graft.engine.Stages.lineitemRevUnitsSql]] hazard,
    * realized at oracle scale).
    */
  private val duckMinhashSigCtes: String =
    s"""h AS (SELECT doc_id,
                 list_transform(grams, s -> ${Stages.duckMd5BitsSql("s", "1", 8)} % 2147483647) AS h1,
                 list_transform(grams, s -> ${Stages.duckMd5BitsSql("s", "9", 8)} % 2147483647) AS h2
               FROM g),
         sig AS (SELECT doc_id,
                 list_transform(generate_series(0,31), j ->
                   list_min(list_transform(generate_series(1,len(h1)), i -> (h1[i] + j*h2[i]) % 2147483647))) AS sig
                 FROM h)"""

  private lazy val duckMinhashPairsSql: String =
    s"""WITH g AS (SELECT doc_id, $duckShingles AS grams FROM documents),
       $duckMinhashSigCtes,
       bands AS (SELECT doc_id, sig, unnest(generate_series(0,7)) AS band FROM sig),
       keyed AS (SELECT doc_id, band, sig[band*4+1:band*4+4] AS bsig FROM bands),
       kept AS (SELECT * FROM keyed QUALIFY count(*) OVER (PARTITION BY band, bsig) <= $bucketCap),
       cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
                FROM kept a JOIN kept b ON a.band = b.band AND a.bsig = b.bsig AND a.doc_id < b.doc_id),
       sj AS (SELECT doc_a, doc_b, sa.sig AS sig_a, sb.sig AS sig_b
              FROM cand JOIN sig sa ON sa.doc_id = doc_a JOIN sig sb ON sb.doc_id = doc_b)
       SELECT doc_a, doc_b,
              CAST(len(list_filter(generate_series(1,32), i -> sig_a[i] = sig_b[i])) AS DOUBLE) / 32 AS est_jaccard
       FROM sj
       WHERE CAST(len(list_filter(generate_series(1,32), i -> sig_a[i] = sig_b[i])) AS DOUBLE) / 32 >= 0.5"""

  /** DuckDB SimHash near-dup pipeline, generated: 64 per-bit vote
    * aggregates over md5-hashed tokens (with multiplicity = tf weighting),
    * signature assembled in UBIGINT bit space (signed BIGINT can't hold
    * bit 63 without overflow-checked arithmetic tripping), candidates via
    * 16-bit chunk equality, output = hamming distances only.
    */
  /** The DuckDB SimHash signature CTE chain (t/th/v/sig), shared by the
    * near-dup oracle and the chunk-bucket-stats oracle.
    */
  private def duckSimhashSigCtes: String = {
    val votes = (0 until 64)
      .map(j => s"sum(CASE WHEN (h >> $j) & 1 = 1 THEN 1 ELSE -1 END) AS v$j")
      .mkString(", ")
    val sigBits = (0 until 64)
      .map(j => s"CASE WHEN v$j > 0 THEN CAST('${java.lang.Long.toUnsignedString(1L << j)}' AS UBIGINT) ELSE CAST(0 AS UBIGINT) END")
      .mkString(" + ")
    s"""t AS (SELECT doc_id, unnest(string_split_regex(trim(text), '\\s+')) AS tok FROM documents),
       th AS (SELECT doc_id, CAST(concat('0x', substring(md5(tok),1,16)) AS UBIGINT) AS h FROM t),
       v AS (SELECT doc_id, $votes FROM th GROUP BY doc_id),
       sig AS (SELECT doc_id, $sigBits AS s FROM v)"""
  }

  private def duckSimhashSql(maxHamming: Int): String = {
    s"""WITH $duckSimhashSigCtes,
       chunks AS (SELECT doc_id, s, unnest(generate_series(0,3)) AS c FROM sig),
       keyed AS (SELECT doc_id, s, c, (s >> (c*16)) & 65535 AS cv FROM chunks),
       kept AS (SELECT * FROM keyed QUALIFY count(*) OVER (PARTITION BY c, cv) <= $bucketCap),
       cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b, a.s AS sa, b.s AS sb
                FROM kept a JOIN kept b ON a.c = b.c AND a.cv = b.cv AND a.doc_id < b.doc_id)
       SELECT doc_a, doc_b, CAST(bit_count(xor(sa, sb)) AS BIGINT) AS hamming
       FROM cand WHERE bit_count(xor(sa, sb)) <= $maxHamming ORDER BY doc_a, doc_b"""
  }

  /** DuckDB random-hyperplane LSH top-k, generated: the deterministic
    * plane constants ([[Similarity.planes]]) are embedded as list
    * literals (shortest-roundtrip decimal, which parses back to the
    * identical double), bucket = sign-bit sum, then exact cosine top-k
    * within the query's bucket — the same contract as the Spark side.
    */
  private def duckAnnLshSql(numQueries: Int, k: Int, numPlanes: Int, multiProbe: Boolean = false): String = {
    val ps = graft.similarity.Similarity.planes(numPlanes, 64)
    val bucketExpr = ps.zipWithIndex
      .map { case (p, i) =>
        val lit = p.map(_.toString).mkString("[", ", ", "]")
        s"(CASE WHEN list_dot_product(v, $lit) > 0 THEN ${1 << i} ELSE 0 END)"
      }
      .mkString(" + ")
    val qSource =
      if (!multiProbe) s"SELECT vec_id AS qid, v AS qe, bucket FROM b WHERE vec_id < $numQueries"
      else {
        val probeList = ("bucket" +: (0 until numPlanes).map(i => s"xor(bucket, ${1 << i})")).mkString(", ")
        s"SELECT vec_id AS qid, v AS qe, unnest([$probeList]) AS bucket FROM b WHERE vec_id < $numQueries"
      }
    s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
       b AS (SELECT vec_id, v, $bucketExpr AS bucket FROM e),
       q AS ($qSource),
       pairs AS (
         SELECT q.qid, c.vec_id AS nid,
                round(list_dot_product(q.qe, c.v) /
                      (sqrt(list_dot_product(q.qe, q.qe)) * sqrt(list_dot_product(c.v, c.v))), 3) AS cos_sim
         FROM q JOIN b c ON c.bucket = q.bucket AND c.vec_id <> q.qid),
       ranked AS (
         SELECT qid, nid, cos_sim,
                row_number() OVER (PARTITION BY qid ORDER BY cos_sim DESC, nid) AS rank
         FROM pairs)
       SELECT qid, rank, nid, cos_sim FROM ranked WHERE rank <= $k ORDER BY qid, rank"""
  }

  /** DuckDB IVF top-k, generated: centroid constants as list literals,
    * cell = 1 + index of the minimum `v·v − 2·v·c + c·c` (first match on
    * ties, same as Spark's array_position), exact cosine top-k within
    * the query's cell.
    */
  /** The IVF distance-list literal shared by every IVF-family oracle. */
  private def duckIvfDists(numCells: Int): String =
    graft.similarity.Similarity
      .centroids(numCells, 64)
      .map { c =>
        val lit = c.map(_.toString).mkString("[", ", ", "]")
        s"vv - 2*list_dot_product(v, $lit) + ${c.map(x => x * x).sum}"
      }
      .mkString("[", ", ", "]")

  private def duckAnnIvfSql(numQueries: Int, k: Int, numCells: Int): String = {
    val dists = duckIvfDists(numCells)
    s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
       e2 AS (SELECT vec_id, v, list_dot_product(v, v) AS vv FROM e),
       d AS (SELECT vec_id, v, $dists AS dists FROM e2),
       b AS (SELECT vec_id, v, list_position(dists, list_min(dists)) - 1 AS cell FROM d),
       q AS (SELECT vec_id AS qid, v AS qe, cell FROM b WHERE vec_id < $numQueries),
       pairs AS (
         SELECT q.qid, c.vec_id AS nid,
                round(list_dot_product(q.qe, c.v) /
                      (sqrt(list_dot_product(q.qe, q.qe)) * sqrt(list_dot_product(c.v, c.v))), 3) AS cos_sim
         FROM q JOIN b c ON c.cell = q.cell AND c.vec_id <> q.qid),
       ranked AS (
         SELECT qid, nid, cos_sim,
                row_number() OVER (PARTITION BY qid ORDER BY cos_sim DESC, nid) AS rank
         FROM pairs)
       SELECT qid, rank, nid, cos_sim FROM ranked WHERE rank <= $k ORDER BY qid, rank"""
  }

  /** DuckDB bitext mining twin: same centroid literals and cell rule as
    * [[duckAnnIvfSql]], same mutual-top-1 + runner-up margin as
    * [[graft.similarity.Similarity.bitextMine]].
    */
  private def duckBitextSql(srcLang: String, tgtLang: String, numCells: Int): String = {
    val dists = duckIvfDists(numCells)
    s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
       docs AS (SELECT doc_id, lang FROM documents),
       e2 AS (SELECT vec_id, lang, v, list_dot_product(v, v) AS vv FROM e JOIN docs ON doc_id = vec_id),
       b AS (SELECT vec_id, lang, v, vv,
                    list_position($dists, list_min($dists)) - 1 AS cell FROM e2),
       src AS (SELECT vec_id AS src_id, v AS sv, sqrt(vv) AS sn, cell FROM b WHERE lang = '$srcLang'),
       tgt AS (SELECT vec_id AS tgt_id, v AS tv, sqrt(vv) AS tn, cell FROM b WHERE lang = '$tgtLang'),
       pairs AS (
         SELECT src_id, tgt_id, list_dot_product(sv, tv) / (sn * tn) AS cos
         FROM src JOIN tgt ON src.cell = tgt.cell),
       fwd AS (SELECT *, row_number() OVER (PARTITION BY src_id ORDER BY cos DESC, tgt_id) AS rf FROM pairs),
       f AS (SELECT src_id,
                    max(CASE WHEN rf = 1 THEN tgt_id END) AS tgt_id,
                    max(CASE WHEN rf = 1 THEN cos END) AS cos,
                    coalesce(max(CASE WHEN rf = 2 THEN cos END),
                             max(CASE WHEN rf = 1 THEN cos END)) AS cos2
             FROM fwd WHERE rf <= 2 GROUP BY src_id),
       bwd AS (SELECT tgt_id, src_id AS b_src,
                      row_number() OVER (PARTITION BY tgt_id ORDER BY cos DESC, src_id) AS rb FROM pairs)
       SELECT f.src_id, f.tgt_id, round(f.cos, 3) AS cos_sim, round(f.cos - f.cos2, 6) AS margin
       FROM f JOIN bwd ON bwd.tgt_id = f.tgt_id AND bwd.rb = 1 AND bwd.b_src = f.src_id
       ORDER BY f.src_id"""
  }

  /** DuckDB squared-distance silhouette, generated with the same centroid
    * literals, first-match argmin, and positional-mask second-min as
    * [[graft.similarity.Similarity.silhouette]].
    */
  private def duckSilhouetteSql(numCells: Int): String = {
    val dists = duckIvfDists(numCells)
    s"""WITH e AS (SELECT embedding::DOUBLE[] AS v FROM embeddings),
       e2 AS (SELECT v, list_dot_product(v, v) AS vv FROM e),
       d AS (SELECT $dists AS dists FROM e2),
       m AS (SELECT dists, list_position(dists, list_min(dists)) - 1 AS cell,
                    list_min(dists) AS a2 FROM d),
       s AS (SELECT cell, a2,
                    list_min(list_transform(generate_series(1, $numCells),
                      i -> CASE WHEN i = cell + 1 THEN CAST('Infinity' AS DOUBLE) ELSE dists[i] END)) AS b2
             FROM m),
       r AS (SELECT cell,
                    CAST(round((CASE WHEN b2 = 0 THEN 0.0 ELSE (b2 - a2) / b2 END) * 1000000) AS BIGINT) AS sil_micro
             FROM s)
       SELECT cell, CAST(count(*) AS BIGINT) AS n_vecs,
              CAST(sum(sil_micro) AS BIGINT) AS sil_sum,
              (CAST(sum(sil_micro) AS DOUBLE) / CAST(count(*) AS DOUBLE)) / 1000000.0 AS mean_sil
       FROM r GROUP BY cell ORDER BY cell"""
  }

  /** DuckDB PQ pipeline, generated: per-subspace argmin codes over the
    * deterministic codebook literals (`s·s − 2·s·c + c·c`, first match on
    * ties — the identical expansion the native NearestCentroid kernel
    * computes), per-query distance tables, ADC sum in fixed subspace
    * order — the same contract as [[graft.similarity.Similarity.pqTopK]].
    */
  private def duckAnnPqSql(numQueries: Int, k: Int, m: Int, codebookSize: Int): String = {
    val subDim = 64 / m
    val books = graft.similarity.Similarity.pqCodebooks(m, codebookSize, subDim)
    def subVec(j: Int) = s"v[${j * subDim + 1}:${(j + 1) * subDim}]"
    val distLists = (0 until m).map { j =>
      books(j)
        .map { c =>
          val lit = c.map(_.toString).mkString("[", ", ", "]")
          s"list_dot_product(${subVec(j)}, ${subVec(j)}) - 2.0*list_dot_product(${subVec(j)}, $lit) + ${c.map(x => x * x).sum}"
        }
        .mkString("[", ", ", "]")
    }
    val codeExprs = (0 until m)
      .map(j => s"list_position(d$j, list_min(d$j)) - 1")
      .mkString("[", ", ", "]")
    val dCols = (0 until m).map(j => s"${distLists(j)} AS d$j").mkString(", ")
    val tabCols = (0 until m).map(j => s"d$j AS tab$j").mkString(", ")
    val adc = (0 until m).map(j => s"q.tab$j[c.codes[${j + 1}] + 1]").mkString(" + ")
    s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
       d AS (SELECT vec_id, $dCols FROM e),
       c AS (SELECT vec_id, $codeExprs AS codes FROM d),
       q AS (SELECT vec_id AS qid, $tabCols FROM d WHERE vec_id < $numQueries),
       pairs AS (
         SELECT q.qid, c.vec_id AS nid, round($adc, 3) AS approx_dist
         FROM q JOIN c ON c.vec_id <> q.qid),
       ranked AS (
         SELECT qid, nid, approx_dist,
                row_number() OVER (PARTITION BY qid ORDER BY approx_dist ASC, nid ASC) AS rank
         FROM pairs)
       SELECT qid, CAST(rank AS BIGINT) AS rank, nid, approx_dist
       FROM ranked WHERE rank <= $k ORDER BY qid, rank"""
  }

  /** DuckDB IVF+PQ, generated: [[duckAnnIvfSql]]'s coarse-cell assignment
    * joined with [[duckAnnPqSql]]'s codes and ADC scoring.
    */
  private def duckAnnIvfPqSql(
      numQueries: Int, k: Int, numCells: Int, m: Int, codebookSize: Int): String = {
    val subDim = 64 / m
    val books = graft.similarity.Similarity.pqCodebooks(m, codebookSize, subDim)
    val cellDists = duckIvfDists(numCells)
    def subVec(j: Int) = s"v[${j * subDim + 1}:${(j + 1) * subDim}]"
    val distLists = (0 until m).map { j =>
      books(j)
        .map { c =>
          val lit = c.map(_.toString).mkString("[", ", ", "]")
          s"list_dot_product(${subVec(j)}, ${subVec(j)}) - 2.0*list_dot_product(${subVec(j)}, $lit) + ${c.map(x => x * x).sum}"
        }
        .mkString("[", ", ", "]")
    }
    val codeExprs = (0 until m)
      .map(j => s"list_position(d$j, list_min(d$j)) - 1")
      .mkString("[", ", ", "]")
    val dCols = (0 until m).map(j => s"${distLists(j)} AS d$j").mkString(", ")
    val tabCols = (0 until m).map(j => s"d$j AS tab$j").mkString(", ")
    val adc = (0 until m).map(j => s"q.tab$j[c.codes[${j + 1}] + 1]").mkString(" + ")
    s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
       e2 AS (SELECT vec_id, v, list_dot_product(v, v) AS vv FROM e),
       celled AS (SELECT vec_id, v, list_position(cd, list_min(cd)) - 1 AS cell
                  FROM (SELECT vec_id, v, $cellDists AS cd FROM e2)),
       d AS (SELECT vec_id, cell, $dCols FROM celled),
       c AS (SELECT vec_id, cell, $codeExprs AS codes FROM d),
       q AS (SELECT vec_id AS qid, cell AS qcell, $tabCols FROM d WHERE vec_id < $numQueries),
       pairs AS (
         SELECT q.qid, c.vec_id AS nid, round($adc, 3) AS approx_dist
         FROM q JOIN c ON c.cell = q.qcell AND c.vec_id <> q.qid),
       ranked AS (
         SELECT qid, nid, approx_dist,
                row_number() OVER (PARTITION BY qid ORDER BY approx_dist ASC, nid ASC) AS rank
         FROM pairs)
       SELECT qid, CAST(rank AS BIGINT) AS rank, nid, approx_dist
       FROM ranked WHERE rank <= $k ORDER BY qid, rank"""
  }

  /** DuckDB n-gram shingle list (distinct, space-joined), mirroring
    * [[graft.text.Dedup]]'s `shinglesFromToks` for arbitrary n.
    */
  private def duckShinglesN(n: Int): String =
    s"list_distinct(list_transform(generate_series(1, greatest(len(string_split_regex(trim(text), '\\s+')) - ${n - 1}, 1)), " +
      s"i -> array_to_string(string_split_regex(trim(text), '\\s+')[i:i+${n - 1}], ' ')))"

  /** DuckDB SQ8 ANN, generated: the [-1,1] fixed-range quantizer, integer
    * squared-L2 via the same `cc − 2·q·c + qq` expansion as the Spark
    * side — every score is an exact integer.
    */
  private def duckAnnSq8Sql(numQueries: Int, k: Int): String =
    s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
       c AS (SELECT vec_id,
               list_transform(v, x -> least(255, greatest(0, CAST(round((x + 1.0) / 2.0 * 255.0) AS BIGINT))))::DOUBLE[] AS cd
             FROM e),
       cc AS (SELECT vec_id, cd, list_dot_product(cd, cd) AS cc FROM c),
       q AS (SELECT vec_id AS qid, cd AS qd, cc AS qq FROM cc WHERE vec_id < $numQueries),
       pairs AS (
         SELECT q.qid, c2.vec_id AS nid,
                CAST(c2.cc - 2.0 * list_dot_product(q.qd, c2.cd) + q.qq AS BIGINT) AS sq_dist
         FROM q JOIN cc c2 ON c2.vec_id <> q.qid),
       ranked AS (
         SELECT qid, nid, sq_dist,
                row_number() OVER (PARTITION BY qid ORDER BY sq_dist ASC, nid ASC) AS rank
         FROM pairs)
       SELECT qid, CAST(rank AS BIGINT) AS rank, nid, sq_dist
       FROM ranked WHERE rank <= $k ORDER BY qid, rank"""

  /** DuckDB IVF nprobe=2, generated: [[duckAnnIvfSql]]'s cell assignment
    * plus a second probe cell from re-argmin after masking the ARGMIN
    * POSITION to +∞ (the same positional mask the Spark side uses —
    * tie-safe where a value mask is not).
    */
  private def duckAnnIvf2Sql(numQueries: Int, k: Int, numCells: Int): String = {
    val dists = duckIvfDists(numCells)
    s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
       e2 AS (SELECT vec_id, v, list_dot_product(v, v) AS vv FROM e),
       d AS (SELECT vec_id, v, $dists AS dists FROM e2),
       b AS (SELECT vec_id, v, list_position(dists, list_min(dists)) - 1 AS cell FROM d),
       qm AS (SELECT vec_id, v, dists,
                list_position(dists, list_min(dists)) AS p1
              FROM d WHERE vec_id < $numQueries),
       qm2 AS (SELECT vec_id, v, p1,
                list_transform(generate_series(1, $numCells),
                  i -> CASE WHEN i = p1 THEN CAST('infinity' AS DOUBLE) ELSE dists[i] END) AS masked
              FROM qm),
       q AS (SELECT vec_id AS qid, v AS qe,
               unnest([p1 - 1,
                       list_position(masked, list_min(masked)) - 1]) AS cell
             FROM qm2),
       pairs AS (
         SELECT q.qid, c.vec_id AS nid,
                round(list_dot_product(q.qe, c.v) /
                      (sqrt(list_dot_product(q.qe, q.qe)) * sqrt(list_dot_product(c.v, c.v))), 3) AS cos_sim
         FROM q JOIN b c ON c.cell = q.cell AND c.vec_id <> q.qid),
       ranked AS (
         SELECT qid, nid, cos_sim,
                row_number() OVER (PARTITION BY qid ORDER BY cos_sim DESC, nid) AS rank
         FROM pairs)
       SELECT qid, rank, nid, cos_sim FROM ranked WHERE rank <= $k ORDER BY qid, rank"""
  }

  /** Generated wide hourly-average SQL — per-category exact half-up
    * averages ([[Stages.halfUpAvgDollarsSql]] over conditional cents),
    * shared by the pivot oracle and (wrapped in UNPIVOT) the melt oracle.
    */
  private val pivotTypes = Seq("click", "error", "purchase", "signup", "view")
  private val duckPivotWideSql: String = {
    val cols = pivotTypes.map { t =>
      val cents = Stages.centsWhenSql(s"event_type = '$t'", "value")
      s"""${Stages.halfUpAvgDollarsSql(cents)} AS "$t""""
    }.mkString(",\n                ")
    s"""SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS hour_start,
                $cols
         FROM events GROUP BY date_trunc('hour', ts)"""
  }

  /** DuckDB integer-arithmetic PageRank, generated: the same transition
    * edge list and `iters` unrolled synchronous updates with every
    * division integral (`//` floors like Spark's `div` on these
    * non-negative values), so ranks match bit-for-bit.
    */
  private def duckPageRankSql(iters: Int, scale: Long): String = {
    val its = (1 to iters)
      .map { i =>
        val p = s"r${i - 1}"
        s"""c$i AS (SELECT e.dst AS node, CAST(sum((CAST($p.r AS HUGEINT) * e.w) // e.outw) AS BIGINT) AS contrib
             FROM $p JOIN e ON $p.node = e.src GROUP BY e.dst),
         r$i AS (SELECT nodes.node,
                   CAST(((CAST($scale AS BIGINT) * 15) // 100) // nn.n_nodes
                     + (85 * coalesce(c$i.contrib, 0)) // 100 AS BIGINT) AS r
                 FROM nodes CROSS JOIN nn LEFT JOIN c$i ON nodes.node = c$i.node)"""
      }
      .mkString(",\n         ")
    s"""WITH seq AS (
           SELECT event_type AS dst,
                  lag(event_type, 1) OVER (PARTITION BY user_id ORDER BY ts ASC, event_id ASC) AS src
           FROM events),
         e0 AS (SELECT src, dst, count(*) AS w FROM seq WHERE src IS NOT NULL GROUP BY src, dst),
         o AS (SELECT src, sum(w) AS outw FROM e0 GROUP BY src),
         e AS (SELECT e0.src, e0.dst, e0.w, o.outw FROM e0 JOIN o ON e0.src = o.src),
         nodes AS (SELECT src AS node FROM e0 UNION SELECT dst FROM e0),
         nn AS (SELECT count(*) AS n_nodes FROM nodes),
         r0 AS (SELECT node, CAST($scale AS BIGINT) // n_nodes AS r FROM nodes CROSS JOIN nn),
         $its
         SELECT CAST(row_number() OVER (ORDER BY r DESC, node ASC) AS BIGINT) AS rank, node, r
         FROM r$iters ORDER BY rank"""
  }

  /** DuckDB Gini–Simpson letter-collision statistic, generated: 26 static
    * per-letter counts, collision and total sums in exact integers, one
    * IEEE division — mirrors [[TextAnalysis.charDiversity]].
    */
  private val duckCharDiversitySql: String = {
    val letters = ('a' to 'z').toSeq
    val counts = letters
      .map(ch => s"CAST(length(text) - length(replace(text, '$ch', '')) AS BIGINT) AS n_$ch")
      .mkString(",\n                ")
    val total = letters.map(ch => s"n_$ch").mkString(" + ")
    val coll = letters.map(ch => s"n_$ch * (n_$ch - 1)").mkString(" + ")
    s"""WITH c AS (SELECT doc_id, $counts FROM documents)
       SELECT doc_id, $total AS n_letters, $coll AS collisions,
              CASE WHEN ($total) >= 2 THEN
                CAST($coll AS DOUBLE) / CAST(($total) * (($total) - 1) AS DOUBLE)
              END AS collision_rate
       FROM c ORDER BY doc_id"""
  }

  private def duckStopwordHits(listName: String): String = {
    val words = TextAnalysis.stopwords(listName).map(w => s"'$w'").mkString(", ")
    s"len(list_filter(string_split_regex(trim(lower(text)), '\\s+'), t -> t IN ($words)))"
  }

  /** DuckDB brute-force cosine top-k, generated — shared by the
    * q_cosine_topk oracle and the evaluation oracles (q_knn,
    * q_ann_recall) that consume the exact ranking as ground truth.
    */
  /** Polynomial 8-gram hash mod 2^31−1, base 256 — the exact arithmetic
    * of [[graft.functions.ExprKernels.winnow]]'s gram hash: per-term
    * modular products of ascii codes against 256^(7−j) mod p (2^31 ≡ 1
    * mod p, so the powers collapse to small shifts). `i` is the 1-based
    * gram start; grams past the text end truncate, mirroring the
    * kernel's clamp.
    */
  private val duckGramHash: String = {
    val pows = Seq(33554432L, 131072L, 512L, 2L, 16777216L, 65536L, 256L, 1L)
    val terms = pows.zipWithIndex
      .map { case (p, j) =>
        s"CASE WHEN i + $j <= length(text) THEN (CAST(ascii(substring(text, i + $j, 1)) AS BIGINT) * $p) % 2147483647 ELSE 0 END"
      }
      .mkString(" + ")
    s"CAST(($terms) % 2147483647 AS BIGINT)"
  }

  private def duckCosineTopKSql(numQueries: Int, k: Int): String =
    s"""WITH q AS (SELECT vec_id AS qid, embedding::DOUBLE[] AS qe FROM embeddings WHERE vec_id < $numQueries),
       pairs AS (
         SELECT q.qid, e.vec_id AS nid,
                round(list_dot_product(q.qe, e.embedding::DOUBLE[]) /
                      (sqrt(list_dot_product(q.qe, q.qe)) *
                       sqrt(list_dot_product(e.embedding::DOUBLE[], e.embedding::DOUBLE[]))), 3) AS cos_sim
           FROM q JOIN embeddings e ON e.vec_id <> q.qid),
       ranked AS (
         SELECT qid, nid, cos_sim,
                row_number() OVER (PARTITION BY qid ORDER BY cos_sim DESC, nid) AS rank
         FROM pairs)
       SELECT qid, rank, nid, cos_sim FROM ranked WHERE rank <= $k ORDER BY qid, rank"""

  /** DuckDB stopword-vote language identifier — shared by the q_lang_id
    * oracle and the q_confusion evaluation oracle.
    */
  private lazy val duckLangIdSql: String =
    s"""WITH scored AS (
           SELECT doc_id,
                  ${duckStopwordHits("en")} AS s_en,
                  ${duckStopwordHits("fr")} AS s_fr,
                  ${duckStopwordHits("de")} AS s_de,
                  ${duckStopwordHits("es")} AS s_es
           FROM documents),
         best AS (
           SELECT doc_id, s_en, s_fr, s_de, s_es,
                  greatest(s_en, s_fr, s_de, s_es) AS best,
                  (CASE WHEN s_en = greatest(s_en, s_fr, s_de, s_es) THEN 1 ELSE 0 END +
                   CASE WHEN s_fr = greatest(s_en, s_fr, s_de, s_es) THEN 1 ELSE 0 END +
                   CASE WHEN s_de = greatest(s_en, s_fr, s_de, s_es) THEN 1 ELSE 0 END +
                   CASE WHEN s_es = greatest(s_en, s_fr, s_de, s_es) THEN 1 ELSE 0 END) AS winners
           FROM scored)
         SELECT doc_id,
                CASE WHEN best = 0 OR winners > 1 THEN 'und'
                     WHEN s_en = best THEN 'en'
                     WHEN s_fr = best THEN 'fr'
                     WHEN s_de = best THEN 'de'
                     ELSE 'es' END AS pred_lang
         FROM best ORDER BY doc_id"""
}
