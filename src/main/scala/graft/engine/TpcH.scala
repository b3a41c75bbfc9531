package graft.engine

import graft.engine.Caches.CacheOps
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The remaining TPC-H query shapes expressible over this fixture
  * (reference: the TPC-H specification's 22 queries; Q1/Q3/Q5/Q7/Q8/Q14/
  * Q19 already live in [[Relational]]). The fixture has no `partsupp`
  * table and no ship-mode/receipt/commit columns, so Q4/Q9/Q12/Q16/Q21/
  * Q22 are *-shaped* adaptations: the join/subquery STRUCTURE (the part
  * the optimizer and the cluster care about) is the spec's; a predicate
  * or cost column is substituted where the fixture lacks the original.
  *
  * Engine discipline shared by all of them:
  *  - money in exact integers — cents, or hundredth-cents after the
  *    `cents · (100 − disc%)` discount product — summed as BIGINT and
  *    divided to dollars exactly once at the output;
  *  - dimension legs (`part`, `supplier`, `nation`, filtered `customer`)
  *    broadcast; only fact⋈fact joins shuffle, on their natural keys;
  *  - EXISTS / NOT EXISTS become LEFT SEMI / LEFT ANTI joins (the
  *    distributed spelling Catalyst plans as broadcast or shuffled
  *    hash-semi, never a correlated per-row probe);
  *  - date arithmetic on integer epoch-days (`epoch div 86400`);
  *  - every output carries a deterministic total-order `ORDER BY` at the
  *    registration site, with unique tie-breakers.
  */
object TpcH {

  private val (shipDay, orderDay) =
    (Stages.epochBucketSql("l_shipdate", 86400), Stages.epochBucketSql("o_orderdate", 86400))

  /** The fixture's stand-in for `partsupp`: supplier–part offerings
    * DERIVED from lineitem evidence — one row per (suppkey, partkey)
    * with a unit-cost proxy (min observed integer-cent unit price,
    * exact: cents div qty) and the all-time shipped quantity. PINNED
    * ([[graft.engine.Views.pinned]]): the table is |suppliers×parts|-
    * bounded (a dimension product, not the corpus), three query shapes
    * (Q2/Q11/Q20) re-aggregated it from the full lineitem per query,
    * and inside Q2 the offers subplan reads it TWICE (winners probe +
    * min-cost aggregate) — exactly the materialize-once-per-corpus
    * contract the `partsupp` base table it stands in for would satisfy.
    */
  def supplyEvidence(lineitem: DataFrame): DataFrame =
    Views.pinned(lineitem, "supplyEvidence")(li =>
      li.groupBy(col("l_suppkey").as("ps_suppkey"), col("l_partkey").as("ps_partkey"))
        .agg(
          min(expr(s"${Stages.centsSql("l_extendedprice")} div greatest(${Stages.lineitemQtySql}, 1)"))
            .as("ps_cost_cents"),
          expr(s"sum(${Stages.lineitemQtySql})").as("ps_qty")))

  /** Pinned (order, supplier) ship-lag evidence: the MAX ship-vs-order
    * lag in whole days per (orderkey, suppkey), joined once per corpus
    * from lineitem×orders and materialized ([[Views.pinned]]). The
    * table is |distinct (order, supplier)|-bounded — order count times
    * a small per-order supplier fan-out, NOT the lineitem corpus — and
    * parameter-FREE: any lateness threshold is read-time application
    * (`late ⟺ max_lag_days > lateDays`), so one build serves every
    * [[suppliersKeptWaiting]] parameterization. Keyed on the join's
    * canonicalized plan so both inputs participate in the pin key (the
    * [[graft.engine.Graph.hitsTopK]] convention). r10 single-consumer
    * A/B (BASELINE.md): demotion costs q_tpch_q21 +1.09 s best-of-2,
    * board relief ~0 — residency measured as the winner.
    */
  def shipLagEvidence(lineitem: DataFrame, orders: DataFrame): DataFrame =
    Views.pinned(
      lineitem
        .select(col("l_orderkey"), col("l_suppkey"), col("l_shipdate"))
        .join(orders.select(col("o_orderkey"), col("o_orderdate")),
          col("l_orderkey") === col("o_orderkey")),
      "shipLagEvidence")(j =>
      j.groupBy(col("l_orderkey").as("ok"), col("l_suppkey").as("sk"))
        .agg(max(expr(s"$shipDay - $orderDay"))
          .as("max_lag_days")))

  /** Q2-shaped minimum-cost supplier: for parts of one type, the
    * supplier(s) in one region offering the part at its region-wide
    * minimum derived cost, top `k` by account balance. The correlated
    * MIN subquery is a per-part aggregate joined back on
    * (part, cost=min) — never a per-row probe; part and the
    * supplier⋈nation⋈region leg broadcast.
    */
  def minCostSupplier(
      part: DataFrame,
      supplier: DataFrame,
      nation: DataFrame,
      region: DataFrame,
      lineitem: DataFrame,
      regionName: String = "EUROPE",
      pType: String = "ECONOMY",
      k: Int = 20): DataFrame = {
    val suppInRegion = supplier
      .join(
        broadcast(nation
          .join(broadcast(region.filter(col("r_name") === regionName)),
            col("n_regionkey") === col("r_regionkey"))
          .select(col("n_nationkey"), col("n_name"))),
        col("s_nationkey") === col("n_nationkey"))
      .select(col("s_suppkey"), col("s_name"), col("s_acctbal"), col("n_name"))
    val offers = supplyEvidence(lineitem)
      .join(broadcast(part.filter(col("p_type") === pType).select(col("p_partkey"))),
        col("ps_partkey") === col("p_partkey"))
      .join(broadcast(suppInRegion), col("ps_suppkey") === col("s_suppkey"))
      .select(col("p_partkey"), col("ps_suppkey"), col("ps_cost_cents"),
        col("s_name"), col("s_acctbal"), col("n_name"))
    val minCost = offers
      .groupBy(col("p_partkey").as("mc_partkey"))
      .agg(min(col("ps_cost_cents")).as("min_cost"))
    val winners = offers.join(
      minCost,
      col("p_partkey") === col("mc_partkey") && col("ps_cost_cents") === col("min_cost"))
    Relational
      .rankedTopK(winners, k,
        col("s_acctbal").desc, col("p_partkey").asc, col("ps_suppkey").asc)
      .select(
        col("rank"), col("s_acctbal"), col("s_name"), col("n_name"),
        col("p_partkey"), col("ps_suppkey").as("s_suppkey"), col("ps_cost_cents"))
  }

  /** Q11-shaped important stock: per-part inventory value (derived
    * cost × shipped quantity, exact integers) held by one nation's
    * suppliers, keeping parts whose value exceeds `mult`× the average
    * part value. The spec's fixed-fraction HAVING scales its threshold
    * by SF; the above-average form is the scale-free equivalent (a
    * fixed share-of-total empties as |parts| grows). The
    * HAVING-against-global-scalar is a one-row broadcast; the value
    * test is integer cross-multiplication (val·n > mult·total).
    */
  def importantStock(
      lineitem: DataFrame,
      supplier: DataFrame,
      nation: DataFrame,
      nationName: String = "NATION_3",
      mult: Long = 2L): DataFrame = {
    val vals = supplyEvidence(lineitem)
      .join(
        broadcast(supplier
          .join(broadcast(nation.filter(col("n_name") === nationName)),
            col("s_nationkey") === col("n_nationkey"))
          .select(col("s_suppkey"))),
        col("ps_suppkey") === col("s_suppkey"))
      .groupBy(col("ps_partkey"))
      .agg(sum(col("ps_cost_cents") * col("ps_qty")).as("value_units"))
    val total = vals.agg(
      sum(col("value_units")).as("total_units"),
      count(lit(1)).as("n_parts"))
    vals
      .crossJoin(broadcast(total))
      .filter(col("value_units") * col("n_parts") > col("total_units") * mult)
      .select(
        col("ps_partkey"), col("value_units"),
        expr("CAST(value_units AS DOUBLE) / CAST(total_units AS DOUBLE)").as("value_share"))
  }

  /** Q20-shaped promotion-part supply concentration: suppliers (with
    * nation) who shipped more than HALF their all-time quantity of some
    * promo-named part inside one year — the spec's nested
    * IN(parts)/IN(partsupp-with-availqty-test) chain re-expressed as a
    * per-(supplier, part) year-vs-alltime aggregate join plus semi-join
    * up to the supplier dimension. Integer cross-multiplication decides
    * the half test.
    */
  def promoSupplyConcentration(
      lineitem: DataFrame,
      part: DataFrame,
      supplier: DataFrame,
      nation: DataFrame,
      nameToken: String = "red",
      yearStart: String = "1996-01-01",
      yearEndExcl: String = "1997-01-01"): DataFrame = {
    val promoParts = broadcast(
      part.filter(col("p_name").contains(nameToken)).select(col("p_partkey")))
    val yearQty = lineitem
      .filter(
        col("l_shipdate") >= lit(yearStart).cast("timestamp") &&
          col("l_shipdate") < lit(yearEndExcl).cast("timestamp"))
      .groupBy(col("l_suppkey").as("y_suppkey"), col("l_partkey").as("y_partkey"))
      .agg(expr(s"sum(${Stages.lineitemQtySql})").as("y_qty"))
    val concentrated = yearQty
      .join(promoParts, col("y_partkey") === col("p_partkey"), "left_semi")
      .join(
        supplyEvidence(lineitem),
        col("y_suppkey") === col("ps_suppkey") && col("y_partkey") === col("ps_partkey"))
      .filter(col("y_qty") * 2 > col("ps_qty"))
      .select(col("y_suppkey")).distinct()
    supplier
      .join(concentrated, col("s_suppkey") === col("y_suppkey"), "left_semi")
      .join(broadcast(nation.select(col("n_nationkey"), col("n_name"))),
        col("s_nationkey") === col("n_nationkey"))
      .select(col("s_suppkey"), col("s_name"), col("n_name"))
  }

  /** Q4-shaped order-priority checking: orders placed in one quarter
    * that had at least one line shipped more than `lateDays` after the
    * order date, counted per priority. The EXISTS is a LEFT SEMI join on
    * the order key with the lateness predicate riding on the join (so
    * the probe discards non-late lines before any aggregation); the
    * priority dimension is 5 values — the final aggregate is a
    * broadcast-sized grid.
    */
  def orderPriorityCheck(
      orders: DataFrame,
      lineitem: DataFrame,
      qStart: String,
      qEndExcl: String,
      lateDays: Int = 30): DataFrame = {
    val o = orders.filter(
      col("o_orderdate") >= lit(qStart).cast("timestamp") &&
        col("o_orderdate") < lit(qEndExcl).cast("timestamp"))
    o.join(
        lineitem.select(col("l_orderkey"), col("l_shipdate")),
        col("l_orderkey") === col("o_orderkey") &&
          expr(s"$shipDay > $orderDay + $lateDays"),
        "left_semi")
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("order_count"))
  }

  /** Q6 verbatim (the fixture has every column): forecast-revenue-change
    * — one scan, three pushed-down filters, one global sum. Revenue here
    * is `extendedprice · discount`, exact in hundredth-cents
    * (cents · disc%), divided to dollars once. The whole query is a
    * map-side filter + partial-aggregate: zero shuffled rows beyond one
    * partial-sum row per partition.
    */
  def forecastRevenueChange(
      lineitem: DataFrame,
      yearStart: String,
      yearEndExcl: String,
      discLo: Int = 5,
      discHi: Int = 7,
      qtyUnder: Int = 24): DataFrame =
    lineitem
      .filter(
        col("l_shipdate") >= lit(yearStart).cast("timestamp") &&
          col("l_shipdate") < lit(yearEndExcl).cast("timestamp") &&
          expr(s"${Stages.centsSql("l_discount")} BETWEEN $discLo AND $discHi") &&
          expr(s"${Stages.lineitemQtySql} < $qtyUnder"))
      .agg(
        count(lit(1)).cast("long").as("n_lines"),
        expr(s"sum(${Stages.centsSql("l_extendedprice")} * ${Stages.centsSql("l_discount")})" +
          " / CAST(10000 AS DOUBLE)").as("revenue"))

  /** Q9-shaped product-type profit: per supplier nation × order year,
    * profit = discounted revenue − cost, over parts whose name contains
    * `nameToken`. The fixture has no `ps_supplycost`, so cost is the
    * spec-shaped stand-in 60% of `p_retailprice` per unit — kept exact:
    * hundredth-cents = cents(retail) · 60 · qty. Filtered `part`,
    * `supplier`, and `nation` all broadcast; the only shuffles are
    * lineitem⋈orders on the order key and the final (nation, year) grid
    * aggregate.
    */
  def productTypeProfit(
      lineitem: DataFrame,
      orders: DataFrame,
      part: DataFrame,
      supplier: DataFrame,
      nation: DataFrame,
      nameToken: String): DataFrame =
    lineitem
      .join(broadcast(part.filter(col("p_name").contains(nameToken))
        .select(col("p_partkey"), col("p_retailprice"))), col("l_partkey") === col("p_partkey"))
      .join(broadcast(supplier.select(col("s_suppkey"), col("s_nationkey"))),
        col("l_suppkey") === col("s_suppkey"))
      .join(broadcast(nation.select(col("n_nationkey"), col("n_name"))),
        col("s_nationkey") === col("n_nationkey"))
      .join(orders.select(col("o_orderkey"), year(col("o_orderdate")).as("o_year")),
        col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("n_name").as("nation"), col("o_year"))
      .agg(
        count(lit(1)).cast("long").as("n_lines"),
        expr(s"sum(${Stages.lineitemRevUnitsSql}" +
          s" - ${Stages.centsSql("p_retailprice")} * 60 * ${Stages.lineitemQtySql})" +
          " / CAST(10000 AS DOUBLE)").as("profit"))

  /** Q10 returned-item reporting: revenue lost to 'R'-flagged lines for
    * orders of one quarter, per customer, top `k`. Customer and nation
    * broadcast onto the fact aggregate; the top-k is a TakeOrdered, not
    * a global sort.
    */
  def returnedItemReport(
      customer: DataFrame,
      orders: DataFrame,
      lineitem: DataFrame,
      nation: DataFrame,
      qStart: String,
      qEndExcl: String,
      k: Int = 20): DataFrame = {
    val perCust = lineitem
      .filter(col("l_returnflag") === "R")
      .join(
        orders.filter(
          col("o_orderdate") >= lit(qStart).cast("timestamp") &&
            col("o_orderdate") < lit(qEndExcl).cast("timestamp"))
          .select(col("o_orderkey"), col("o_custkey")),
        col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("o_custkey"))
      .agg(expr(s"sum(${Stages.lineitemRevUnitsSql})").as("rev_units"))
    val named = perCust
      .join(broadcast(customer.select(col("c_custkey"), col("c_name"), col("c_acctbal"),
        col("c_nationkey"))), col("o_custkey") === col("c_custkey"))
      .join(broadcast(nation.select(col("n_nationkey"), col("n_name"))),
        col("c_nationkey") === col("n_nationkey"))
    Relational
      .rankedTopK(named, k, col("rev_units").desc, col("c_custkey").asc)
      .select(
        col("rank"), col("c_custkey"), col("c_name"), col("n_name"), col("c_acctbal"),
        expr("CAST(rev_units AS DOUBLE) / 10000.0").as("revenue"))
  }

  /** Q12-shaped shipping-priority audit: lines of one year shipped more
    * than `lateDays` after their order date, bucketed by order status
    * (the fixture's stand-in for ship mode), counting high-priority
    * ('1-URGENT'/'2-HIGH') vs lower-priority orders — Q12's
    * conditional-count-after-join shape. One shuffle (the fact⋈fact
    * order-key join); the status grid is 3 rows.
    */
  def shippingPriorityAudit(
      orders: DataFrame,
      lineitem: DataFrame,
      yearStart: String,
      yearEndExcl: String,
      lateDays: Int = 60): DataFrame =
    lineitem
      .filter(
        col("l_shipdate") >= lit(yearStart).cast("timestamp") &&
          col("l_shipdate") < lit(yearEndExcl).cast("timestamp"))
      .join(orders.select(col("o_orderkey"), col("o_orderdate"), col("o_orderpriority"),
        col("o_orderstatus")), col("l_orderkey") === col("o_orderkey"))
      .filter(expr(s"$shipDay > $orderDay + $lateDays"))
      .groupBy(col("o_orderstatus"))
      .agg(
        expr("sum(CASE WHEN o_orderpriority IN ('1-URGENT','2-HIGH') THEN 1 ELSE 0 END)")
          .cast("long").as("high_line_count"),
        expr("sum(CASE WHEN o_orderpriority IN ('1-URGENT','2-HIGH') THEN 0 ELSE 1 END)")
          .cast("long").as("low_line_count"))

  /** Q13 customer order-count distribution: LEFT join customer→orders
    * (excluding one priority class), per-customer counts, then the
    * count-of-counts histogram. Two aggregates; the second one's domain
    * is bounded by the max per-customer order count, so the histogram
    * grid is tiny. `count(o_orderkey)` counts only matched orders —
    * customers with none land in the 0 bucket, exactly the spec's LEFT
    * OUTER semantics.
    */
  def customerDistribution(
      customer: DataFrame,
      orders: DataFrame,
      excludePriority: String = "1-URGENT"): DataFrame =
    customer
      .select(col("c_custkey"))
      .join(
        orders.filter(col("o_orderpriority") =!= excludePriority)
          .select(col("o_orderkey"), col("o_custkey")),
        col("c_custkey") === col("o_custkey"), "left_outer")
      .groupBy(col("c_custkey"))
      .agg(count(col("o_orderkey")).as("c_count"))
      .groupBy(col("c_count"))
      .agg(count(lit(1)).cast("long").as("custdist"))

  /** Q15 top supplier: per-supplier revenue over one quarter, returning
    * every supplier tied at the maximum (the spec's view + scalar-max
    * semantics). The max rides back in as a one-row broadcast; no window
    * and no global sort touch the supplier table.
    */
  def topSupplier(
      supplier: DataFrame,
      lineitem: DataFrame,
      qStart: String,
      qEndExcl: String): DataFrame = {
    val rev = lineitem
      .filter(
        col("l_shipdate") >= lit(qStart).cast("timestamp") &&
          col("l_shipdate") < lit(qEndExcl).cast("timestamp"))
      .groupBy(col("l_suppkey"))
      .agg(expr(s"sum(${Stages.lineitemRevUnitsSql})").as("rev_units"))
    val mx = rev.agg(max(col("rev_units")).as("max_units"))
    rev
      .crossJoin(broadcast(mx))
      .filter(col("rev_units") === col("max_units"))
      .join(broadcast(supplier.select(col("s_suppkey"), col("s_name"))),
        col("l_suppkey") === col("s_suppkey"))
      .select(
        col("s_suppkey"), col("s_name"),
        expr("CAST(rev_units AS DOUBLE) / 10000.0").as("total_revenue"))
  }

  /** Q16-shaped parts/supplier relationship: distinct suppliers per
    * (brand, type, size) over the lineitem evidence (the fixture's
    * stand-in for `partsupp`), excluding one brand and restricted to the
    * spec's 8-size list. `countDistinct` partial-aggregates per
    * partition before the (brand, type, size) shuffle — the grid is
    * dimension-bounded.
    */
  def partSupplierRelationship(
      part: DataFrame,
      lineitem: DataFrame,
      excludeBrand: String = "Brand#45",
      sizes: Seq[Int] = Seq(1, 9, 14, 19, 23, 36, 45, 49)): DataFrame =
    lineitem
      .select(col("l_partkey"), col("l_suppkey"))
      .join(
        broadcast(part
          .filter(col("p_brand") =!= excludeBrand && col("p_size").isin(sizes.map(Int.box): _*))
          .select(col("p_partkey"), col("p_brand"), col("p_type"), col("p_size"))),
        col("l_partkey") === col("p_partkey"))
      .groupBy(col("p_brand"), col("p_type"), col("p_size"))
      .agg(countDistinct(col("l_suppkey")).as("supplier_cnt"))

  /** Q17 small-quantity-order revenue: average yearly revenue lost if
    * small-quantity orders (below 20% of the part's average quantity)
    * for one brand were not taken. The per-part average arrives as a
    * broadcast (the brand bounds it to ~1/25 of the part dimension) and
    * the 20% test is exact integer cross-multiplication:
    * qty < avg/5  ⇔  5·qty·n < Σqty. Output divides the exact cent sum
    * by 7 once, in DOUBLE, per the spec.
    */
  def smallQuantityRevenue(
      lineitem: DataFrame,
      part: DataFrame,
      brand: String = "Brand#23"): DataFrame = {
    val brandParts = broadcast(
      part.filter(col("p_brand") === brand).select(col("p_partkey")))
    val branded = lineitem
      .join(brandParts, col("l_partkey") === col("p_partkey"))
      .select(col("l_partkey"), expr(Stages.lineitemQtySql).as("q"),
        expr(Stages.centsSql("l_extendedprice")).as("cents"))
    val perPart = branded
      .groupBy(col("l_partkey"))
      .agg(count(lit(1)).as("n"), sum(col("q")).as("sq"))
      .withColumnRenamed("l_partkey", "ap_partkey")
    branded
      .join(broadcast(perPart), col("l_partkey") === col("ap_partkey"))
      .filter(expr("5 * q * n < sq"))
      .agg(
        count(lit(1)).cast("long").as("n_small_lines"),
        expr("CAST(sum(cents) AS DOUBLE) / 700.0").as("avg_yearly"))
  }

  /** Q18 large-volume customers: orders whose total quantity exceeds
    * `qtyOver`, with customer names, top `k` by quantity. The HAVING is
    * a grouped aggregate + filter on the order key (AQE sizes it);
    * customer broadcasts onto the few survivors; top-k is TakeOrdered.
    */
  def largeVolumeCustomers(
      customer: DataFrame,
      orders: DataFrame,
      lineitem: DataFrame,
      qtyOver: Int = 250,
      k: Int = 10): DataFrame = {
    val big = lineitem
      .groupBy(col("l_orderkey"))
      .agg(expr(s"sum(${Stages.lineitemQtySql})").as("total_qty"))
      .filter(col("total_qty") > qtyOver)
    val named = big
      .join(orders.select(col("o_orderkey"), col("o_custkey"), col("o_orderdate"),
        col("o_totalprice")), col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(customer.select(col("c_custkey"), col("c_name"))),
        col("o_custkey") === col("c_custkey"))
    Relational
      .rankedTopK(named, k, col("total_qty").desc, col("o_orderkey").asc)
      .select(
        col("rank"), col("c_custkey"), col("c_name"), col("o_orderkey"),
        date_format(col("o_orderdate"), "yyyy-MM-dd").as("order_date"),
        expr(Stages.centsSql("o_totalprice")).as("total_price_cents"),
        col("total_qty"))
  }

  /** Q21-shaped suppliers-who-kept-orders-waiting: suppliers whose line
    * in a MULTI-supplier order shipped more than `lateDays` after the
    * order date, while every other supplier on that order shipped on
    * time (the fixture lacks receipt/commit dates, so lateness is
    * ship-vs-order-date). The spec's EXISTS(another supplier) / NOT
    * EXISTS(another LATE supplier) pair folds into ONE per-order
    * aggregate over the (order, supplier, late) evidence — a projection
    * of the pinned parameter-free [[shipLagEvidence]] table:
    * an order qualifies its late supplier iff it has ≥ 2 distinct
    * suppliers and EXACTLY 1 distinct late supplier (the candidate is
    * late on it, so "no OTHER late supplier" ⟺ late-supplier count = 1)
    * — algebraically the same predicate as the semi- + anti-join
    * spelling, minus that spelling's two extra shuffles of the evidence
    * table. Round-7 A/B, isolated best-of-2 at sf0.1/32: semi+anti
    * 2.60 s → this shape 2.10 s; a countDistinct-based rollup over a
    * 3-column-distinct evidence table was tried first and measured
    * 4.40 s (Expand doubles the evidence rows and adds a shuffle) —
    * hence the max-late evidence aggregate below. No correlated probes.
    * Top `k` suppliers by waiting-order count.
    */
  def suppliersKeptWaiting(
      supplier: DataFrame,
      orders: DataFrame,
      lineitem: DataFrame,
      nation: DataFrame,
      lateDays: Int = 90,
      k: Int = 10): DataFrame = {
    // (order, supplier) → was-this-supplier-late evidence, read from the
    // PINNED parameter-free ship-lag table ([[shipLagEvidence]]): the
    // lateness threshold applies as a projection over the resident view,
    // so the per-query cost is the rollup + semi join only — the
    // lineitem×orders join and (ok, sk) aggregate are once-per-corpus.
    // The evidence keeps the ONE-aggregate shape (max lag, not a
    // 3-column distinct): (ok, sk) comes out unique, so the per-order
    // rollup below needs no distinct aggregates (a countDistinct
    // spelling was measured 2x slower: Expand doubles the evidence rows
    // and adds a second shuffle). Round-9 A/B, isolated best-of-2 at
    // sf0.1/32: per-run cacheT evidence 2.60 s → pinned read (see
    // BASELINE.md round-9 note).
    val lines = shipLagEvidence(lineitem, orders)
      .select(col("ok"), col("sk"), (col("max_lag_days") > lateDays).as("late"))
    val qualifying = lines
      .groupBy(col("ok").as("qok"))
      .agg(
        count(lit(1)).as("n_supp"),
        sum(when(col("late"), 1L).otherwise(0L)).as("n_late_supp"))
      .filter(col("n_supp") >= 2 && col("n_late_supp") === 1)
      .select(col("qok"))
    val waiting = lines.filter(col("late"))
      .join(qualifying, col("ok") === col("qok"), "left_semi")
      // (ok, sk) is unique in the evidence table, so the plain count IS
      // the distinct waiting-order count
      .groupBy(col("sk"))
      .agg(count(lit(1)).as("numwait"))
    val named = waiting
      .join(broadcast(supplier.select(col("s_suppkey"), col("s_name"), col("s_nationkey"))),
        col("sk") === col("s_suppkey"))
      .join(broadcast(nation.select(col("n_nationkey"), col("n_name"))),
        col("s_nationkey") === col("n_nationkey"))
    Relational
      .rankedTopK(named, k, col("numwait").desc, col("s_suppkey").asc)
      .select(col("rank"), col("s_suppkey"), col("s_name"), col("n_name"), col("numwait"))
  }

  /** Q22-shaped global sales opportunity: customers with above-average
    * positive account balance and NO order since `inactiveSince`
    * (the fixture's every-customer-orders data makes the spec's
    * "no orders at all" empty, so the anti-join predicate carries the
    * recency cutoff instead — same NOT EXISTS plan shape), grouped by
    * nation. The average-balance scalar broadcasts; the NOT EXISTS is a
    * LEFT ANTI join against the date-filtered orders; balances sum in
    * exact cents and the above-average test is integer
    * cross-multiplication (bal·n > Σbal), so no float mean can flip a
    * boundary customer between engines.
    */
  def globalSalesOpportunity(
      customer: DataFrame,
      orders: DataFrame,
      nation: DataFrame,
      inactiveSince: String = "1999-01-01"): DataFrame = {
    val avgBal = customer
      .filter(col("c_acctbal") > 0)
      .agg(
        sum(expr(Stages.centsSql("c_acctbal"))).as("s_cents"),
        count(lit(1)).as("n_pos"))
    customer
      .crossJoin(broadcast(avgBal))
      .filter(expr(s"${Stages.centsSql("c_acctbal")} * n_pos > s_cents"))
      .join(
        orders.filter(col("o_orderdate") >= lit(inactiveSince).cast("timestamp"))
          .select(col("o_custkey")),
        col("c_custkey") === col("o_custkey"), "left_anti")
      .join(broadcast(nation.select(col("n_nationkey"), col("n_name"))),
        col("c_nationkey") === col("n_nationkey"))
      .groupBy(col("n_name").as("nation"))
      .agg(
        count(lit(1)).cast("long").as("numcust"),
        expr(s"sum(${Stages.centsSql("c_acctbal")})").as("totacctbal_cents"))
  }
}
