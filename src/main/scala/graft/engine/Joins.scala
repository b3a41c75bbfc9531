package graft.engine

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Join utilities for cluster-scale data distributions.
  *
  * The reference has exactly one join (broadcast left, SURVEY.md §2.5),
  * which `RefPipelines` writes inline; these are the shapes a 100 TB
  * pipeline additionally needs, such as salting for skewed keys. AQE's skew-join
  * handling covers sort-merge cases at runtime; explicit salting remains
  * necessary when a single logical key exceeds one task's memory (AQE
  * splits partitions, not keys on the build side of broadcast-ineligible
  * aggregations) and for deterministic plans.
  */
object Joins {

  /** Salted inner equi-join for a skewed LEFT key: the left side gets a
    * random-ish (hash-derived, deterministic) salt in [0, salt), the
    * right side is replicated `salt` times via explode, and the join key
    * becomes (key, salt). One hot key thus spreads over `salt` tasks.
    * Deterministic: the salt comes from hashing a unique column, not
    * rand().
    */
  def saltedJoin(
      left: DataFrame,
      right: DataFrame,
      key: String,
      saltFrom: Column,
      salt: Int): DataFrame = {
    val saltedLeft = left.withColumn("__salt", pmod(xxhash64(saltFrom), lit(salt)).cast("int"))
    val explodedRight = right.withColumn("__salt", explode(array((0 until salt).map(lit): _*)))
    saltedLeft.join(explodedRight, Seq(key, "__salt")).drop("__salt")
  }

  /** LEFT ANTI equi-join — the distributed NOT EXISTS. Only the key
    * column of the right side ships through the shuffle (Catalyst prunes
    * the rest), and a small right side broadcasts automatically.
    */
  def antiJoin(left: DataFrame, right: DataFrame, leftKey: Column, rightKey: Column): DataFrame =
    left.join(right, leftKey === rightKey, "left_anti")

  /** LEFT SEMI equi-join — the distributed EXISTS; same pruning and
    * broadcast behavior as [[antiJoin]], output columns from `left` only.
    */
  def semiJoin(left: DataFrame, right: DataFrame, leftKey: Column, rightKey: Column): DataFrame =
    left.join(right, leftKey === rightKey, "left_semi")

  /** Interval (range) join via time-bucketing: follow-up events by the
    * same key strictly within `(t, t + windowSeconds]` of an anchor
    * event.
    *
    * A naive `a.key = b.key AND b.ts > a.ts AND b.ts <= a.ts + w`
    * predicate gives Catalyst only the equi-key — fine — but at 100 TB
    * the standard hardening is to ALSO bucket time so one hot key's rows
    * don't all meet in one task: anchors map to buckets ⌊t/w⌋ and
    * ⌊t/w⌋+1 (the range spans at most two), candidates to ⌊t/w⌋; the
    * equi-join on (key, bucket) bounds each task's pair work to adjacent
    * buckets, and the exact predicate filters after. Pairs can't
    * duplicate: a candidate has exactly one bucket.
    */
  def followUpsWithin(events: DataFrame, windowSeconds: Long): DataFrame = {
    val w = windowSeconds
    val anchors = events
      .select(
        col("user_id"),
        col("event_id").as("event_a"),
        col("ts").as("ts_a"),
        explode(array(
          expr(Stages.epochBucketSql("ts", w)),
          expr(s"${Stages.epochBucketSql("ts", w)} + 1"))).as("bucket"))
    val candidates = events
      .select(
        col("user_id"),
        col("event_id").as("event_b"),
        col("ts").as("ts_b"),
        expr(Stages.epochBucketSql("ts", w)).as("bucket"))
    anchors
      .join(candidates, Seq("user_id", "bucket"))
      .filter(col("ts_b") > col("ts_a") && col("ts_b") <= col("ts_a") + expr(s"INTERVAL $w SECONDS"))
      .select(
        col("user_id"),
        col("event_a"),
        col("event_b"),
        (expr(Stages.epochBucketSql("ts_b", 1)) - expr(Stages.epochBucketSql("ts_a", 1))).as("gap_seconds"))
  }

  /** Semi-join with an explicit bloom-filter pre-filter — the manual form
    * of Catalyst's runtime-filter injection, for when the dim side is too
    * big to broadcast as a hash table but its KEY SET compresses to a
    * sketch. The filter is built DISTRIBUTED (Spark's native
    * `BloomFilterAggregate` combines per-partition bloom buffers); only
    * the finished ~KB-scale sketch reaches the driver and returns as a
    * literal, so the fact side drops non-matching rows map-side at scan
    * speed — before the join shuffle — and the exact semi-join afterwards
    * removes the sketch's false positives. Net effect at 100 TB: the join
    * shuffles only rows that (almost certainly) match, instead of the
    * whole fact table. Result rows are identical to a plain semi-join
    * (bloom filters have no false negatives).
    */
  def bloomPrefilteredSemiJoin(
      fact: DataFrame,
      dim: DataFrame,
      factKey: Column,
      dimKey: Column,
      expectedDimKeys: Long): DataFrame = {
    import org.apache.spark.sql.graft.ColumnShim
    import org.apache.spark.sql.catalyst.expressions.{BloomFilterMightContain, Literal}
    import org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate
    import org.apache.spark.sql.types.BinaryType
    val bf = dim
      .select(ColumnShim.column(
        new BloomFilterAggregate(ColumnShim.expression(dimKey), expectedDimKeys)
          .toAggregateExpression()).as("bf"))
      .head().getAs[Array[Byte]]("bf")
    val mightContain = ColumnShim.column(
      BloomFilterMightContain(Literal(bf, BinaryType), ColumnShim.expression(factKey)))
    fact.filter(mightContain).join(dim, factKey === dimKey, "left_semi")
  }

  /** Blocked fuzzy entity matching (record linkage): candidate pairs come
    * only from inside a blocking-key equi-join (here: customers in the
    * same nation), then Levenshtein edit distance ≤ `maxDist` verifies
    * each candidate — the classic blocking-then-verify linkage plan.
    * The equi-join on the block key is what makes this survive 100 TB:
    * pairwise edit distance over the full corpus is O(N²·len²); blocking
    * bounds the quadratic term to the largest block (a skewed block gets
    * the [[saltedJoin]] treatment). Levenshtein is the textbook DP in
    * every engine — exact integer output, no parity risk.
    */
  def fuzzyBlockedMatch(customer: DataFrame, maxDist: Int): DataFrame = {
    // the block dimension broadcasts, so the probe side's partitioning is
    // the ONLY parallelism the pair verification gets — repartition it on
    // (block, key): the shuffle moves just the entity table (tiny), the
    // O(block²) Levenshtein work fans out across every core instead of
    // inheriting however few input splits the scan produced. The explicit
    // partition COUNT matters: the shuffle is bytes-tiny, so AQE would
    // coalesce a count-less repartition straight back to one partition —
    // exactly the compute-vs-bytes mismatch AQE can't see
    val parallelism = customer.sparkSession.sparkContext.defaultParallelism
    val a = customer.select(
      col("c_nationkey").as("block"), col("c_custkey").as("cust_a"), col("c_name").as("name_a"))
      .repartition(parallelism, col("block"), col("cust_a"))
    val b = customer.select(
      col("c_nationkey").as("block"), col("c_custkey").as("cust_b"), col("c_name").as("name_b"))
    // the broadcast is HINTED, not left to the size estimate: above the
    // autoBroadcast threshold Spark would instead shuffle `a` by block
    // alone — discarding the explicit repartition and collapsing every
    // block's O(block²) verification onto |blocks| tasks, exactly the
    // degradation the repartition above exists to prevent
    a.join(broadcast(b), Seq("block"))
      .filter(col("cust_a") < col("cust_b"))
      // thresholded levenshtein: banded DP, O(maxDist·len) per pair
      // instead of O(len²), returning -1 past the threshold — the exact
      // distance is only ever computed for pairs that can match
      .withColumn("edit_dist", levenshtein(col("name_a"), col("name_b"), maxDist).cast("long"))
      .filter(col("edit_dist") >= 0 && col("edit_dist") <= maxDist)
      .select(col("block"), col("cust_a"), col("cust_b"), col("edit_dist"))
  }

  /** NOT IN (subquery) — the NULL-AWARE anti-join: unlike NOT EXISTS,
    * a single NULL in the subquery empties the result, so Catalyst
    * plans a null-aware variant (single-column NAAJ broadcasts;
    * `.explain` shows BroadcastHashJoin LeftAnti with the
    * null-aware mark). Written as SQL because NOT IN's three-valued
    * semantics ARE the operator — the DataFrame `left_anti` join is the
    * NOT EXISTS cousin ([[antiJoin]]).
    */
  def notInSubquery(
      spark: org.apache.spark.sql.SparkSession,
      customer: DataFrame,
      supplier: DataFrame,
      minAcctbal: Double = 5000): DataFrame = {
    customer.createOrReplaceTempView("graft_naaj_customer")
    supplier.createOrReplaceTempView("graft_naaj_supplier")
    spark.sql(
      s"""SELECT c_custkey, c_name, c_nationkey FROM graft_naaj_customer
          WHERE c_nationkey NOT IN
            (SELECT s_nationkey FROM graft_naaj_supplier WHERE s_acctbal >= $minAcctbal)""")
  }

  /** FULL OUTER reconciliation of two activity ledgers keyed on the same
    * id domain (orders per customer key vs events per user id): every
    * key from either side survives, absent sides coalesce to zero, and a
    * `side` marker labels the disagreement class — the two-way audit
    * behind "who ordered but never showed up in the event stream".
    * Both inputs pre-aggregate to key-bounded frames BEFORE the join, so
    * the full-outer shuffle moves one row per key, not per fact.
    */
  def fullOuterActivity(orders: DataFrame, events: DataFrame): DataFrame = {
    val o = orders
      .groupBy(col("o_custkey").as("key"))
      .agg(
        count(lit(1)).as("n_orders"),
        sum(expr(Stages.centsSql("o_totalprice"))).as("order_cents"))
    val e = events
      .groupBy(col("user_id").as("key"))
      .agg(count(lit(1)).as("n_events"))
    o.join(e, Seq("key"), "full_outer")
      .select(
        col("key"),
        coalesce(col("n_orders"), lit(0L)).as("n_orders"),
        coalesce(col("order_cents"), lit(0L)).as("order_cents"),
        coalesce(col("n_events"), lit(0L)).as("n_events"),
        when(col("n_orders").isNotNull && col("n_events").isNotNull, lit("both"))
          .when(col("n_orders").isNotNull, lit("orders_only"))
          .otherwise(lit("events_only")).as("side"))
  }
}
