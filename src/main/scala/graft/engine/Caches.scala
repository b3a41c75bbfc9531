package graft.engine

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Session cache governance: TRANSIENT operator caches vs PINNED
  * materialized views.
  *
  * Operators cache intermediates that their returned (lazy) plan still
  * references — the operator cannot unpersist them itself, so the
  * harness must free them after each query or 478 queries of entries
  * accumulate. But a blanket `spark.catalog.clearCache()` also evicts
  * deliberately session-scoped materialized views (the co-order edge
  * list ~18 graph queries share — [[Graph.coOrderEdges]]), forcing
  * every query to re-pay the build.
  *
  * The split: operators mark per-query caches with [[CacheOps.cacheT]]
  * (cache + register in a session-keyed transient list); long-lived
  * views persist directly and stay out of the list. The harness calls
  * [[Caches.freeTransient]] between queries — transients are
  * unpersisted and forgotten, pins survive. At 100 TB the same split
  * holds: transients are bounded per-query working sets, pins are the
  * views a production deployment would materialize once per corpus
  * snapshot.
  */
object Caches {

  private val transients =
    new java.util.concurrent.ConcurrentHashMap[
      SparkSession, java.util.concurrent.ConcurrentLinkedQueue[DataFrame]]

  private def registerTransient(df: DataFrame): DataFrame = {
    transients
      .computeIfAbsent(df.sparkSession, _ => new java.util.concurrent.ConcurrentLinkedQueue[DataFrame])
      .add(df)
    df
  }

  /** Unpersist every transient cached by this session's operators since
    * the last sweep. Pinned materialized views are untouched.
    */
  def freeTransient(spark: SparkSession): Unit = {
    val q = transients.remove(spark)
    if (q != null) q.forEach(df => df.unpersist(blocking = false))
  }

  /** Implicit syntax: `df.cacheT()` = cache + register as transient. */
  implicit class CacheOps(private val df: DataFrame) extends AnyVal {
    def cacheT(): DataFrame = registerTransient(df.cache())
  }
}

/** Session-scoped PINNED materialized views — the derived tables many
  * queries share (co-order edge list, shingle sets, MinHash signature
  * table). Keyed by (session, canonicalized input plan, tag): the same
  * memoized source frame hits deterministically, a different input
  * (other SF dir, test fixture) builds its own entry. `MEMORY_AND_DISK`
  * so an oversized view spills instead of evicting or OOMing; a
  * production deployment writes the same views to parquet once per
  * corpus snapshot — the session pin is the single-process analog.
  * Survives [[Caches.freeTransient]] by construction (never registered
  * as transient).
  */
object Views {

  private val pins =
    new java.util.concurrent.ConcurrentHashMap[
      (SparkSession, org.apache.spark.sql.catalyst.plans.logical.LogicalPlan, String),
      DataFrame]

  def pinned(input: DataFrame, tag: String)(build: DataFrame => DataFrame): DataFrame = {
    val key = (input.sparkSession, input.queryExecution.logical.canonicalized, tag)
    val existing = pins.get(key)
    if (existing != null) return existing
    // Build OUTSIDE the map lock: views compose (signatures build on the
    // shingle view), and a nested computeIfAbsent on one ConcurrentHashMap
    // throws "Recursive update". The putIfAbsent race is benign — persist
    // is lazy, so a losing duplicate unpins without ever materializing.
    val built = build(input).persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val raced = pins.putIfAbsent(key, built)
    if (raced != null) { built.unpersist(); raced }
    else {
      // Opt-in (Bench only) build-cost accounting: materialize the fresh
      // pin eagerly and book the wall seconds, so the "pins amortize"
      // claim is a measured number instead of a best-of-2 blind spot.
      // Lazy by default — PlanAudit/Verify/tests build plans without
      // executing, and must keep doing so.
      if (timeBuilds) {
        val t0 = System.nanoTime()
        built.count()
        buildNanosByTag
          .computeIfAbsent(tag, _ => new java.util.concurrent.atomic.AtomicLong(0L))
          .addAndGet(System.nanoTime() - t0)
      }
      built
    }
  }

  /** When true, [[pinned]] materializes fresh pins eagerly and books the
    * build seconds PER PIN TAG into [[buildDetail]] (aggregate in
    * [[buildSeconds]]). Set ONLY by Bench. Per-tag booking exists so a
    * `pin_build` anomaly in a committed bench artifact is attributable
    * to a NAMED pin without a re-run (round-8 lesson: one aggregate
    * number cost a full independent bench to adjudicate a 109.6 s vs
    * ~40 s driver-vs-local spread). A tag that builds for multiple
    * distinct inputs (e.g. a test fixture alongside the bench SF dir)
    * accumulates into one entry — by design, it is the tag's total
    * build bill for the process.
    */
  @volatile var timeBuilds: Boolean = false
  private val buildNanosByTag =
    new java.util.concurrent.ConcurrentHashMap[String, java.util.concurrent.atomic.AtomicLong]
  def buildSeconds: Double = {
    var total = 0L
    buildNanosByTag.values.forEach(n => total += n.get)
    total / 1e9
  }
  /** Per-tag build seconds booked since the last [[resetBuildTimer]]. */
  def buildDetail: Map[String, Double] = {
    val out = Map.newBuilder[String, Double]
    buildNanosByTag.forEach((tag, n) => out += tag -> n.get / 1e9)
    out.result()
  }
  def resetBuildTimer(): Unit = buildNanosByTag.clear()

  /** Unpersist and forget every pinned view (all sessions). */
  def clear(): Unit = {
    pins.values.forEach(df => df.unpersist())
    pins.clear()
  }
}
