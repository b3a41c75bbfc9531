package graft.engine

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Loaders for the driver fixtures (`/root/testdata/sf*`, see TESTDATA.md).
  *
  * Each table is one parquet file; at cluster scale these would be
  * partitioned directories — the API is identical, and every query in this
  * library reads through here so a swap to a partitioned/bucketed layout is
  * a one-line change.
  */
object Tables {

  // Memoized per (session, dir, table): a DataFrame is an immutable plan,
  // and re-creating it via spark.read.parquet re-lists the path and
  // re-reads the footer for schema every time — measurable pure overhead
  // when hundreds of queries each load a handful of tables. ASSUMES the
  // fixture files under a dir are immutable for the session's lifetime
  // (the driver's are): a caller that REWRITES files under a cached path
  // must call [[invalidate]] first, or later loads reuse the stale
  // captured file listing/schema. Data caching is a separate concern
  // (catalog.clearCache() does not touch this).
  private val planCache =
    new java.util.concurrent.ConcurrentHashMap[(SparkSession, String, String), DataFrame]()

  /** Drop memoized plans — all of a session's entries, or only those under
    * `dir`. Call before re-reading a path whose files were rewritten, and
    * on session teardown in long-lived JVMs (entries pin the SparkSession
    * reference until process exit otherwise).
    */
  def invalidate(spark: SparkSession, dir: Option[String] = None): Unit =
    planCache.keySet.removeIf(k => k._1 == spark && dir.forall(_ == k._2))

  def load(spark: SparkSession, dir: String, name: String): DataFrame =
    planCache.computeIfAbsent((spark, dir, name), { _ =>
      // The events fixture stores TIMESTAMP(NANOS) which Spark's TimestampType
      // (µs) cannot hold; read nanos as long and rebuild below. Set per-session
      // here so every entry point (Verify/Bench/tests/driver smoke) is covered.
      spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
      // Read tz-less parquet timestamps as TIMESTAMP (UTC session) rather than
      // TIMESTAMP_NTZ: NTZ cannot be cast to epoch seconds, and the DuckDB
      // oracle treats them as plain timestamps anyway.
      spark.conf.set("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
      spark.read.parquet(s"$dir/$name.parquet")
    })

  def events(spark: SparkSession, dir: String): DataFrame = microsTs(load(spark, dir, "events"))

  /** Events with `ts` as a µs TIMESTAMP. Under the nanosAsLong conf that
    * [[load]] sets, the fixture's TIMESTAMP(NANOS) `ts` arrives as a
    * nanos-since-epoch long (values are µs-aligned, so `div 1000` is
    * lossless; integer division — a double roundtrip would lose precision
    * above 2^53). Frames whose `ts` is already a timestamp pass unchanged.
    */
  private[graft] def microsTs(raw: DataFrame): DataFrame =
    if (raw.schema("ts").dataType == org.apache.spark.sql.types.LongType)
      raw.withColumn("ts", org.apache.spark.sql.functions.expr("timestamp_micros(ts div 1000)"))
    else raw
  def lineitem(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "lineitem")
  def orders(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "orders")
  def customer(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "customer")
  def supplier(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "supplier")
  def part(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "part")
  def nation(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "nation")
  def region(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "region")
  def documents(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "documents")
  def embeddings(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "embeddings")
}
