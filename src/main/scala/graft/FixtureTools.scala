package graft

import org.apache.spark.sql.SparkSession

/** Rewrites a single-file-per-table fixture directory as N-file parquet —
  * the empirical probe for the known fixture artifact (BASELINE.md):
  * every driver-generated sf parquet is ONE file with ONE row group, so
  * every scan is one task no matter how well the plan parallelizes. A
  * production 100 TB corpus is thousands of splittable files; rewriting
  * the fixture with `repartition(n)` restores that property so the scan
  * parallelism the plans were designed for is measurable on this machine
  * (same rows, same schema — only the file layout changes, so no oracle
  * re-check is needed; bench both layouts with `tools/bench_subset.sh`).
  *
  * Usage: `runMain graft.RewriteFixture <inDir> <outDir> [nFiles=32]`
  */
object RewriteFixture {
  val tables: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings")

  def main(args: Array[String]): Unit = {
    val inDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val outDir = args.lift(1).getOrElse("/tmp/sf-multifile")
    val nFiles = args.lift(2).map(_.toInt).getOrElse(32)
    val spark = SparkSession.builder()
      .master(s"local[${sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")}]")
      .config("spark.sql.shuffle.partitions", nFiles)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    tables.foreach { t =>
      // read through Tables.load, NOT bare spark.read: the fixture stores
      // TIMESTAMP(NANOS) columns that every query reads as LONG nanos
      // (nanosAsLong + no NTZ inference, set there) — a bare read would
      // rewrite them as TIMESTAMP_NTZ and change the read-side schema
      val df = graft.engine.Tables.load(spark, inDir, t)
      df.repartition(nFiles).write.mode("overwrite").parquet(s"$outDir/$t.parquet")
      println(s"rewrote $t -> $outDir/$t.parquet ($nFiles files)")
    }
    spark.stop()
  }
}
