package perfbench

import org.apache.spark.sql.SparkSession

import graft.SparkEntry

/** Records the batch_mix roster's expected results on one fixture: row
  * count and content hash per query on stdout (one JSON object), each
  * result as parquet under `outDir/<query>`, and the queries' oracle SQL in
  * `outDir/oracle_sql.json` for `perfbench/record_expected.py` to
  * cross-check against DuckDB.
  *
  * Usage: perfbench.Record <fixtureDir> <outDir>
  */
object Record {
  def main(args: Array[String]): Unit = {
    val Array(dir, out) = args
    val spark = SparkSession.builder().master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir", s"$out/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val results = BatchMix.roster.map { q =>
      val df = SparkEntry.queries(q)(spark, dir)
      val rows = df.collect()
      df.coalesce(1).write.mode("overwrite").parquet(s"$out/$q")
      graft.engine.Caches.freeTransient(spark)
      s"${Json.str(q)}:{\"rows\":${rows.length},\"hash\":${Json.str(BatchMix.contentHash(df.schema.fieldNames, rows))}}"
    }
    val oracle = BatchMix.roster.map(q => s"${Json.str(q)}:${Json.str(SparkEntry.oracleSql(q))}")
    java.nio.file.Files.writeString(java.nio.file.Paths.get(s"$out/oracle_sql.json"), oracle.mkString("{", ",", "}"))
    println(results.mkString("{", ",", "}"))
    spark.stop()
  }
}
