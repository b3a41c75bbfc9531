package graft.engine

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Batch source surface (SURVEY.md §2.1). The reference's CSV dimension
  * load (S2) maps to the parquet fixture, read through `Tables.load`; this
  * object holds the sink-format round trip the `q_roundtrip_*` queries run.
  */
object Sources {

  /** Write→read roundtrip proof for a batch sink format: projects
    * documents to (doc_id, md5 hash), writes them through the format's
    * sink, reads them back with an EXPLICIT schema (the library's
    * schema-as-contract rule), and aggregates order-free invariants
    * (row count, id sum, distinct/min/max hash) that must equal the
    * same aggregates over the original table. This is the §2.2 sink
    * surface exercised end-to-end, not just constructed — the oracle
    * checks the invariants against the source table directly, so any
    * corruption in the write or read path breaks the hash match.
    */
  def roundtripAudit(
      spark: SparkSession,
      documents: DataFrame,
      fmt: String): DataFrame = {
    import org.apache.spark.sql.functions._
    // Path is APPLICATION-unique (applicationId): a fixed shared path
    // would let two concurrent processes (a Verify and a Bench run, say)
    // overwrite each other mid-audit — one side's read-back then scans
    // the other's rows, producing FileNotFound or a silently wrong
    // audit. Within one application the path is stable, so repeated
    // calls overwrite in place and disk stays bounded.
    val path = s"${System.getProperty("java.io.tmpdir", "/tmp")}/graft_roundtrip_" +
      s"${spark.sparkContext.applicationId}_$fmt"
    documents
      .select(col("doc_id"), md5(col("text")).as("h"))
      .write.mode("overwrite").option("header", "true").format(fmt).save(path)
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("doc_id", org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("h", org.apache.spark.sql.types.StringType)))
    val back = fmt match {
      case "csv" => spark.read.schema(schema).option("header", "true").csv(path)
      case "json" => spark.read.schema(schema).json(path)
      case other => spark.read.format(other).load(path)
    }
    back.agg(
      count(lit(1)).cast("long").as("n_rows"),
      sum(col("doc_id")).as("sum_ids"),
      countDistinct(col("h")).cast("long").as("n_distinct_h"),
      min(col("h")).as("min_h"),
      max(col("h")).as("max_h"))
  }
}
