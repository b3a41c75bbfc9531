package graft
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    // Optional 3rd arg: comma-separated query names — a local spot-check
    // subset (tools/check_oracle.py reads the filtered oracle_sql.json the
    // same way). The driver always passes exactly two args.
    val (sfDir, outDir, only) = args match {
      case Array(a, b)    => (a, b, Option.empty[String])
      case Array(a, b, c) => (a, b, Some(c))
      case _ =>
        System.err.println("usage: Verify <sfDir> <outDir> [q_name,q_name,...]")
        sys.exit(2)
    }
    val selected =
      try SparkEntry.select(only)
      catch { case e: IllegalArgumentException =>
        System.err.println(s"[verify] ${e.getMessage}")
        sys.exit(2)
      }
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    selected
      .foreach { case SparkEntry.QueryDef(name, fn, _) =>
        // Per-query wall time on stderr: the degenerate probe reads the
        // "ok in" lines to flag asymptotic blowups (an O(n²) frame on a
        // 48-row fixture burns minutes while returning correct rows —
        // the gapInterpolate class, which r10 caught only because the
        // sweep visibly hung). The driver parses nothing but outDir.
        val t0 = System.nanoTime()
        try {
          fn(spark, sfDir).coalesce(1).write.mode("overwrite")
            .parquet(s"$outDir/$name")
          System.err.println(f"[verify] $name ok in ${(System.nanoTime() - t0) / 1e9}%.2fs")
        } catch { case e: Throwable =>
          System.err.println(s"[verify] $name failed: ${e.getMessage}")
        }
        graft.engine.Caches.freeTransient(spark) // free per-query transients; pinned views survive
      }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = selected.map(d => s"${q(d.name)}: ${q(d.oracleSql)}").mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
