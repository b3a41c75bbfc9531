package graft

/** Plan inspector: `runMain graft.Explain <sfDir> [queryName ...]` prints
  * the formatted physical plan of each named query (default: all), in name
  * order. Used to keep plans honest — broadcast where expected, filters
  * pushed to scans, WholeStageCodegen spans wide, no accidental shuffles.
  * The names go through `SparkEntry.select` before Spark starts, so an
  * unknown one fails with `unknown queries: …`.
  */
object Explain {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val names = if (args.length > 1) Some(args.drop(1).mkString(",")) else None
    // name order: expression ids run on across queries in one JVM, so
    // tools/plan_diff.py compares two dumps made in the same order
    val selected = SparkEntry.select(names).sortBy(_.name)
    val spark = Bench.session(sys.env.getOrElse("SPARK_GRAFT_CPUS", "4"))
    spark.sparkContext.setLogLevel("ERROR")
    selected.foreach { d =>
      println(s"\n========== ${d.name} ==========")
      d.build(spark, sfDir).explain("formatted")
      // as in Bench and Verify: a later plan must not read frames an
      // earlier query cached
      graft.engine.Caches.freeTransient(spark)
    }
    spark.stop()
  }
}
