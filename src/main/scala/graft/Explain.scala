package graft

/** Plan inspector: `runMain graft.Explain <sfDir> [queryName ...]` prints
  * the formatted physical plan of each named query (default: all). Used to
  * keep plans honest — broadcast where expected, filters pushed to scans,
  * WholeStageCodegen spans wide, no accidental shuffles.
  */
object Explain {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val names = if (args.length > 1) args.drop(1).toSeq else SparkEntry.queries.keys.toSeq.sorted
    val spark = Bench.session(sys.env.getOrElse("SPARK_GRAFT_CPUS", "4"))
    spark.sparkContext.setLogLevel("ERROR")
    names.foreach { n =>
      println(s"\n========== $n ==========")
      SparkEntry.queries(n)(spark, sfDir).explain("formatted")
      // as in Bench and Verify: a later plan must not read frames an
      // earlier query cached
      graft.engine.Caches.freeTransient(spark)
    }
    spark.stop()
  }
}
