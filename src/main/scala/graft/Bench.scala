package graft

import org.apache.spark.sql.SparkSession

/** Benchmark main (driver contract): times every SparkEntry query on
  * `SPARK_GRAFT_SF_DIR`, printing ONE JSON line
  * `{"metric":"total","value":N,"unit":"sec","queries":{...},"sf":...}`.
  *
  * An untimed warm-up pass (each query once at sf0.001 + a row-count touch
  * of each target table) precedes the measured pass so timings reflect
  * steady-state execution — JIT-compiled codegen, warm file listings and
  * parquet footers — not first-query session start-up.
  *
  * Each query is evaluated in full: its rows go to Spark's `noop` sink,
  * which computes every output column and writes nothing. A `count()`
  * would let the optimizer prune the windows and aggregates that only
  * feed output columns, so its time could leave out that work.
  */
object Bench {

  /** The `local[cpus]` session the board runs in. [[Explain]] and
    * [[PlanAudit]] build the same one: partition-count-sensitive plan
    * shapes must match the configuration the board actually runs, or an
    * inspection can bless a plan Bench never executes.
    */
  def session(cpus: String): SparkSession =
    SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      // coalesce small post-shuffle stages down to SIZE, not parallelism:
      // with hundreds of sub-second queries the task-launch overhead of 32
      // near-empty reducers per stage outweighs any parallelism they buy
      .config("spark.sql.adaptive.coalescePartitions.parallelismFirst", "false")
      .config("spark.ui.enabled", "false")
      .getOrCreate()

  /** Runs the whole plan of `df`, every output column included. */
  private def evaluate(df: org.apache.spark.sql.DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val warmDir = sys.env.getOrElse("SPARK_GRAFT_WARM_DIR", "/root/testdata/sf0.001")
    // optional comma-separated subset for isolating a query's timing
    // (SPARK_GRAFT_QUERIES=q_a,q_b); unset, every query runs. An unknown
    // name exits before Spark starts.
    val queries =
      try SparkEntry.select(sys.env.get("SPARK_GRAFT_QUERIES"))
        .map(d => d.name -> d.build).toMap
      catch { case e: IllegalArgumentException =>
        System.err.println(s"[bench] SPARK_GRAFT_QUERIES: ${e.getMessage}")
        sys.exit(2)
      }
    val spark = session(cpus)
    spark.sparkContext.setLogLevel("WARN")

    // warm-up: JIT/codegen via a full small-sf pass; file listings + footers
    // for the target scale factor (all untimed)
    queries.foreach { case (_, fn) =>
      try evaluate(fn(spark, warmDir)) catch { case _: Throwable => () }
      graft.engine.Caches.freeTransient(spark) // free per-query transients; pinned views survive
    }
    // one canonical fixture-table list (RewriteFixture.tables) — a copy
    // here would silently skip a new table's warm-up touch, letting the
    // first timed query absorb its cold file-listing/footer cost
    RewriteFixture.tables.foreach { t =>
      try spark.read.parquet(s"$sfDir/$t.parquet").count() catch { case _: Throwable => () }
    }

    // best of two measured passes per query — single-shot timings at this
    // scale carry multi-second machine noise. A failing query still books
    // its time-to-failure (so the pass map stays total) but is RECORDED in
    // `failed` and surfaced on its own JSON line — a crash must never be
    // silently blessed as a normal timing (VERDICT r8 item 3).
    def timedPass(
        failed: scala.collection.mutable.SortedSet[String],
        midHook: () => Unit = () => ()): Map[String, Double] = {
      val mid = queries.size / 2
      var i = 0
      queries.map { case (name, fn) =>
        if (i == mid) midHook()
        i += 1
        val t0 = System.nanoTime()
        try evaluate(fn(spark, sfDir)) catch {
          case t: Throwable =>
            failed += name
            System.err.println(s"[bench] $name FAILED: ${t.getClass.getName}: " +
              String.valueOf(t.getMessage).linesIterator.take(1).mkString.take(300))
        }
        val elapsed = (System.nanoTime() - t0) / 1e9
        graft.engine.Caches.freeTransient(spark) // (untimed) free transients; pinned views survive
        name -> elapsed
      }
    }

    // Load-calibration probe (VERDICT r9 item 2): one FIXED parquet
    // scan + aggregate over lineitem, timed in 3-shot bursts at five
    // points through the board (after warm-up, mid/after each pass).
    // The probe is constant across rounds and machines, so any two
    // committed boards become comparable on one line of arithmetic:
    // divide board totals by the ratio of their load_index medians
    // (normalization rule recorded in BASELINE.md). Untimed relative
    // to query timings — bursts run BETWEEN queries.
    def probeOnce(): Double = {
      val t0 = System.nanoTime()
      spark.read.parquet(s"$sfDir/lineitem.parquet")
        .groupBy("l_returnflag")
        .agg(org.apache.spark.sql.functions.sum("l_quantity"),
          org.apache.spark.sql.functions.count("*"))
        .collect()
      (System.nanoTime() - t0) / 1e9
    }
    val probePhases = scala.collection.mutable.LinkedHashMap.empty[String, Double]
    def probeBurst(phase: String): Unit = {
      val ts = Seq.fill(3)(probeOnce()).sorted
      probePhases(phase) = ts(1) // median of 3
    }

    // Memory attribution for the board (r8): cumulative JVM GC seconds,
    // live heap after a System.gc() settle, and the block manager's
    // cached-storage footprint — printed per pass, so a board-wide
    // timing shift can be attributed (pin residency vs machine drift)
    // with numbers instead of narrative. Untimed: runs between passes.
    def gcSeconds: Double = {
      import scala.jdk.CollectionConverters._
      java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
        .map(b => math.max(0L, b.getCollectionTime)).sum / 1e3
    }
    def memLine(label: String): String = {
      val rdds = spark.sparkContext.getRDDStorageInfo
      val memB = rdds.map(_.memSize).sum
      val dskB = rdds.map(_.diskSize).sum
      System.gc()
      val heap = java.lang.management.ManagementFactory
        .getMemoryMXBean.getHeapMemoryUsage.getUsed
      s"""{"metric":"mem","label":"$label","gc_sec":${f"$gcSeconds%.1f"},""" +
        s""""heap_used_mb":${heap >> 20},"cached_rdds":${rdds.length},""" +
        s""""storage_mem_mb":${memB >> 20},"storage_disk_mb":${dskB >> 20}}"""
    }
    // Pins at sfDir build fresh inside pass 1 and are free in pass 2, so
    // best-of-2 reports warm-index economics; book the build seconds
    // separately (eager materialization inside Views.pinned, Bench-only)
    // so the amortization claim is a measured number.
    graft.engine.Views.resetBuildTimer()
    graft.engine.Views.timeBuilds = true
    val failedP1 = scala.collection.mutable.SortedSet.empty[String]
    val failedP2 = scala.collection.mutable.SortedSet.empty[String]
    val memWarm = memLine("after_warmup")
    probeBurst("after_warmup")
    val p1 = timedPass(failedP1, () => probeBurst("mid_pass1"))
    val memP1 = memLine("after_pass1")
    probeBurst("after_pass1")
    val p2 = timedPass(failedP2, () => probeBurst("mid_pass2"))
    val memP2 = memLine("after_pass2")
    probeBurst("after_pass2")
    graft.engine.Views.timeBuilds = false
    val results = p1.map { case (k, v) => k -> math.min(v, p2(k)) }
    def jmap(m: Map[String, Double]): String =
      m.map { case (k, v) => s"\"" + k + "\":" + v }.mkString("{", ",", "}")
    val qs = jmap(results)
    // The headline total sums CLEAN queries only (ADVICE r9): a query
    // that crashes early would otherwise contribute its time-to-failure
    // and make the total look FASTER on a broken board. Failures stay
    // visible in the `failed` line and the per-query maps; n_failed on
    // the total line keeps the exclusion explicit.
    val failedAll = (failedP1 ++ failedP2).toSet
    val clean = results.view.filterKeys(!failedAll(_)).toMap
    val total = if (clean.nonEmpty) clean.values.sum else 0.0
    // Per-query detail first (its own line — can be large), then a compact
    // summary line LAST so the driver's bounded tail capture always sees a
    // complete, parsable JSON object (round-3 lesson: one ~15 KB line
    // exceeded the driver's ~2 KB tail window → "parsed": null).
    // The raw pass timings ride their own line so tools/bench_diff.py can
    // separate machine noise (|p1−p2| spread) from real per-query change.
    println(s"""{"metric":"per_query_passes","unit":"sec","p1":${jmap(p1)},"p2":${jmap(p2)},"sf":"$sfDir"}""")
    println(memWarm); println(memP1); println(memP2)
    println(s"""{"metric":"per_query","unit":"sec","queries":$qs,"sf":"$sfDir"}""")
    // Failures across the two measured passes (empty list on a clean
    // board): a query that crashes only at this SF is surfaced here, not
    // silently folded into the timings above.
    def jarr(names: Iterable[String]): String =
      names.map("\"" + _ + "\"").mkString("[", ",", "]")
    println(s"""{"metric":"failed","queries":${jarr((failedP1 ++ failedP2).toSeq.sorted)},""" +
      s""""p1":${jarr(failedP1)},"p2":${jarr(failedP2)},"sf":"$sfDir"}""")
    // Per-pin build seconds (tag -> sec), so a pin_build anomaly is
    // attributable to a named pin from this artifact alone.
    val pinDetail = graft.engine.Views.buildDetail.toSeq.sortBy(-_._2)
    println(s"""{"metric":"pin_build_detail","unit":"sec","pins":${
      pinDetail.map { case (k, v) => "\"" + k + "\":" + v }.mkString("{", ",", "}")
    },"sf":"$sfDir"}""")
    println(s"""{"metric":"pin_build","value":${graft.engine.Views.buildSeconds},"unit":"sec","sf":"$sfDir"}""")
    // Per-phase probe medians + the board-level median: the one number
    // two boards divide to normalize away machine load before comparing
    // totals (rule in BASELINE.md "Load-calibration probe").
    val phasesJson = probePhases
      .map { case (k, v) => "\"" + k + "\":" + f"$v%.4f" }.mkString("{", ",", "}")
    val probeMedian = {
      val s = probePhases.values.toSeq.sorted
      if (s.isEmpty) 0.0 else s(s.size / 2)
    }
    println(s"""{"metric":"load_index","value":${f"$probeMedian%.4f"},"unit":"sec","phases":$phasesJson,"sf":"$sfDir"}""")
    println(s"""{"metric":"total","value":$total,"unit":"sec","n_queries":${results.size},"n_failed":${failedAll.size},"sf":"$sfDir"}""")
    spark.stop()
  }
}
