package perfbench

import java.lang.management.ManagementFactory

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.PerfbenchBus
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.{count, sum}
import org.apache.spark.sql.streaming.StreamingQueryProgress

import graft.engine.{Tables, Views}
import graft.streaming.IdempotentParquetSink

/** JVM side of the benchmark; `perfbench/run.py` prepares the inputs and
  * starts it. Prints the result as one JSON line on stdout.
  *
  * Arguments (all `--name value`): workload, seed, seconds, trace (0|1),
  * work (run directory), in (input files), warm (warm-up files), fixture,
  * events-per-file, files-per-trigger, paced-in,
  * paced-events-per-file, paced-warm-ms, baseline (files for the local[1]
  * drain), expected, spans, size.
  */
object Main {
  final class Args(m: Map[String, String]) {
    def apply(k: String): String = m.getOrElse(k, sys.error(s"missing --$k"))
    def int(k: String): Int = apply(k).toInt
    def long(k: String): Long = apply(k).toLong
  }

  private val cpus = Runtime.getRuntime.availableProcessors

  def main(argv: Array[String]): Unit = {
    val a = new Args(argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap)
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime.toDouble
    val traced = a("trace") == "1"
    val tracer = new Tracer(traced)
    val off = new Tracer(false)
    val progress = new ProgressLog
    val exec = new ExecCounters
    var spark: SparkSession = null

    def session(master: String): SparkSession = {
      val s = SparkSession.builder()
        .master(master)
        .config("spark.sql.shuffle.partitions", cpus.toString)
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.parallelismFirst", "false")
        .config("spark.ui.enabled", "false")
        .config("spark.sql.warehouse.dir", s"${a("work")}/warehouse")
        .getOrCreate()
      s.sparkContext.setLogLevel("ERROR")
      s.streams.addListener(progress)
      if (traced) s.sparkContext.addSparkListener(exec)
      s
    }
    def stopSession(): Unit = if (spark != null) {
      Tables.invalidate(spark)
      Views.clear()
      spark.stop()
      spark = null
    }

    val workload = a("workload")
    val w: Workload = workload match {
      case "stream" => new StreamWorkload(a)
      case "batch_mix" => new Batch(a)
      case other => sys.error(s"unknown workload $other")
    }

    // Set-up: from JVM start through session start and the workload's
    // warm-up, to the first timed operation.
    spark = session(s"local[$cpus]")
    phase("session")
    w.warmUp(spark, off)
    val setupS = (Clock.nowWallMs - jvmStartMs) / 1e3
    phase("set-up")
    val load0 = if (traced) loadProbe(spark, a("fixture")) else Nil
    PerfbenchBus.drain(spark.sparkContext)
    progress.reset(); exec.reset(); Recorder.reset()
    Recorder.tracer = tracer
    val gc0 = gcSeconds
    val m = w.measure(spark, tracer, progress, exec, a.long("seconds") * 1000)
    Recorder.tracer = off
    phase("measure")
    PerfbenchBus.drain(spark.sparkContext)
    val checks = w.check(spark)
    val gc1 = gcSeconds
    phase("checks")
    val e2e = mutable.LinkedHashMap[String, (Double, String)]()
    e2e("setup_s") = (setupS, "s")
    e2e ++= m.e2e
    e2e("heap_live_mb") = (liveHeapMb(), "MB")

    val failedChecks = checks.count(!_._2)
    checks.filterNot(_._2).foreach { case (n, _, d) => System.err.println(s"[perfbench] CHECK FAILED: $n $d") }
    val attempted = math.max(1L, m.attempted + checks.size)
    val failed = m.failed + failedChecks

    val metrics: Seq[(String, (Double, String))] =
      if (!traced) e2e.toSeq
      else {
        val pl = mutable.LinkedHashMap[String, (Double, String)]()
        pl ++= m.perLayer
        e2e.foreach { case (k, v) => pl(s"traced.$k") = v }
        val selfMs = tracer.selfMsByLayer
        Seq("bench", "SparkEntry", "Catalyst", "Exec", "StreamRunner", "Sinks").foreach { l =>
          pl(s"self_ms.$l") = (selfMs.getOrElse(l, 0.0) / m.units, "ms")
        }
        val storage = spark.sparkContext.getRDDStorageInfo.map(_.memSize).sum
        pl("Caches.storage_mem_mb") = (storage / 1048576.0, "MB")
        pl("jvm.gc_s") = (gc1 - gc0, "s")
        val load = load0 ++ loadProbe(spark, a("fixture"))
        pl("machine.load_index") = (Stats.pct(load, 50), "s")
        pl("failed_share") = (failed.toDouble / attempted, "share")
        pl("baseline.local1_drain_rows_per_s") = (w match {
          case b: StreamWorkload =>
            stopSession()
            spark = session("local[1]")
            b.baselineRate(spark, off)
          case _ => 0.0
        }, "1/s")
        tracer.writeJsonLines(a("spans"))
        pl.toSeq
      }
    stopSession()
    val body = metrics.map { case (k, (v, u)) =>
      s"${Json.str(k)}:{\"value\":${Json.num(v)},\"unit\":${Json.str(u)}}"
    }.mkString("{", ",", "}")
    println(s"""{"correct":${failed == 0},"attempted":$attempted,"failed":$failed,"metrics":$body}""")
    System.out.flush()
  }

  private val t0 = Clock.nowNs

  /** Progress line on stderr (the run log): which phase ended when. */
  def phase(name: String): Unit =
    System.err.println(f"[perfbench] $name done at ${(Clock.nowNs - t0) / 1e9}%.1f s")

  /** Live heap: the least heap in use over three full collections, spaced
    * so Spark's cleaner can release what the first one made unreachable.
    */
  def liveHeapMb(): Double = Seq.fill(3) {
    System.gc()
    Thread.sleep(100)
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
  }.min

  def gcSeconds: Double =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(b => math.max(0L, b.getCollectionTime)).sum / 1e3

  /** Bench's fixed load probe: one lineitem scan and aggregate, three shots. */
  def loadProbe(spark: SparkSession, fixture: String): Seq[Double] = Seq.fill(3) {
    val t0 = Clock.nowNs
    spark.read.parquet(s"$fixture/lineitem.parquet").groupBy("l_returnflag")
      .agg(sum("l_quantity"), count("*")).collect()
    (Clock.nowNs - t0) / 1e9
  }
}

/** What one measured window produced. Per-layer sums are reported per
  * unit of work (a drain, a paced run, a pass) and, for spans, per `units`.
  */
final case class Measured(
    e2e: Seq[(String, (Double, String))],
    perLayer: Seq[(String, (Double, String))],
    attempted: Long,
    failed: Long,
    units: Double)

trait Workload {
  def warmUp(spark: SparkSession, tracer: Tracer): Unit
  def measure(spark: SparkSession, tracer: Tracer, progress: ProgressLog, exec: ExecCounters, windowMs: Long): Measured
  def check(spark: SparkSession): Seq[(String, Boolean, String)]
}

/** Per-layer figures. The stream layers are reported once per stream phase
  * (`backlog.` and `paced.` prefixes); a workload reports zeros for the
  * layers it does not run, so every run prints the same metrics.
  */
object Layers {
  type M = mutable.LinkedHashMap[String, (Double, String)]

  val batchNames: Seq[(String, String)] =
    Seq("SparkEntry.build_ms" -> "ms", "SparkEntry.build_jobs" -> "count") ++
      Seq("analysis", "optimization", "planning").map(p => s"Catalyst.${p}_ms" -> "ms") ++
      Seq("Catalyst.plan_lines_total" -> "count", "Catalyst.plan_lines_max" -> "count", "Caches.pin_build_s" -> "s",
        "batch.twins_shuffle_write_bytes" -> "B")

  val streamNames: Seq[(String, String)] =
    Seq("EventSource.records_read" -> "count", "EventSource.reads_per_event" -> "ratio",
      "EventSource.input_bytes" -> "B") ++
      Streams.tables.flatMap(t => Seq(s"StreamRunner.$t.epochs" -> "count", s"StreamRunner.$t.trigger_p50_ms" -> "ms")) ++
      Seq("latestOffset", "getBatch", "queryPlanning", "addBatch", "walCommit", "commitOffsets")
        .map(k => s"StreamRunner.${k}_ms" -> "ms") ++
      Seq("StreamRunner.detector_count_ms" -> "ms", "RefPipelines.state_rows_max" -> "count",
        "RefPipelines.state_memory_bytes_max" -> "B", "RefPipelines.state_commit_ms" -> "ms",
        "RefPipelines.state_update_ms" -> "ms", "RefPipelines.rows_dropped_late" -> "count",
        "RefPipelines.shuffle_write_bytes" -> "B") ++
      Streams.tables.map(t => s"Sinks.$t.write_ms" -> "ms") ++
      Seq("Sinks.bytes_written" -> "B", "Sinks.alerts" -> "count", "Sinks.alert_latency_p50_ms" -> "ms")

  val genNames: Seq[(String, String)] =
    Seq("gen.events" -> "count", "gen.lag_max_ms" -> "ms", "gen.backlog_files_max" -> "count")

  def zeros(pl: M, names: Seq[(String, String)], prefix: String = ""): Unit =
    names.foreach { case (k, u) => pl(prefix + k) = (0, u) }

  /** The stream layers' figures for one phase, whose Spark jobs ran in
    * `scope`, from its progress reports and its sink and alert log.
    */
  def stream(pl: M, prefix: String, scope: String, progress: Map[String, Seq[StreamingQueryProgress]],
      exec: ExecCounters, events: Double, units: Double, alertLatency: Seq[Double]): Unit = {
    def all = Streams.tables.flatMap(t => progress.getOrElse(t, Nil))
    def dur(p: StreamingQueryProgress, k: String): Double =
      Option(p.durationMs.get(k)).map(_.doubleValue).getOrElse(0.0)
    def put(k: String, v: Double): Unit = pl(prefix + k) = (v, streamNames.find(_._1 == k).get._2)
    val read = all.map(_.numInputRows.toDouble).sum / units
    put("EventSource.records_read", read)
    put("EventSource.reads_per_event", if (events > 0) read / events else 0)
    put("EventSource.input_bytes", exec.sum(_ == scope)(_.inputBytes) / units)
    Streams.tables.foreach { t =>
      val ps = progress.getOrElse(t, Nil)
      put(s"StreamRunner.$t.epochs", ps.size / units)
      put(s"StreamRunner.$t.trigger_p50_ms", Stats.pct(ps.map(dur(_, "triggerExecution")), 50))
    }
    Seq("latestOffset", "getBatch", "queryPlanning", "addBatch", "walCommit", "commitOffsets").foreach { k =>
      put(s"StreamRunner.${k}_ms", all.map(dur(_, k)).sum / units)
    }
    val writes = Recorder.writes.asScala.toSeq
    def writeMs(t: String) = writes.filter(_.table == t).map(w => (w.endNs - w.startNs) / 1e6).sum
    val detectorAdd = Streams.detectors.toSeq.flatMap(t => progress.getOrElse(t, Nil)).map(dur(_, "addBatch")).sum
    put("StreamRunner.detector_count_ms", (detectorAdd - Streams.detectors.toSeq.map(writeMs).sum) / units)
    val ops = Streams.windowed.flatMap(t => progress.getOrElse(t, Nil)).flatMap(_.stateOperators)
    put("RefPipelines.state_rows_max", ops.map(_.numRowsTotal.toDouble).maxOption.getOrElse(0.0))
    put("RefPipelines.state_memory_bytes_max", ops.map(_.memoryUsedBytes.toDouble).maxOption.getOrElse(0.0))
    put("RefPipelines.state_commit_ms", ops.map(_.commitTimeMs.toDouble).sum / units)
    put("RefPipelines.state_update_ms", ops.map(_.allUpdatesTimeMs.toDouble).sum / units)
    put("RefPipelines.rows_dropped_late", ops.map(_.numRowsDroppedByWatermark.toDouble).sum / units)
    put("RefPipelines.shuffle_write_bytes", exec.sum(_ == scope)(_.shuffleWrite) / units)
    Streams.tables.foreach(t => put(s"Sinks.$t.write_ms", writeMs(t) / units))
    put("Sinks.bytes_written", exec.sum(_ == scope)(_.outputBytes) / units)
    put("Sinks.alerts", Recorder.alerts.size / units)
    put("Sinks.alert_latency_p50_ms", Stats.pct(alertLatency, 50))
  }

  def execCounts(pl: M, exec: ExecCounters, keep: String => Boolean, execMs: Double, units: Double): Unit = {
    val run = exec.sum(keep)(_.runMs).toDouble
    pl("Exec.ms") = (execMs / units, "ms")
    pl("Exec.jobs") = (exec.sum(keep)(_.jobs) / units, "count")
    pl("Exec.stages") = (exec.sum(keep)(_.stages) / units, "count")
    pl("Exec.tasks") = (exec.sum(keep)(_.tasks) / units, "count")
    pl("Exec.run_ms") = (run / units, "ms")
    pl("Exec.parallelism") = (if (execMs > 0) run / execMs else 0, "ratio")
    pl("Exec.shuffle_write_bytes") = (exec.sum(keep)(_.shuffleWrite) / units, "B")
    pl("Exec.spill_bytes") = (exec.sum(keep)(_.spill) / units, "B")
  }

  /** Alert latency: from the due time of the earliest file the alerting
    * epoch consumed to the end of the alert call.
    */
  def alertLatency(run: Streams.Run, due: String => Double): Seq[Double] = {
    val firstDue = Streams.detectors.toSeq.flatMap { t =>
      Streams.fileBatches(s"${run.ckpt}/$t").toSeq.map { case (f, b) => (t, b) -> due(f) }
    }.groupMapReduce(_._1)(_._2)(math.min)
    val Subject = "(\\S+) violations".r
    val Body = "epoch (\\d+):.*".r
    Recorder.alerts.asScala.toSeq.flatMap { al =>
      (al.subject, al.body) match {
        case (Subject(t), Body(e)) => firstDue.get((t, e.toLong)).map(Clock.wallMs(al.endNs) - _)
        case _ => None
      }
    }
  }

  def epochs(progress: Map[String, Seq[StreamingQueryProgress]]): Long =
    Streams.tables.map(t => progress.getOrElse(t, Nil).size.toLong).sum

  /** Sink writes of one run that failed, plus epochs written more than once. */
  def badWrites(): Long = {
    val writes = Recorder.writes.asScala.toSeq
    (writes.count(!_.ok) + writes.groupBy(w => (w.table, w.epoch)).count(_._2.size > 1)).toLong
  }

  /** Progress reports of the given run's queries only. */
  def of(run: Streams.Run, progress: ProgressLog): Map[String, Seq[StreamingQueryProgress]] = {
    val ids = run.queries.map(_.id).toSet
    progress.byQuery.map { case (t, ps) => t -> ps.filter(p => ids(p.id)) }
  }
}

/** The stream workload. Phase one drains, once, a backlog that is present
  * before the queries start, under `Trigger.AvailableNow` into
  * `ParquetSink`: per-row cost. Phase two runs the queries with the default
  * trigger into `IdempotentParquetSink` for the measured window while the
  * open-loop generator (its own process, which `run.py` starts when this
  * prints READY, answering DONE when it exits) publishes small files:
  * per-trigger cost and latency. Throughput comes from phase one, latency
  * from phase two.
  */
final class StreamWorkload(a: Main.Args) extends Workload {
  private val work = a("work")
  private val fixture = a("fixture")
  private val epf = a.int("events-per-file")
  private val pacedEpf = a.int("paced-events-per-file")
  private val backlogFiles = Streams.fileCount(a("in"))
  private val backlogEvents = backlogFiles.toLong * epf
  private var lastDrain: Option[(Streams.Run, Map[(String, Long), Long], Map[String, Seq[StreamingQueryProgress]])] = None
  private var paced: Option[(Streams.Run, Map[(String, Long), Long], Map[String, Seq[StreamingQueryProgress]], Long)] = None

  def warmUp(spark: SparkSession, tracer: Tracer): Unit =
    Streams.drain(spark, a("warm"), s"$work/warm", 1, fixture, "warm", tracer)

  def measure(spark: SparkSession, tracer: Tracer, progress: ProgressLog, exec: ExecCounters, windowMs: Long): Measured = {
    val pl = mutable.LinkedHashMap[String, (Double, String)]()
    Layers.zeros(pl, Layers.batchNames)

    // phase one: one drain of the backlog
    var failed = 0L
    Recorder.reset()
    val drain = Streams.drain(spark, a("in"), s"$work/drain", a.int("files-per-trigger"), fixture, "backlog", tracer)
    val drainStart = Clock.wallMs(drain.startNs)
    failed += Streams.samples(drain, _ => drainStart)._2 + drain.queries.count(_.exception.isDefined) +
      Layers.badWrites()
    PerfbenchBus.drain(spark.sparkContext)
    lastDrain = Some((drain, Streams.writeEnds(), Layers.of(drain, progress)))
    Layers.stream(pl, "backlog.", "backlog", progress.byQuery, exec, backlogEvents, 1,
      Layers.alertLatency(drain, _ => drainStart))
    var attempted = backlogFiles * Streams.tables.size + Layers.epochs(progress.byQuery)

    // phase two: paced
    progress.reset()
    Recorder.reset()
    val (span, started) = Streams.start(spark, a("paced-in"), s"$work/live", new IdempotentParquetSink(_), None,
      None, fixture, "paced", tracer)
    println("READY")
    System.out.flush()
    val done = scala.io.StdIn.readLine()
    require(done != null && done.startsWith("DONE "), s"expected DONE from run.py, got $done")
    val log = new ObjectMapper().readTree(new java.io.File(done.stripPrefix("DONE ")))
    started.queries.foreach(q => try q.processAllAvailable() catch { case _: Exception => failed += 1 })
    started.queries.foreach(q => try q.stop() catch { case _: Exception => failed += 1 })
    tracer.end(span)
    val live = started.copy(endNs = Clock.nowNs)
    PerfbenchBus.drain(spark.sparkContext)
    val gen = log.elements().asScala.toSeq.map(n =>
      (n.get("name").asText, n.get("due_ms").asDouble, n.get("published_ms").asDouble))
    val due = gen.map(g => g._1 -> g._2).toMap
    val measuredFrom = gen.map(_._2).min + a.long("paced-warm-ms")
    val (s, missing) = Streams.samples(live, f => due.getOrElse(f, Double.NaN))
    val measured = s.filter(_.dueMs >= measuredFrom)
    val lat = measured.map(_.ms)
    val tail = Stats.tailPct(lat.size)
    // backlog of the paced phase: files published but not yet through all
    // six queries, sampled at each publication
    val doneAt = s.groupBy(_.file).map { case (f, xs) => f -> xs.map(_.endMs).max }
    val backlogMax = gen.map(_._3).map(t => gen.count(g => g._3 <= t && doneAt.getOrElse(g._1, Double.MaxValue) > t))
    Layers.stream(pl, "paced.", "paced", progress.byQuery, exec, gen.size.toDouble * pacedEpf, 1,
      Layers.alertLatency(live, f => due.getOrElse(f, Double.NaN)))
    failed += missing + Layers.badWrites() + started.queries.count(_.exception.isDefined)
    attempted += Layers.epochs(progress.byQuery) + gen.size * Streams.tables.size
    paced = Some((live, Streams.writeEnds(), progress.byQuery, gen.size.toLong * pacedEpf))

    pl("gen.events") = (backlogEvents + gen.size.toDouble * pacedEpf, "count")
    pl("gen.lag_max_ms") = (gen.map(g => g._3 - g._2).maxOption.getOrElse(0.0), "ms")
    pl("gen.backlog_files_max") = (backlogMax.maxOption.getOrElse(0).toDouble, "count")
    Layers.execCounts(pl, exec, k => k == "backlog" || k == "paced",
      (drain.endNs - drain.startNs + live.endNs - live.startNs) / 1e6, 1)
    pl("samples.latency") = (lat.size.toDouble, "count")
    pl("samples.latency_tail_pct") = (tail, "pct")
    val e2e = Seq(
      "throughput_per_s" -> (backlogEvents / drain.seconds, "1/s"),
      "latency_p50_ms" -> (Stats.pct(lat, 50), "ms"),
      "latency_tail_ms" -> (Stats.pct(lat, tail), "ms"),
      "fanout_latency_p50_ms" -> (Stats.pct(measured.groupBy(_.file).values.map(_.map(_.ms).max).toSeq, 50), "ms"))
    Measured(e2e, pl.toSeq, attempted, failed, 1)
  }

  /** Both phases' checks, run concurrently (they share no state). */
  def check(spark: SparkSession): Seq[(String, Boolean, String)] = {
    import scala.concurrent.{Await, Future}
    import scala.concurrent.ExecutionContext.Implicits.global
    val (drain, drainEnds, drainProgress) = lastDrain.get
    val (live, liveEnds, liveProgress, liveEvents) = paced.get
    val backlog = Future(Streams.check(spark, a("in"), drain, drainEnds, epf, backlogEvents, fixture,
      drainProgress, partitioned = false).map { case (n, ok, d) => (s"backlog: $n", ok, d) })
    val live_ = Future(Streams.check(spark, a("paced-in"), live, liveEnds, pacedEpf, liveEvents, fixture,
      liveProgress, partitioned = true).map { case (n, ok, d) => (s"paced: $n", ok, d) })
    Await.result(backlog.zip(live_), scala.concurrent.duration.Duration.Inf) match { case (x, y) => x ++ y }
  }

  /** Drain the baseline backlog under the session `local[1]` gives. */
  def baselineRate(spark: SparkSession, tracer: Tracer): Double = {
    val n = Streams.fileCount(a("baseline")).toLong * epf
    val run = Streams.drain(spark, a("baseline"), s"$work/baseline", a.int("files-per-trigger"), fixture,
      "baseline", tracer)
    n / run.seconds
  }
}

/** batch_mix: passes over the roster while they fit in the window (at
  * least two), after a warm-up pass over the same fixture.
  */
final class Batch(a: Main.Args) extends Workload {
  private val order = BatchMix.order(a.long("seed"))
  private val expected: Map[String, (Long, String)] = {
    val node = new ObjectMapper().readTree(new java.io.File(a("expected"))).get(a("size"))
    require(node != null, s"no expected results for size ${a("size")}")
    node.fields().asScala.map(e => e.getKey -> (e.getValue.get("rows").asLong, e.getValue.get("hash").asText)).toMap
  }
  private val mismatches = mutable.ArrayBuffer[String]()

  private var pinBuildS = 0.0

  /** One untimed pass over the measured fixture: JIT and codegen warm up,
    * file listings fill and the pinned views are built (and, traced, timed).
    */
  def warmUp(spark: SparkSession, tracer: Tracer): Unit = {
    Views.timeBuilds = a("trace") == "1"
    Views.resetBuildTimer()
    order.foreach(q => BatchMix.runQuery(spark, q, a("fixture"), tracer, 0))
    Views.timeBuilds = false
    pinBuildS = Views.buildSeconds
  }

  def measure(spark: SparkSession, tracer: Tracer, progress: ProgressLog, exec: ExecCounters, windowMs: Long): Measured = {
    val t0 = Clock.nowNs
    val runs = mutable.ArrayBuffer[BatchMix.QueryRun]()
    val passMs, twinMs = mutable.ArrayBuffer[Double]()
    var pass = 0
    // at least two passes: the first after the warm-up still runs slower;
    // another only if it fits in the window, judged by the last
    while (pass < 2 || (Clock.nowNs - t0) / 1e6 + passMs.last <= windowMs) {
      pass += 1
      val rs = order.map(q => BatchMix.runQuery(spark, q, a("fixture"), tracer, pass))
      runs ++= rs
      passMs += rs.map(_.ms).sum
      twinMs += rs.filter(r => BatchMix.twins.contains(r.name)).map(_.ms).sum
    }
    runs.foreach { r =>
      val ok = r.error.isEmpty && expected.get(r.name).contains((r.rows, r.hash))
      if (!ok) mismatches += s"${r.name}: ${r.error.getOrElse(s"rows ${r.rows} hash ${r.hash}, expected ${expected.get(r.name)}")}"
    }
    mismatches.foreach(x => System.err.println(s"[perfbench] batch query failed its check: $x"))
    // a batch result is complete when the roster is: one latency sample per
    // pass (pooling the queries' own times mixes scales ten to one)
    val lat = passMs.toSeq
    val tail = Stats.tailPct(lat.size)
    val e2e = Seq(
      "throughput_per_s" -> (runs.size / (passMs.sum / 1000), "1/s"),
      "latency_p50_ms" -> (Stats.pct(lat, 50), "ms"),
      "latency_tail_ms" -> (Stats.pct(lat, tail), "ms"),
      "fanout_latency_p50_ms" -> (Stats.pct(twinMs.toSeq, 50), "ms"))

    val pl = mutable.LinkedHashMap[String, (Double, String)]()
    val last = runs.takeRight(order.size)
    pl("SparkEntry.build_ms") = (runs.map(_.buildMs).sum / pass, "ms")
    pl("SparkEntry.build_jobs") = (exec.sum(k => k.startsWith("build|"))(_.jobs).toDouble / pass, "count")
    Seq("analysis", "optimization", "planning").foreach { p =>
      pl(s"Catalyst.${p}_ms") = (runs.map(_.phases.getOrElse(p, 0.0)).sum / pass, "ms")
    }
    pl("Catalyst.plan_lines_total") = (last.map(_.planLines).sum.toDouble, "count")
    pl("Catalyst.plan_lines_max") = (last.map(_.planLines).maxOption.getOrElse(0).toDouble, "count")
    pl("Caches.pin_build_s") = (pinBuildS, "s")
    Layers.zeros(pl, Layers.streamNames, "backlog.")
    Layers.zeros(pl, Layers.streamNames, "paced.")
    Layers.zeros(pl, Layers.genNames)
    pl("batch.twins_shuffle_write_bytes") =
      (exec.sum(k => BatchMix.twins.exists(t => k == s"exec|$t"))(_.shuffleWrite).toDouble / pass, "B")
    val execMs = tracer.all.filter(_.name == "Exec.action").map(_.ms).sum
    Layers.execCounts(pl, exec, _.startsWith("exec|"), execMs, pass)
    pl("samples.latency") = (lat.size.toDouble, "count")
    pl("samples.latency_tail_pct") = (tail, "pct")
    Measured(e2e, pl.toSeq, runs.size, mismatches.size, pass)
  }

  def check(spark: SparkSession): Seq[(String, Boolean, String)] = Nil
}
