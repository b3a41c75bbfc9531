package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.streaming.{StreamingQueryListener, StreamingQueryProgress}

import graft.streaming.{Alerter, BatchSink}

/** Monotonic clock with a wall-clock reading, so JVM timestamps compare
  * with the generator's (a separate process stamping wall-clock ms).
  */
object Clock {
  private val baseMs = System.currentTimeMillis()
  private val baseNs = System.nanoTime()
  def nowNs: Long = System.nanoTime()
  def wallMs(ns: Long): Double = baseMs + (ns - baseNs) / 1e6
  def nowWallMs: Double = wallMs(nowNs)
}

final case class Span(id: Long, parent: Long, trace: String, name: String, startNs: Long, endNs: Long) {
  def layer: String = name.takeWhile(_ != '.')
  def ms: Double = (endNs - startNs) / 1e6
}

/** Spans around the benchmark's own calls into each layer, kept in memory
  * and written as JSON lines at the end. Off in the untraced run, where
  * [[apply]] only runs the body.
  */
final class Tracer(val on: Boolean) {
  private val spans = new ConcurrentLinkedQueue[Span]()
  private val ids = new AtomicLong()

  def apply[T](name: String, trace: String, parent: Long = 0L)(body: Long => T): T =
    if (!on) body(0L)
    else {
      val id = ids.incrementAndGet()
      val t0 = Clock.nowNs
      try body(id) finally spans.add(Span(id, parent, trace, name, t0, Clock.nowNs))
    }

  private val open = new java.util.concurrent.ConcurrentHashMap[Long, Span]()

  /** Open a span that [[end]] closes, for intervals that are not one call. */
  def begin(name: String, trace: String, parent: Long = 0L): Long =
    if (!on) 0L
    else {
      val id = ids.incrementAndGet()
      open.put(id, Span(id, parent, trace, name, Clock.nowNs, 0L))
      id
    }

  def end(id: Long): Unit =
    Option(open.remove(id)).foreach(s => spans.add(s.copy(endNs = Clock.nowNs)))

  def add(name: String, trace: String, parent: Long, startNs: Long, endNs: Long): Unit =
    if (on) spans.add(Span(ids.incrementAndGet(), parent, trace, name, startNs, endNs))

  def all: Seq[Span] = spans.asScala.toSeq

  /** Self time per layer: each span's duration minus the part of its
    * interval that its child spans cover (children may overlap each other,
    * as concurrent sink writes do, so their union is subtracted).
    */
  def selfMsByLayer: Map[String, Double] = {
    val byParent = all.groupBy(_.parent)
    all.map { s =>
      val kids = byParent.getOrElse(s.id, Nil)
        .map(k => (math.max(k.startNs, s.startNs), math.min(k.endNs, s.endNs)))
        .filter { case (a, b) => b > a }
        .sortBy(_._1)
      var covered = 0L
      var (curA, curB) = (Long.MinValue, Long.MinValue)
      kids.foreach { case (a, b) =>
        if (a > curB) { if (curB > curA) covered += curB - curA; curA = a; curB = b }
        else curB = math.max(curB, b)
      }
      if (curB > curA) covered += curB - curA
      s.layer -> (s.endNs - s.startNs - covered) / 1e6
    }.groupMapReduce(_._1)(_._2)(_ + _)
  }

  def writeJsonLines(path: String): Unit = {
    val lines = all.sortBy(_.startNs).map { s =>
      s"""{"id":${s.id},"parent":${s.parent},"trace":${Json.str(s.trace)},"name":${Json.str(s.name)},""" +
        s""""start_ms":${Clock.wallMs(s.startNs)},"end_ms":${Clock.wallMs(s.endNs)}}"""
    }
    java.nio.file.Files.write(java.nio.file.Paths.get(path), lines.asJava)
  }
}

final case class SinkWrite(table: String, epoch: Long, startNs: Long, endNs: Long, ok: Boolean)
final case class AlertCall(subject: String, body: String, startNs: Long, endNs: Long)

/** Log of every sink write and alert. Always on: stream latency is measured
  * from it, so it is part of the measurement, not of the tracing.
  */
object Recorder {
  val writes = new ConcurrentLinkedQueue[SinkWrite]()
  val alerts = new ConcurrentLinkedQueue[AlertCall]()
  @volatile var tracer: Tracer = new Tracer(false)
  @volatile var parentSpan: Long = 0L
  def reset(): Unit = { writes.clear(); alerts.clear() }
}

/** The benchmark's wrapper around the program's [[BatchSink]]. */
final class TimedSink(inner: BatchSink) extends BatchSink {
  def write(df: DataFrame, epochId: Long, table: String): Unit = {
    val t0 = Clock.nowNs
    var ok = false
    try { inner.write(df, epochId, table); ok = true }
    finally {
      val t1 = Clock.nowNs
      Recorder.writes.add(SinkWrite(table, epochId, t0, t1, ok))
      Recorder.tracer.add("Sinks.write", s"$table#$epochId", Recorder.parentSpan, t0, t1)
    }
  }
}

/** The benchmark's wrapper around the program's [[Alerter]]. */
final class TimedAlerter(inner: Alerter) extends Alerter {
  def alert(subject: String, body: String): Unit = {
    val t0 = Clock.nowNs
    try inner.alert(subject, body)
    finally {
      val t1 = Clock.nowNs
      Recorder.alerts.add(AlertCall(subject, body, t0, t1))
      Recorder.tracer.add("Sinks.alert", subject, Recorder.parentSpan, t0, t1)
    }
  }
}

/** Progress reports of every streaming query. Always registered: the output
  * checks read the watermark drop counts from it.
  */
final class ProgressLog extends StreamingQueryListener {
  val progress = new ConcurrentLinkedQueue[StreamingQueryProgress]()
  def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = progress.add(e.progress)
  def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  def byQuery: Map[String, Seq[StreamingQueryProgress]] =
    progress.asScala.toSeq.groupBy(p => Option(p.name).getOrElse(p.id.toString))
  def reset(): Unit = progress.clear()
}

/** Per-scope task counters from Spark's listener bus (traced run only).
  * A job's scope is the `perfbench.scope` local property the benchmark set
  * on the calling thread (stream threads inherit it from `startAll`'s).
  */
final class ExecCounters extends SparkListener {
  final class Acc {
    val jobs, stages, tasks, runMs, shuffleWrite, spill, inputBytes, outputBytes = new AtomicLong()
  }
  private val accs = new java.util.concurrent.ConcurrentHashMap[String, Acc]()
  private val stageScope = new java.util.concurrent.ConcurrentHashMap[Int, String]()
  private def acc(scope: String): Acc = accs.computeIfAbsent(scope, _ => new Acc)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val scope = Option(e.properties).flatMap(p => Option(p.getProperty("perfbench.scope"))).getOrElse("other")
    acc(scope).jobs.incrementAndGet()
    e.stageInfos.foreach(s => stageScope.put(s.stageId, scope))
  }
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    acc(stageScope.getOrDefault(e.stageInfo.stageId, "other")).stages.incrementAndGet()
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val a = acc(stageScope.getOrDefault(e.stageId, "other"))
    a.tasks.incrementAndGet()
    val m = e.taskMetrics
    if (m != null) {
      a.runMs.addAndGet(m.executorRunTime)
      a.shuffleWrite.addAndGet(m.shuffleWriteMetrics.bytesWritten)
      a.spill.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
      a.inputBytes.addAndGet(m.inputMetrics.bytesRead)
      a.outputBytes.addAndGet(m.outputMetrics.bytesWritten)
    }
  }

  /** Sum of a counter over the scopes `keep` accepts. */
  def sum(keep: String => Boolean)(f: Acc => AtomicLong): Long =
    accs.asScala.collect { case (k, a) if keep(k) => f(a).get }.sum
  def reset(): Unit = { accs.clear(); stageScope.clear() }
}

/** Minimal JSON writing. */
object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "0" else if (d == math.rint(d) && math.abs(d) < 1e15) d.toLong.toString else d.toString
}
