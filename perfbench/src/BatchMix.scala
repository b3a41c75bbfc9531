package perfbench

import scala.util.hashing.MurmurHash3

import org.apache.spark.sql.{Row, SparkSession}

import graft.SparkEntry
import graft.engine.Caches

/** The batch_mix workload: a fixed roster of `SparkEntry.queries`, run over
  * a committed fixture in a seed-chosen order.
  */
object BatchMix {

  /** Queries whose builder (driver-side work inside `queries(q)(spark, dir)`)
    * takes 100 ms or more at sf0.01, because it runs Spark jobs while
    * building the plan: a global rank (`Relational.scalableGlobalRank`),
    * corpus totals, a driver-side power iteration.
    */
  val builderHeavy: Seq[String] = Seq("q_bigram_pmi", "q_global_rank", "q_pca2")

  /** A slow-executing query with a builder under 100 ms. */
  val execHeavy: Seq[String] = Seq("q_tpch_q21")

  /** Batch twins of the six streaming queries: the same RefPipelines
    * operators the stream workloads run.
    */
  val twins: Seq[String] = Seq(
    "q_full_table", "q_abnormal_duration", "q_abnormal_fee",
    "q_hourly_avg_revenue", "q_hourly_trip_count", "q_hourly_count_by_borough")

  val roster: Seq[String] = builderHeavy ++ execHeavy ++ twins

  def order(seed: Long): Seq[String] = new scala.util.Random(seed).shuffle(roster)

  final case class QueryRun(
      name: String,
      ms: Double,
      buildMs: Double,
      rows: Long,
      hash: String,
      phases: Map[String, Double],
      planLines: Int,
      error: Option[String])

  /** Build, plan and collect one query. The three steps are the layers
    * SparkEntry (builder), Catalyst and Exec; each gets a span, and its
    * Spark jobs carry the step in their scope.
    */
  def runQuery(spark: SparkSession, name: String, dir: String, tracer: Tracer, pass: Int): QueryRun = {
    val sc = spark.sparkContext
    val trace = s"$name#$pass"
    val t0 = Clock.nowNs
    var buildMs = 0.0
    val result = tracer("bench.query", trace) { root =>
      try {
        sc.setLocalProperty("perfbench.scope", s"build|$name")
        val df = tracer("SparkEntry.build", trace, root)(_ => SparkEntry.queries(name)(spark, dir))
        buildMs = (Clock.nowNs - t0) / 1e6
        sc.setLocalProperty("perfbench.scope", s"plan|$name")
        val plan = tracer("Catalyst.plan", trace, root)(_ => df.queryExecution.executedPlan)
        sc.setLocalProperty("perfbench.scope", s"exec|$name")
        val rows = tracer("Exec.action", trace, root)(_ => df.collect())
        val phases = df.queryExecution.tracker.phases.map { case (k, v) => k -> v.durationMs.toDouble }
        val lines = if (tracer.on) plan.toString.count(_ == '\n') + 1 else 0
        Right((rows, df.schema.fieldNames, phases, lines))
      } catch {
        case e: Exception => Left(s"${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(200)}")
      } finally sc.setLocalProperty("perfbench.scope", null)
    }
    val ms = (Clock.nowNs - t0) / 1e6
    Caches.freeTransient(spark)
    result match {
      case Right((rows, fields, phases, lines)) =>
        QueryRun(name, ms, buildMs, rows.length, contentHash(fields, rows), phases, lines, None)
      case Left(err) => QueryRun(name, ms, buildMs, 0, "", Map.empty, 0, Some(err))
    }
  }

  /** Order-independent content hash: each row is rendered with its columns
    * sorted by name and doubles at six decimals, hashed to 64 bits, and
    * the row hashes are summed, so equal multisets of rows hash equal.
    */
  def contentHash(fields: Array[String], rows: Array[Row]): String = {
    val cols = fields.zipWithIndex.sortBy(_._1).map(_._2)
    var sum = 0L
    rows.foreach { r =>
      val s = cols.map(i => canon(r.get(i))).mkString("\u001f")
      sum += (MurmurHash3.stringHash(s, 0x5eed).toLong << 32) ^ (MurmurHash3.stringHash(s, 0xbeef) & 0xffffffffL)
    }
    f"$sum%016x"
  }

  private def fmt(d: Double): String =
    if (d.isNaN || d.isInfinite) d.toString
    else { val s = f"$d%.6f"; if (s == "-0.000000") "0.000000" else s }

  private def canon(v: Any): String = v match {
    case null => ""
    case d: Double => fmt(d)
    case f: Float => fmt(f.toDouble)
    case b: java.math.BigDecimal => fmt(b.doubleValue)
    case r: Row => r.toSeq.map(canon).mkString("(", ",", ")")
    case a: Array[Byte] => a.map(x => f"$x%02x").mkString
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => canon(k) + ":" + canon(x) }.sorted.mkString("{", ",", "}")
    case s: scala.collection.Seq[_] => s.map(canon).mkString("[", ",", "]")
    case other => other.toString
  }
}
