package graft

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DecimalType, LongType}
import org.scalatest.funsuite.AnyFunSuite

import graft.engine.Stages

/** Property-style tests pinning the shared moment fragments in
  * [[graft.engine.Stages]] to a Scala `Double` model of the same
  * divide-first expression tree: every variance, fit and correlation the
  * oracles compare is one of these texts, so Spark's evaluation must be
  * BIT-identical to the model, and NULL exactly where a CASE/nullif guard
  * says so. Fixed-seed generation keeps failures reproducible.
  */
class MomentFragmentsPropSpec extends AnyFunSuite {
  import MomentFragmentsPropSpec.Sums
  import SparkTestSession._
  import spark.implicits._

  /** Integer (x, y) series: the empty input, n = 1, constant series
    * (both, x only, y only), random series, and two-point series near
    * 2^26 whose sums of squares sit near 2^53.
    */
  private val series: Seq[Seq[(Long, Long)]] = {
    val rnd = new scala.util.Random(61)
    val random = (1 to 40).map { _ =>
      Seq.fill(1 + rnd.nextInt(60))(
        ((rnd.nextInt(20001) - 10000).toLong, (rnd.nextInt(2001) - 1000).toLong))
    }
    val near53 = (1 to 8).map { _ =>
      Seq.fill(2)(((1L << 26) - rnd.nextInt(100), (1L << 26) - rnd.nextInt(100)))
    }
    Seq(
      Seq.empty,
      Seq((7L, -3L)),
      Seq.fill(5)((4L, 9L)),
      Seq.tabulate(6)(i => (3L, i.toLong)),
      Seq.tabulate(6)(i => (i.toLong, -5L))) ++ random ++ near53
  }

  private def sumsOf(s: Seq[(Long, Long)]) = Sums(
    s.size, s.map(_._1).sum, s.map(_._2).sum,
    s.map(p => p._1 * p._2).sum, s.map(p => p._1 * p._1).sum, s.map(p => p._2 * p._2).sum)

  // ---- the Double model: the same IEEE operations in the same order ----
  private def mean(sa: Long, n: Long) = sa.toDouble / n.toDouble
  private def cmom(sab: Long, sa: Long, sb: Long, n: Long) =
    sab.toDouble / n.toDouble - mean(sa, n) * mean(sb, n)
  private def nullIf(isNull: Boolean)(v: => Double) = if (isNull) None else Some(v)

  private def momentStatsModel(s: Sums): Seq[Option[Double]] = {
    val (vx, vy, cv) = (cmom(s.sxx, s.sx, s.sx, s.n), cmom(s.syy, s.sy, s.sy, s.n), cmom(s.sxy, s.sx, s.sy, s.n))
    Seq(Some(mean(s.sx, s.n)), Some(mean(s.sy, s.n)), Some(math.sqrt(vx)), Some(math.sqrt(vy)), Some(cv),
      nullIf(vx * vy == 0)(cv / math.sqrt(vx * vy)))
  }

  private def linregModel(s: Sums): Seq[Option[Double]] = {
    val (vx, vy, cv) = (cmom(s.sxx, s.sx, s.sx, s.n), cmom(s.syy, s.sy, s.sy, s.n), cmom(s.sxy, s.sx, s.sy, s.n))
    val slope = cv / vx
    Seq(
      nullIf(vx == 0)(slope),
      nullIf(vx == 0)(mean(s.sy, s.n) - slope * mean(s.sx, s.n)),
      nullIf(vx * vy == 0)((cv * cv) / (vx * vy)))
  }

  private def sameBits(got: Any, want: Option[Double]): Boolean = (got, want) match {
    case (null, None) => true
    case (g: Double, Some(w)) =>
      java.lang.Double.doubleToLongBits(g) == java.lang.Double.doubleToLongBits(w)
    case _ => false
  }

  private def assertRow(got: Row, want: Seq[Option[Double]], names: Seq[String], ctx: String): Unit =
    names.zip(want).zipWithIndex.foreach { case ((name, w), i) =>
      assert(sameBits(got.get(i), w), s"$ctx $name: spark ${got.get(i)} vs model $w")
    }

  private val data = series.zipWithIndex
    .flatMap { case (s, id) => s.map { case (x, y) => (id, x, y) } }
    .toDF("id", "x", "y")

  /** Per-series sums through [[Stages.bivariateSums]], keyed by series
    * index (the empty series forms no group).
    */
  private lazy val stats = {
    val sums = Stages.bivariateSums(col("x"), col("y"))
    data.groupBy(col("id")).agg(sums.head, sums.tail: _*).cache()
  }

  private def byId(df: org.apache.spark.sql.DataFrame): Map[Int, Row] =
    df.collect().map(r => r.getInt(0) -> Row.fromSeq(r.toSeq.tail)).toMap

  test("cases cover n = 1, constant series and sums near 2^53") {
    val all = series.map(sumsOf)
    assert(all.exists(_.n == 0) && all.exists(_.n == 1))
    assert(all.exists(s => s.n > 1 && cmom(s.sxx, s.sx, s.sx, s.n) == 0))
    assert(all.exists(s => s.n > 1 && cmom(s.syy, s.sy, s.sy, s.n) == 0))
    assert(all.exists(s => s.sxx > (1L << 52) && s.sxx < (1L << 54)))
  }

  test("bivariateSums == the exact integer sums, one group per non-empty series") {
    val got = byId(stats)
    assert(got.size == series.count(_.nonEmpty))
    series.zipWithIndex.filter(_._1.nonEmpty).foreach { case (s, id) =>
      val want = sumsOf(s)
      assert(got(id).toSeq.map(_.asInstanceOf[Long]) ==
        Seq(want.n, want.sx, want.sy, want.sxy, want.sxx, want.syy), s"series $id")
    }
  }

  test("cmomSql, sampleCmomSql and momentStatsSql == the divide-first Double model, bit for bit") {
    val cols = Seq(
      expr(Stages.cmomSql("sxx", "sx", "sx")),
      expr(Stages.cmomSql("sxy", "sx", "sy", Stages.divisorSql(nonZero = false))),
      expr(Stages.sampleCmomSql("syy", "sy", "sy"))) ++
      Stages.momentStatsSql.map { case (_, sql) => expr(sql) }
    val names = Seq("cmom_xx", "cmom_xy", "sample_var_y") ++ Stages.momentStatsSql.map(_._1)
    val got = byId(stats.select(col("id") +: cols: _*))
    series.zipWithIndex.filter(_._1.nonEmpty).foreach { case (s, id) =>
      val m = sumsOf(s)
      val want = Seq(
        Some(cmom(m.sxx, m.sx, m.sx, m.n)),
        Some(cmom(m.sxy, m.sx, m.sy, m.n)),
        nullIf(m.n == 1)((m.syy.toDouble - mean(m.sy, m.n) * m.sy.toDouble) / (m.n - 1).toDouble)) ++
        momentStatsModel(m)
      assertRow(got(id), want, names, s"series $id (n=${m.n})")
    }
  }

  test("zscoreSql per row == the Double model, NULL where the variance is not positive") {
    val perRow = data
      .join(stats.select(col("id"), col("n"), col("sx"), col("sxx")), "id")
      .select(col("id"), col("x"), expr(Stages.zscoreSql))
      .collect()
    assert(perRow.length == series.map(_.size).sum)
    perRow.foreach { r =>
      val m = sumsOf(series(r.getInt(0)))
      val vx = cmom(m.sxx, m.sx, m.sx, m.n)
      val want = nullIf(vx <= 0)((r.getLong(1).toDouble - mean(m.sx, m.n)) / math.sqrt(vx))
      assert(sameBits(r.get(2), want), s"series ${r.getInt(0)} x=${r.getLong(1)}: ${r.get(2)} vs $want")
    }
  }

  test("linregSql == the Double model, and the suffixed text on *_lo columns equals it") {
    val names = Stages.linregSql().map(_._1)
    val lo = stats.select(
      col("id") +: Seq("n", "sx", "sy", "sxy", "sxx", "syy").map(c => col(c).as(s"${c}_lo")): _*)
    val plain = byId(stats.select(col("id") +: Stages.linregSql().map { case (_, sql) => expr(sql) }: _*))
    val suffixed = byId(lo.select(col("id") +: Stages.linregSql("_lo").map { case (_, sql) => expr(sql) }: _*))
    series.zipWithIndex.filter(_._1.nonEmpty).foreach { case (s, id) =>
      val want = linregModel(sumsOf(s))
      assertRow(plain(id), want, names, s"series $id")
      assertRow(suffixed(id), want, names.map(_ + "_lo"), s"series $id")
    }
  }

  test("guarded fragments are NULL on an empty input instead of failing the query") {
    val guarded = Stages.linregSql().map { case (_, sql) => expr(sql) } :+
      expr(Stages.cmomSql("sxy", "sx", "sy"))
    // an ungrouped aggregate over no rows: n = 0 and NULL sums
    val sums = Stages.bivariateSums(col("x"), col("y"))
    val empty = data.filter(lit(false)).agg(sums.head, sums.tail: _*)
    assert(empty.select(guarded: _*).collect().toSeq.map(_.toSeq) == Seq(Seq(null, null, null, null)))
    // a conditional-sum side that matched no row: n = 0 and zero sums
    val zeroSide = Seq((0L, 0L, 0L, 0L, 0L, 0L)).toDF("n", "sx", "sy", "sxy", "sxx", "syy")
    assert(zeroSide.select(guarded: _*).collect().toSeq.map(_.toSeq) == Seq(Seq(null, null, null, null)))
    // grouped: no group, no row, nothing evaluated
    assert(data.filter(lit(false)).groupBy(col("id")).agg(sums.head, sums.tail: _*)
      .select(Stages.momentStatsSql.map { case (_, sql) => expr(sql) }: _*).collect().isEmpty)
  }

  test("momentSums: names choose count, sum and left-first products; wide widens the products") {
    val sums = Stages.momentSums(Map('a' -> col("x"), 'b' -> col("y")), wide = true)(
      "n_rows", "sa", "sba", "sbb")
    val df = data.filter(col("id") === 5).agg(sums.head, sums.tail: _*)
    assert(df.columns.toSeq == Seq("n_rows", "sa", "sba", "sbb"))
    assert(df.schema.map(_.dataType) == Seq(LongType, LongType, DecimalType(38, 0), DecimalType(38, 0)))
    val m = sumsOf(series(5))
    val r = df.collect().head
    assert(r.getLong(0) == m.n && r.getLong(1) == m.sx)
    assert(r.getDecimal(2).longValueExact == m.sxy && r.getDecimal(3).longValueExact == m.syy)
  }
}

object MomentFragmentsPropSpec {
  private final case class Sums(n: Long, sx: Long, sy: Long, sxy: Long, sxx: Long, syy: Long)
}
