package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.engine.{Analytics, Relational, Tables}

/** Round-3 continuation: Spearman ρ, hash-uniformity GOF, median CI —
  * brute-force recomputation on sf0.001.
  */
class UniformityCISpec extends AnyFunSuite {
  import SparkTestSession._

  test("spearman equals Pearson over tie-averaged ranks") {
    val row = Analytics.spearman(Tables.events(spark, sfDir)).collect().head
    val daily = Tables.events(spark, sfDir)
      .select(expr("CAST(ts AS DATE)").as("d"),
        expr("CAST(round(value * 100) AS BIGINT)").as("c"), col("user_id"))
      .groupBy("d").agg(sum("c").as("x"), countDistinct("user_id").as("y"))
      .collect()
      .map(r => (r.getAs[Long]("x"), r.getAs[Long]("y")))
    def twoRanks(xs: Seq[Long]): Seq[Long] = {
      val sorted = xs.sorted.zipWithIndex
      val minRank = sorted.groupBy(_._1).map { case (v, g) => v -> (g.map(_._2).min + 1L) }
      val cnt = xs.groupBy(identity).map { case (v, g) => v -> g.length.toLong }
      xs.map(v => 2 * minRank(v) + cnt(v) - 1)
    }
    val u = twoRanks(daily.map(_._1).toSeq)
    val v = twoRanks(daily.map(_._2).toSeq)
    val n = daily.length.toLong
    val (su, sv) = (u.sum, v.sum)
    val (suu, svv) = (u.map(a => a * a).sum, v.map(a => a * a).sum)
    val suv = u.zip(v).map { case (a, b) => a * b }.sum
    val rho = (n * suv - su * sv).toDouble /
      math.sqrt((n * suu - su * su).toDouble * (n * svv - sv * sv).toDouble)
    assert(row.getAs[Long]("n") == n)
    assert(math.abs(row.getAs[Double]("rho") - rho) < 1e-12)
  }

  test("hashUniformity chi2 and KS match the 256-bucket simulation") {
    val row = Relational.hashUniformity(Tables.events(spark, sfDir)).collect().head
    val md = java.security.MessageDigest.getInstance("MD5")
    val buckets = Tables.events(spark, sfDir).select(col("user_id")).collect()
      .map { r =>
        val hex = md.digest(r.getAs[Long]("user_id").toString.getBytes("UTF-8"))
          .map("%02x".format(_)).mkString
        md.reset()
        java.lang.Long.parseLong(hex.substring(0, 8), 16) % 256
      }
    val o = Array.fill(256)(0L)
    buckets.foreach(b => o(b.toInt) += 1)
    val n = buckets.length.toLong
    val sumsq = o.map(c => c * c).sum
    val chi2 = (256.0 * sumsq - n.toDouble * n) / n
    var cum = 0L
    var ksNum = 0L
    for (b <- 0 until 256) {
      cum += o(b)
      ksNum = math.max(ksNum, math.abs(256 * cum - n * (b + 1)))
    }
    assert(row.getAs[Long]("n") == n)
    assert(row.getAs[Long]("n_buckets_used") == o.count(_ > 0).toLong)
    assert(math.abs(row.getAs[Double]("chi2") - chi2) < 1e-9)
    assert(row.getAs[Double]("ks_d") == ksNum.toDouble / (256.0 * n))
  }

  test("medianCI brackets come from the exact order statistics") {
    val got = Analytics.medianCI(Tables.events(spark, sfDir)).collect()
    val rows = Tables.events(spark, sfDir)
      .select(col("event_type"), col("event_id"), expr("CAST(round(value * 100) AS BIGINT)").as("c"))
      .collect()
      .map(r => (r.getAs[String]("event_type"), r.getAs[Long]("event_id"), r.getAs[Long]("c")))
    val byType = rows.groupBy(_._1)
    assert(got.map(_.getAs[String]("event_type")).toSet == byType.keySet)
    got.foreach { r =>
      val t = r.getAs[String]("event_type")
      val sorted = byType(t).sortBy(x => (x._3, x._2)).map(_._3)
      val n = sorted.length.toLong
      val lo = math.max(1L, math.floor((n - 1.96 * math.sqrt(n.toDouble)) / 2.0).toLong)
      val hi = math.min(n, math.ceil((n + 2.0 + 1.96 * math.sqrt(n.toDouble)) / 2.0).toLong)
      assert(r.getAs[Long]("n") == n)
      assert(r.getAs[Long]("lo_rank") == lo)
      assert(r.getAs[Long]("hi_rank") == hi)
      assert(r.getAs[Long]("lo_cents") == sorted((lo - 1).toInt))
      assert(r.getAs[Long]("hi_cents") == sorted((hi - 1).toInt))
      assert(r.getAs[Long]("lo_cents") <= r.getAs[Long]("hi_cents"))
    }
  }

  test("medianCI's median skips NULL values, as percentile does") {
    import spark.implicits._
    // NULL values inside non-NULL types, up to a whole type of them
    val rnd = new scala.util.Random(61)
    val events = (Seq("a", "b", "c").flatMap { t =>
      Seq.fill(1 + rnd.nextInt(20))(t -> (if (rnd.nextInt(3) == 0) None else Some((rnd.nextInt(11) - 5) * 0.5)))
    } ++ Seq("d" -> None, "d" -> None)).toDF("event_type", "value")
    val got = Analytics.medianCI(events).collect()
      .map(r => r.getAs[String]("event_type") -> Option(r.getAs[java.lang.Double]("median_cents")))
    val want = events
      .groupBy(col("event_type"))
      .agg(expr("percentile(CAST(round(value * 100) AS BIGINT), 0.5)").as("m"))
      .collect()
      .map(r => r.getString(0) -> Option(r.getAs[java.lang.Double]("m")))
    assert(got.toMap == want.toMap)
  }
}
