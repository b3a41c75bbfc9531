package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.engine.{Joins, Tables}

/** Join-utility semantics. */
class EngineUtilSpec extends AnyFunSuite {
  import SparkTestSession._

  test("saltedJoin equals plain join on a skewed key distribution") {
    import spark.implicits._
    // 10k rows all sharing key=1 (max skew) plus a tail
    val left = (1 to 10000).map(i => (1L, i.toLong)).toDF("k", "v")
      .union(Seq((2L, 0L), (3L, 0L)).toDF("k", "v"))
    val right = Seq((1L, "hot"), (2L, "warm"), (3L, "cold")).toDF("k", "name")
    val plain = left.join(right, "k").groupBy("name").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val salted = Joins.saltedJoin(left, right, "k", col("v"), 8).groupBy("name").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(salted == plain)
    assert(salted("hot") == 10000L)
  }

  test("antiJoin/semiJoin partition the left side exactly") {
    val cust = Tables.customer(spark, sfDir)
    val ords = Tables.orders(spark, sfDir).filter(col("o_totalprice") > 300000)
    val anti = Joins.antiJoin(cust, ords, col("c_custkey"), col("o_custkey")).count()
    val semi = Joins.semiJoin(cust, ords, col("c_custkey"), col("o_custkey")).count()
    assert(anti + semi == cust.count())
    assert(anti > 0 && semi > 0)
  }

  test("slidingWindowStats counts each event in exactly window/slide windows") {
    val ev = Tables.events(spark, sfDir)
    val out = graft.engine.Analytics.slidingWindowStats(ev)
    assert(out.agg(sum("n_events")).head.getLong(0) == 2 * ev.count())
    // consecutive window starts differ by the 30-minute slide
    val starts = out.select("ws").orderBy("ws").collect().map(_.getLong(0))
    assert(starts.sliding(2).forall { case Array(a, b) => (b - a) % 1800 == 0 })
  }

  test("cubeStats covers the full grouping lattice") {
    val li = Tables.lineitem(spark, sfDir)
    val cube = graft.engine.Analytics.cubeStats(li).collect()
    val flags = li.select("l_returnflag").distinct().count()
    val stats = li.select("l_linestatus").distinct().count()
    val combos = li.select("l_returnflag", "l_linestatus").distinct().count()
    assert(cube.length == combos + flags + stats + 1)
    val grand = cube.filter(r => r.isNullAt(0) && r.isNullAt(1))
    assert(grand.length == 1 && grand.head.getAs[Long]("n_rows") == li.count())
  }

  test("approxDistinctCheck: sketch lands within tolerance on every group") {
    val out = graft.engine.Relational.approxDistinctCheck(Tables.lineitem(spark, sfDir))
    assert(out.collect().forall(_.getAs[Boolean]("hll_within_tol")))
  }

  test("asOfJoin: latest at-or-before match per key, nulls when no prior row") {
    import spark.implicits._
    import java.sql.Timestamp
    def t(s: String) = Timestamp.valueOf(s)
    val quotes = Seq(
      (1L, t("2024-01-01 10:00:00"), 100.0),
      (1L, t("2024-01-01 11:00:00"), 110.0),
      (2L, t("2024-01-01 10:30:00"), 200.0)).toDF("q_key", "q_time", "price")
    val trades = Seq(
      (1L, 1L, t("2024-01-01 10:30:00")), // between quotes → 100.0
      (2L, 1L, t("2024-01-01 11:00:00")), // exact match → 110.0 (at-or-before)
      (3L, 2L, t("2024-01-01 10:00:00")), // before any quote → null
      (4L, 3L, t("2024-01-01 12:00:00"))) // key with no quotes → null
      .toDF("trade_id", "t_key", "t_time")
    val joined = graft.engine.AsOfJoin
      .leftAsOf(trades, quotes, "t_key", "t_time", "q_key", "q_time")
      .collect().map(r => r.getAs[Long]("trade_id") ->
        Option(r.getAs[java.lang.Double]("price")).map(_.toDouble)).toMap
    assert(joined(1L).contains(100.0))
    assert(joined(2L).contains(110.0))
    assert(joined(3L).isEmpty)
    assert(joined(4L).isEmpty)
  }

  test("asOfJoin: nearest right row travels as a UNIT — a NULL field is not backfilled from an older row") {
    import spark.implicits._
    import java.sql.Timestamp
    def t(s: String) = Timestamp.valueOf(s)
    // nearest quote (11:00) has price=NULL but size=9; the older quote
    // (10:00) has price=5. A per-column fill would fabricate the
    // franken-row (price=5, size=9); row semantics require (NULL, 9).
    val quotes = Seq(
      (1L, t("2024-01-01 10:00:00"), Option(5.0), 7L),
      (1L, t("2024-01-01 11:00:00"), Option.empty[Double], 9L))
      .toDF("q_key", "q_time", "price", "size")
    val trades = Seq((1L, 1L, t("2024-01-01 12:00:00"))).toDF("trade_id", "t_key", "t_time")
    val row = graft.engine.AsOfJoin
      .leftAsOf(trades, quotes, "t_key", "t_time", "q_key", "q_time")
      .collect().head
    assert(row.isNullAt(row.fieldIndex("price")),
      s"price must stay NULL (the matched row's own value), got $row")
    assert(row.getAs[Long]("size") == 9L)
  }

  test("asOfJoin: NULL-time rows never match, on either side or direction") {
    import spark.implicits._
    import java.sql.Timestamp
    def t(s: String) = Timestamp.valueOf(s)
    val quotes = Seq(
      (1L, Option(t("2024-01-01 10:00:00")), 100.0),
      (1L, Option.empty[Timestamp], 999.0)) // undefined time: matches nothing
      .toDF("q_key", "q_time", "price")
    val trades = Seq(
      (1L, 1L, Option(t("2024-01-01 09:00:00"))), // before any quote
      (2L, 1L, Option(t("2024-01-01 11:00:00"))), // after the 10:00 quote
      (3L, 1L, Option.empty[Timestamp])) // undefined time: no match
      .toDF("trade_id", "t_key", "t_time")
    def run(fwd: Boolean) = {
      val f = if (fwd)
        graft.engine.AsOfJoin.leftAsOfForward(trades, quotes, "t_key", "t_time", "q_key", "q_time")
      else
        graft.engine.AsOfJoin.leftAsOf(trades, quotes, "t_key", "t_time", "q_key", "q_time")
      f.collect().map(r => r.getAs[Long]("trade_id") ->
        Option(r.getAs[java.lang.Double]("price")).map(_.toDouble)).toMap
    }
    val back = run(fwd = false)
    assert(back(1L).isEmpty && back(2L).contains(100.0) && back(3L).isEmpty,
      s"backward: NULL-time quote leaked or NULL-time trade matched: $back")
    val fwd = run(fwd = true)
    assert(fwd(1L).contains(100.0) && fwd(2L).isEmpty && fwd(3L).isEmpty,
      s"forward: NULL-time quote leaked or NULL-time trade matched: $fwd")
  }

  test("graft expressions compute their documented values through the Column API") {
    import graft.functions.VectorFunctions._
    def one(c: org.apache.spark.sql.Column) = spark.range(1).select(c).head()
    assert(one(dotProduct(expr("array(1.0d, 2.0d)"), expr("array(3.0d, 4.0d)"))).getDouble(0) == 11.0)
    assert(one(sqDistMilli(expr("array(1L, 5L)"), expr("array(4L, 1L)"))).getLong(0) == 9L + 16L)
    assert(one(dotMilli(expr("array(2L, -3L)"), expr("array(10L, 10L)"))).getLong(0) == -10L)
    val sh = one(simhash64(expr("array('a', 'b', 'a')"))).getLong(0)
    val sh2 = one(simhash64(expr("array('a', 'a', 'b')"))).getLong(0)
    assert(sh == sh2, "simhash must be order-insensitive")
    val mh = one(minhashSignature(expr("array('x', 'y')"), 4)).getSeq[Long](0)
    assert(mh.length == 4)
    assert(mh.forall(v => v >= 0 && v < 2147483647L), "minhash values outside the mod-p family")
    // Empty / all-null shingle input → NULL (never the Long.MaxValue seed):
    // the empty-set signature is undefined, same as DuckDB list_min([]).
    assert(one(minhashSignature(expr("CAST(array() AS ARRAY<STRING>)"), 4)).isNullAt(0))
    assert(one(minhashSignature(expr("array(CAST(NULL AS STRING))"), 4)).isNullAt(0))
    val wn = one(winnow(lit("abcdefghijklmnop"), 8, 4)).getSeq[Long](0)
    assert(wn.nonEmpty && wn == wn.sorted)
    // frame energy: 'abc' in frames of 2 -> [97²+98², 99²]
    assert(one(frameEnergy(lit("abc"), 2)).getSeq[Long](0) == Seq(97L * 97 + 98L * 98, 99L * 99))
    // byte entropy: 'aab' -> 3 bytes, 2 distinct, Σ round(c·ln c·10⁶) for c∈{2,1}
    val be = one(byteEntropyStats(lit("aab"))).getStruct(0)
    assert(be.getLong(0) == 3L && be.getLong(1) == 2L)
    assert(be.getLong(2) == Math.round(2.0 * math.log(2.0) * 1e6))
  }
}
