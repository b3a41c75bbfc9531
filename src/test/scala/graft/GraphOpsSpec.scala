package graft

import scala.util.Random

import org.scalatest.funsuite.AnyFunSuite

import graft.engine.{Graph, Tables}

/** Round-3 graph batch: co-order edge build, degree distribution, and
  * degree-oriented (compact-forward) triangle counting.
  */
class GraphOpsSpec extends AnyFunSuite {
  import SparkTestSession._

  private val sfDir = "/root/testdata/sf0.001"

  private lazy val edges: Set[(Long, Long)] =
    Graph.coOrderEdges(Tables.lineitem(spark, sfDir))
      .collect()
      .map(r => (r.getAs[Long]("pa"), r.getAs[Long]("pb")))
      .toSet

  test("coOrderEdges matches a brute-force basket pairing") {
    val baskets = Tables.lineitem(spark, sfDir)
      .select("l_orderkey", "l_partkey").collect()
      .map(r => (r.getAs[Long]("l_orderkey"), r.getAs[Long]("l_partkey")))
      .distinct
      .groupBy(_._1)
    val expected = baskets.values.flatMap { items =>
      val ps = items.map(_._2).sorted
      for (i <- ps.indices; j <- i + 1 until ps.length) yield (ps(i), ps(j))
    }.toSet
    assert(edges == expected)
  }

  test("degreeDistribution conserves the handshake sum") {
    val dist = Graph.degreeDistribution(Tables.lineitem(spark, sfDir)).collect()
    val handshake = dist.map(r => r.getAs[Long]("degree") * r.getAs[Long]("n_parts")).sum
    assert(handshake == 2L * edges.size)
    assert(dist.map(_.getAs[Long]("n_parts")).sum ==
      edges.flatMap(e => Seq(e._1, e._2)).size)
  }

  test("basketSizeHistogram conserves orders and predicts the pair volume") {
    val li = Tables.lineitem(spark, sfDir)
    val hist = Graph.basketSizeHistogram(li).collect()
      .map(r => r.getAs[Long]("n_items") -> r.getAs[Long]("n_orders"))
    val nOrders = li.select("l_orderkey").distinct().count()
    assert(hist.map(_._2).sum == nOrders)
    // sum over the histogram of C(n,2) equals the weighted co-order pair count
    val predictedPairs = hist.map { case (n, k) => k * n * (n - 1) / 2 }.sum
    val actualPairs = Graph.coOrderEdges(li)
      .agg(org.apache.spark.sql.functions.sum("w")).head.getLong(0)
    assert(predictedPairs == actualPairs)
  }

  test("invertedIndex df/tf match a brute-force token recount") {
    val docs = graft.engine.Tables.documents(spark, sfDir)
    val got = graft.text.TextAnalysis.invertedIndex(docs).collect()
      .map(r => r.getAs[String]("token") ->
        (r.getAs[Long]("df"), r.getAs[Long]("tf"), r.getAs[Long]("first_doc"), r.getAs[Long]("last_doc")))
      .toMap
    val toks = docs.select("doc_id", "text").collect().flatMap { r =>
      r.getAs[String]("text").trim.split("\\s+").map(t => (t, r.getAs[Long]("doc_id")))
    }
    val manual = toks.groupBy(_._1).map { case (t, v) =>
      val ds = v.map(_._2)
      t -> (ds.distinct.length.toLong, ds.length.toLong, ds.min, ds.max)
    }
    assert(got == manual)
  }

  test("associationRules confidence and lift match a brute-force recount") {
    val li = Tables.lineitem(spark, sfDir)
    val got = Graph.associationRules(li, 20).collect().sortBy(_.getAs[Long]("rank"))
    val baskets = li.select("l_orderkey", "l_partkey").collect()
      .map(r => (r.getAs[Long]("l_orderkey"), r.getAs[Long]("l_partkey")))
      .distinct
    val nOrders = baskets.map(_._1).distinct.length.toLong
    val supp = baskets.groupBy(_._2).map { case (p, v) => p -> v.length.toLong }
    val pairW = baskets.groupBy(_._1).values.flatMap { items =>
      val ps = items.map(_._2).sorted
      for (i <- ps.indices; j <- i + 1 until ps.length) yield (ps(i), ps(j))
    }.groupBy(identity).map { case (k, v) => k -> v.size.toLong }
      .filter(_._2 >= 2)
    val rules = pairW.toSeq.flatMap { case ((a, b), w) =>
      Seq((a, b, w), (b, a, w))
    }.map { case (a, b, w) =>
      (a, b, w, supp(a), supp(b),
        w.toDouble / supp(a).toDouble,
        (w * nOrders).toDouble / (supp(a) * supp(b)).toDouble)
    }
    val expected = rules.sortBy { case (a, b, _, _, _, _, lift) => (-lift, a, b) }.take(20)
    val gotTuples = got.map(r => (r.getAs[Long]("ant"), r.getAs[Long]("cons"), r.getAs[Long]("w"),
      r.getAs[Long]("s_ant"), r.getAs[Long]("s_cons"),
      r.getAs[Double]("confidence"), r.getAs[Double]("lift")))
    assert(gotTuples.toSeq == expected)
    // lift is symmetric but confidence is not: the ranked list carries
    // both directions of each pair with distinct confidences
    assert(got.length == 20 && gotTuples.map(_._7).distinct.nonEmpty)
  }

  test("triangleTopK matches brute-force per-node triangle counts on the support-2 graph") {
    val strong = Graph.coOrderEdges(Tables.lineitem(spark, sfDir))
      .filter(org.apache.spark.sql.functions.col("w") >= 2)
      .collect()
      .map(r => (r.getAs[Long]("pa"), r.getAs[Long]("pb")))
      .toSet
    val adj = strong
      .flatMap { case (a, b) => Seq(a -> b, b -> a) }
      .groupBy(_._1).map { case (k, v) => k -> v.map(_._2).toSet }
    val triOf = collection.mutable.Map.empty[Long, Long].withDefaultValue(0L)
    for ((a, b) <- strong; c <- adj(a).intersect(adj(b)) if b < c) {
      // (a<b by edge construction; require b<c for one count per triangle)
      if (a < b) { triOf(a) += 1; triOf(b) += 1; triOf(c) += 1 }
    }
    val expectedTop = triOf.toSeq
      .sortBy { case (p, n) => (-n, p) }
      .take(20)
    val got = Graph.triangleTopK(Tables.lineitem(spark, sfDir), 20).collect()
      .sortBy(_.getAs[Long]("rank"))
      .map(r => (r.getAs[Long]("part"), r.getAs[Long]("n_tri")))
    assert(got.toSeq == expectedTop)
    assert(got.nonEmpty && got.head._2 > 0, "fixture must contain triangles")
  }

  test("componentMinima labels every endpoint with its component's smallest member") {
    // reference: breadth-first search from each node over the symmetric list
    def bfsMinima(edges: Seq[(Long, Long)]): Map[Long, Long] = {
      val adj = edges.flatMap { case (a, b) => Seq(a -> b, b -> a) }.groupMap(_._1)(_._2)
      adj.keys.map { n =>
        val seen = scala.collection.mutable.Set(n)
        var frontier = Seq(n)
        while (frontier.nonEmpty) frontier = frontier.flatMap(adj).filter(seen.add)
        n -> seen.min
      }.toMap
    }
    val rnd = new Random(8)
    val random = Seq.fill(300) {
      val nodes = 1 + rnd.nextInt(40)
      Seq.fill(rnd.nextInt(50))((rnd.nextInt(nodes).toLong, rnd.nextInt(nodes).toLong))
    }
    // a 10-node chain whose every union names the larger id first, and two
    // chains built apart and then joined through their larger ends
    val descendingChain = (9L to 1L by -1L).map(i => (i, i - 1))
    val joinedChains = Seq((7L, 6L), (6L, 5L), (3L, 2L), (2L, 1L), (7L, 3L), (9L, 4L))
    (descendingChain +: joinedChains +: random).foreach { edges =>
      assert(Graph.componentMinima(edges) == bfsMinima(edges), edges)
    }
  }
}
