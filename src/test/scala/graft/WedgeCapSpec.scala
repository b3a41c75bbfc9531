package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.engine.Graph

/** Round-8: the wedge-center stop cap on the link predictors
  * ([[Graph.MaxWedgeDegree]]) — a degenerate super-hub (degree above the
  * cap) must contribute ZERO wedges (instead of the C(deg, 2) pair
  * blow-up), while ordinary-degree centers keep proposing pairs exactly
  * as before. Mirrors [[StopBucketCapSpec]]'s template for the dedup
  * stop-bucket cap.
  */
class WedgeCapSpec extends AnyFunSuite {
  import SparkTestSession._

  /** A co-order graph with one hub of degree hubDeg (each hub–leaf edge
    * realized as two 2-item orders, clearing the graph's support-2 threshold)
    * plus a 3-node path 31–32–33 whose center has degree 2 — the one
    * legitimate non-adjacent prediction (31, 33).
    */
  private def hubLineitem(hubDeg: Int) = {
    import spark.implicits._
    val hub = (0 until hubDeg).flatMap { i =>
      val leaf = 10001L + i
      Seq(
        (4L * i, 1L), (4L * i, leaf),
        (4L * i + 1, 1L), (4L * i + 1, leaf))
    }
    val base = 8L * hubDeg
    val path = Seq(
      (base, 31L), (base, 32L), (base + 1, 31L), (base + 1, 32L),
      (base + 2, 32L), (base + 3, 33L), (base + 2, 33L), (base + 3, 32L))
    (hub ++ path).toDF("l_orderkey", "l_partkey")
  }

  test("linkPrediction: an over-cap hub center emits no wedges; ordinary centers still predict") {
    val li = hubLineitem(Graph.MaxWedgeDegree + 50)
    val rows = Graph.linkPrediction(li, k = 20).collect()
    // without the cap this graph proposes C(hubDeg, 2) ≈ 8.4M leaf
    // pairs; with it, only the path's (31, 33) survives
    assert(rows.length == 1, s"expected only the path prediction, got ${rows.length} rows")
    assert(rows(0).getAs[Long]("a") == 31L && rows(0).getAs[Long]("b") == 33L)
    assert(rows(0).getAs[Long]("cn") == 1L)
    assert(rows(0).getAs[Double]("jaccard") == 1.0) // 1 / (1 + 1 - 1)
  }

  test("resourceAllocationTopK: an over-cap hub center emits no wedges; RA weight is 1/deg of the surviving center") {
    val li = hubLineitem(Graph.MaxWedgeDegree + 50)
    val rows = Graph.resourceAllocationTopK(li, k = 20).collect()
    assert(rows.length == 1, s"expected only the path prediction, got ${rows.length} rows")
    assert(rows(0).getAs[Long]("a") == 31L && rows(0).getAs[Long]("b") == 33L)
    assert(rows(0).getAs[Long]("ra_micro") == 500000L) // 10^6 div deg(32)=2
  }

  test("below-cap hubs are unaffected (cap does not bind on ordinary graphs)") {
    val li = hubLineitem(8)
    val rows = Graph.linkPrediction(li, k = 100).collect()
    // hub center (deg 8 ≤ cap) proposes all C(8,2) leaf pairs, plus the path pair
    assert(rows.length == 8 * 7 / 2 + 1, s"got ${rows.length} rows")
    assert(rows.exists(r => r.getAs[Long]("a") == 31L && r.getAs[Long]("b") == 33L))
  }
}
