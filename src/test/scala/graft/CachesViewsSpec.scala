package graft

import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel
import org.scalatest.funsuite.AnyFunSuite

import graft.engine.{Caches, Tables, Views}
import graft.engine.Caches.CacheOps
import graft.text.{Dedup, TextAnalysis}
import graft.similarity.Similarity

/** Cache governance: transient operator caches die on the per-query
  * sweep; pinned materialized views survive it and are reused across
  * queries (the co-order edge list / shingle-table contract the bench
  * relies on).
  */
class CachesViewsSpec extends AnyFunSuite {
  import SparkTestSession._

  test("freeTransient unpersists cacheT frames but leaves pinned views cached") {
    val t = Tables.nation(spark, sfDir).select(col("n_nationkey")).cacheT()
    t.count()
    assert(t.storageLevel != StorageLevel.NONE, "transient should be cached before the sweep")

    val pinned = Views.pinned(Tables.nation(spark, sfDir), "spec-pin")(
      _.select(col("n_nationkey"), col("n_regionkey")))
    pinned.count()
    assert(pinned.storageLevel != StorageLevel.NONE, "pin should be cached")

    Caches.freeTransient(spark)
    assert(t.storageLevel == StorageLevel.NONE, "transient must be freed by the sweep")
    assert(pinned.storageLevel != StorageLevel.NONE, "pin must survive the sweep")
  }

  test("pinned returns the SAME materialized frame per (session, input, tag)") {
    val a = Views.pinned(Tables.region(spark, sfDir), "spec-same")(_.select(col("r_regionkey")))
    val b = Views.pinned(Tables.region(spark, sfDir), "spec-same")(_.select(col("r_regionkey")))
    assert(a eq b, "same key must memoize to one frame")
    val other = Views.pinned(Tables.region(spark, sfDir), "spec-other")(_.select(col("r_regionkey")))
    assert(!(a eq other), "a different tag is a different view")
  }

  test("shared views produce identical results on cold and pinned paths") {
    // First call materializes, second reuses the pin — results must match.
    val docs = Tables.documents(spark, sfDir)
    val cold = Dedup.ngramJaccard(docs, 0.5).collect().toSet
    val warm = Dedup.ngramJaccard(docs, 0.5).collect().toSet
    assert(cold == warm && cold.nonEmpty)
    val e1 = graft.engine.Graph.coOrderEdges(Tables.lineitem(spark, sfDir)).count()
    val e2 = graft.engine.Graph.coOrderEdges(Tables.lineitem(spark, sfDir)).count()
    assert(e1 == e2 && e1 > 0)
  }

  test("budgetCut keeps within budget and prefers higher quality") {
    val out = TextAnalysis.budgetCut(Tables.documents(spark, sfDir)).collect()
    val totalTokens = out.map(_.getAs[Long]("total_tokens")).sum
    val keptTokens = out.map(_.getAs[Long]("kept_tokens")).sum
    assert(keptTokens <= totalTokens / 2, "kept tokens must respect the half-corpus budget")
    assert(keptTokens > 0, "budget must buy something")
    out.foreach { r =>
      assert(r.getAs[Long]("kept_docs") <= r.getAs[Long]("n_docs"))
      assert(r.getAs[Long]("kept_tokens") <= r.getAs[Long]("total_tokens"))
    }
  }

  test("bitextMine pairs are mutual top-1 within their IVF cell with nonneg margin vs runner-up") {
    val docs = Tables.documents(spark, sfDir)
    val emb = Tables.embeddings(spark, sfDir)
    val out = Similarity.bitextMine(emb, docs).collect()
    assert(out.nonEmpty, "mutual pairs must exist on the fixture")
    // Driver brute force: recompute cells and cosines exactly.
    val cs = Similarity.centroids(8, 64)
    val langs = docs.select("doc_id", "lang").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    val vecs = emb.select("vec_id", "embedding").collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).map(_.toDouble).toArray).toMap
    def cell(v: Array[Double]): Int = {
      val vv = v.map(x => x * x).sum
      val d = cs.map(c => vv - 2 * v.zip(c).map { case (a, b) => a * b }.sum + c.map(x => x * x).sum)
      d.indexOf(d.min)
    }
    def cos(a: Array[Double], b: Array[Double]): Double = {
      val dot = a.zip(b).map { case (x, y) => x * y }.sum
      dot / (math.sqrt(a.map(x => x * x).sum) * math.sqrt(b.map(x => x * x).sum))
    }
    val byCell = vecs.toSeq.groupBy { case (id, v) => cell(v) }
    out.foreach { r =>
      val s = r.getAs[Long]("src_id"); val t = r.getAs[Long]("tgt_id")
      assert(langs(s) == "en" && langs(t) == "fr")
      val c = cell(vecs(s))
      assert(cell(vecs(t)) == c, "pair must share a cell")
      val enC = byCell(c).filter(p => langs(p._1) == "en")
      val frC = byCell(c).filter(p => langs(p._1) == "fr")
      // mutual top-1 (ties by id — mirror the engine's tie-break)
      val bestFr = frC.map(p => (cos(vecs(s), p._2), p._1)).minBy(x => (-x._1, x._2))
      val bestEn = enC.map(p => (cos(vecs(t), p._2), p._1)).minBy(x => (-x._1, x._2))
      assert(bestFr._2 == t, s"src $s top-1 must be $t")
      assert(bestEn._2 == s, s"tgt $t top-1 must be $s")
      if (frC.size > 1) assert(r.getAs[Double]("margin") >= -1e-9, "margin vs runner-up is nonnegative")
    }
  }
}
