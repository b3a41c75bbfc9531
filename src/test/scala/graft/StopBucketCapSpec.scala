package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.text.Dedup

/** Round-7: the stop-bucket cap on banded candidate generation
  * ([[Dedup.MaxCandidateBucket]]) — a degenerate duplicated-document
  * family ABOVE the cap must emit zero candidates (instead of C(n,2)
  * pair blow-up), while a family BELOW the cap still pairs exactly, and
  * the exact-hash pre-pass still reports the dropped family (the
  * documented composition: exact dedup removes identical-text families
  * BEFORE near-dup detection, so dropping their band buckets costs no
  * recall a production pipeline relies on).
  */
class StopBucketCapSpec extends AnyFunSuite {
  import SparkTestSession._

  // 1100 identical docs (> MaxCandidateBucket = 1024): every band/chunk
  // bucket they form is over the cap. 40 identical docs (≪ cap) from a
  // disjoint vocabulary: their buckets survive and must pair completely.
  private val bigText =
    "alpha beta gamma delta epsilon zeta eta theta iota kappa " +
      "lambda mu nu xi omicron pi rho sigma tau upsilon"
  private val smallText =
    "one two three four five six seven eight nine ten " +
      "eleven twelve thirteen fourteen fifteen sixteen"

  private def docs(bigCopies: Long) = {
    import spark.implicits._
    val big = (0L until bigCopies).map(i => (i, bigText))
    val small = (5000L until 5040L).map(i => (i, smallText))
    (big ++ small).toDF("doc_id", "text")
  }

  private def degenerateDocs() = docs(1100L)

  private val smallPairs = 40 * 39 / 2 // C(40,2)

  test("minhash band buckets above the cap emit no candidates; below-cap families pair completely") {
    val pairs = Dedup.minhashNearDups(degenerateDocs(), minEstJaccard = 0.0).collect()
    assert(pairs.length == smallPairs,
      s"expected C(40,2)=$smallPairs small-family pairs only, got ${pairs.length}")
    assert(pairs.forall(r =>
      r.getAs[Long]("doc_a") >= 5000L && r.getAs[Long]("doc_b") >= 5000L),
      "no candidate may come from the over-cap family")
    assert(pairs.forall(_.getAs[Double]("est_jaccard") == 1.0))
  }

  test("simhash chunk buckets above the cap emit no candidates; below-cap families pair completely") {
    // maxHamming = 3 is the banding's structural ceiling (require-guarded);
    // the families here are byte-identical so every candidate is hamming 0
    val pairs = Dedup.simhashNearDups(degenerateDocs(), maxHamming = 3).collect()
    assert(pairs.length == smallPairs,
      s"expected C(40,2)=$smallPairs small-family pairs only, got ${pairs.length}")
    assert(pairs.forall(r =>
      r.getAs[Long]("doc_a") >= 5000L && r.getAs[Long]("doc_b") >= 5000L))
    assert(pairs.forall(_.getAs[Long]("hamming") == 0L))
  }

  test("exact-hash pre-pass still reports the dropped family (composition)") {
    val sizes = Dedup.exact(degenerateDocs()).collect()
      .map(_.getAs[Long]("n_copies")).sorted.toSeq
    assert(sizes == Seq(40L, 1100L))
  }

  test("stopBucketSweep emits zero rows on an empty corpus (oracle parity)") {
    import spark.implicits._
    val empty = Seq.empty[(Long, String)].toDF("doc_id", "text")
    assert(Dedup.stopBucketSweep(empty).count() == 0L)
  }

  test("incremental screen drops over-cap corpus buckets but still matches below-cap families") {
    // incrementalBestMatch screens about a tenth of the documents against
    // the rest, so the big family needs more copies for its corpus side
    // to stay above the cap
    val copies = 1300L
    val got = Dedup.incrementalBestMatch(docs(copies)).collect()
    val (bigProbes, smallProbes) = got.partition(_.getAs[Long]("new_doc") < 5000L)
    assert(bigProbes.nonEmpty && smallProbes.nonEmpty, "each family needs a probe")
    assert(copies - bigProbes.length > Dedup.MaxCandidateBucket, "the big family's corpus side must exceed the cap")
    assert(bigProbes.forall(_.getAs[Boolean]("admitted")),
      "probes against the over-cap family must be admitted (stop bucket)")
    assert(smallProbes.forall(r => !r.getAs[Boolean]("admitted") && r.getAs[Long]("corpus_doc") >= 5000L),
      "probes against the below-cap family must match it")
  }
}
