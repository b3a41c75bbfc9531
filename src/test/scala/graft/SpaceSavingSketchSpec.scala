package graft

import scala.util.Random

import org.apache.spark.sql.DataFrame
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.{SpaceSavingAggregator, SpaceSavingBuffer}
import graft.text.TextAnalysis

/** `q_spacesaving` reports the top-k guarantee contract from exact counts
  * (est = f), so its booleans hold by construction. This spec is what
  * guards the sketch: it folds the same bigram stream through the
  * mergeable [[SpaceSavingAggregator]] in chunks joined with `merge`, and
  * requires the candidate count and the three guarantee booleans computed
  * from the merged buffer to equal the query's row.
  */
class SpaceSavingSketchSpec extends AnyFunSuite {
  import SparkTestSession._

  private val k = SpaceSavingAggregator.Capacity

  private def documents(texts: Seq[String]): DataFrame = {
    import spark.implicits._
    texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")
  }

  /** The query's bigram stream, in document order. */
  private def bigrams(texts: Seq[String]): Seq[String] =
    texts.map(_.trim.split("\\s+").toSeq).filter(_.length >= 2)
      .flatMap(_.sliding(2).map(_.mkString(" ")))

  /** Reduce each chunk into its own buffer, then merge the buffers. */
  private def sketch(stream: Seq[String], chunks: Int): SpaceSavingBuffer =
    stream.grouped((stream.length + chunks - 1) / chunks).toSeq
      .map(_.foldLeft(SpaceSavingAggregator.zero)(SpaceSavingAggregator.reduce))
      .reduce(SpaceSavingAggregator.merge)

  private def check(texts: Seq[String], chunks: Int): SpaceSavingBuffer = {
    val stream = bigrams(texts)
    val n = stream.length.toLong
    val exact = stream.groupBy(identity).view.mapValues(_.size.toLong).toMap
    val buf = sketch(stream, chunks)
    val row = TextAnalysis.spaceSavingHeavyHitters(documents(texts)).collect().head
    assert(row.getAs[Long]("k") == k.toLong)
    assert(row.getAs[Long]("n_tokens") == n)
    assert(row.getAs[Long]("n_candidates") == buf.counts.size.toLong)
    assert(row.getAs[Boolean]("est_geq_exact") ==
      buf.counts.forall { case (t, est) => est >= exact(t) })
    assert(row.getAs[Boolean]("overest_within_bound") ==
      buf.counts.forall { case (t, est) => est - exact(t) <= 2 * n / k })
    assert(row.getAs[Boolean]("heavy_all_present") ==
      exact.forall { case (t, f) => f <= 4 * n / k || buf.counts.contains(t) })
    buf
  }

  private def corpus(seed: Int, docs: Int, len: Int)(word: Random => String): Seq[String] = {
    val rnd = new Random(seed)
    Seq.fill(docs)(Seq.fill(len)(word(rnd)).mkString(" "))
  }

  test("heavily skewed bigram stream: the merged sketch tracks every heavy bigram") {
    // half the tokens are "a", so "a a" holds about a quarter of the
    // stream, far above the 4n/k heavy line; the rest spread over 80 words
    val texts = corpus(seed = 11, docs = 120, len = 25) { r =>
      if (r.nextDouble() < 0.5) "a" else s"w${r.nextInt(80)}"
    }
    val buf = check(texts, chunks = 3)
    assert(buf.counts.size == k)
    assert(buf.counts.contains("a a"))
  }

  test("bigram vocabulary smaller than k: every bigram is a candidate") {
    val texts = corpus(seed = 12, docs = 60, len = 12)(r => s"v${r.nextInt(5)}")
    val buf = check(texts, chunks = 2)
    assert(buf.counts.size < k)
    assert(buf.counts.size == bigrams(texts).distinct.size)
  }

  test("bigram vocabulary much larger than k: the sketch fills its k slots") {
    val texts = corpus(seed = 13, docs = 150, len = 20)(r => s"u${r.nextInt(120)}")
    assert(bigrams(texts).distinct.size > 20 * k)
    val buf = check(texts, chunks = 4)
    assert(buf.counts.size == k)
  }
}
