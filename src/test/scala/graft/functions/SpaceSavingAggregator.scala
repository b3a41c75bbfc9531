package graft.functions

import org.apache.spark.sql.{Encoder, Encoders}
import org.apache.spark.sql.expressions.Aggregator

/** Mergeable SpaceSaving heavy-hitter sketch (Metwally et al., adapted to
  * the two-level partial-aggregate shape of Agarwal et al.'s "Mergeable
  * Summaries"): `k` counters per buffer, O(k) state regardless of corpus
  * size — the only top-k that survives 100 TB without a full groupBy.
  *
  * Buffer invariants, preserved by both `reduce` and `merge`:
  *   - for every tracked key x: est(x) ≥ f(x) (estimates never undercount);
  *   - for every ABSENT key x: f(x) ≤ absent-bound, where the bound is
  *     `min(counts)` for a leaf buffer at capacity and the explicit
  *     `bound` field once buffers have been merged (merges ADD the two
  *     absent-bounds — a key missing from both sides has f ≤ b₁+b₂ — and
  *     eviction at the prune raises it to the evicted counter, itself an
  *     overestimate of that key's frequency).
  * The total slack accumulated across any merge tree is O(n/k), so the
  * pinned contract in `q_spacesaving` (overestimate ≤ 2n/k, every key
  * with f > 4n/k tracked) holds at ANY parallelism — the booleans, not
  * the raw counters, are the deterministic output surface.
  *
  * The query reports that contract from exact counts; this sketch is the
  * reference model `SpaceSavingSketchSpec` and `SiegelOaxacaSsSpec` hold
  * the query's row to, at the query's own capacity.
  */
object SpaceSavingAggregator
    extends Aggregator[String, SpaceSavingBuffer, SpaceSavingBuffer] {

  val Capacity: Int = graft.text.TextAnalysis.SpaceSavingCapacity

  override def zero: SpaceSavingBuffer = SpaceSavingBuffer(Map.empty, Map.empty, 0L)

  override def reduce(b: SpaceSavingBuffer, x: String): SpaceSavingBuffer =
    b.counts.get(x) match {
      case Some(c) => b.copy(counts = b.counts.updated(x, c + 1))
      case None if b.counts.size < Capacity =>
        b.copy(counts = b.counts.updated(x, 1L), errs = b.errs.updated(x, 0L))
      case None =>
        // evict the min-count key (key order as tie-break for determinism
        // of the internal state; the output contract is order-free anyway)
        val (mk, mc) = b.counts.minBy { case (key, c) => (c, key) }
        SpaceSavingBuffer(
          b.counts - mk + (x -> (mc + 1)),
          b.errs - mk + (x -> mc),
          math.max(b.bound, mc))
    }

  /** Absent-key frequency upper bound of a buffer. */
  private def absentBound(b: SpaceSavingBuffer): Long =
    if (b.counts.size < Capacity) b.bound
    else math.max(b.bound, b.counts.values.min)

  override def merge(a: SpaceSavingBuffer, b: SpaceSavingBuffer): SpaceSavingBuffer = {
    if (a.counts.isEmpty) return b
    if (b.counts.isEmpty) return a
    val ba = absentBound(a)
    val bb = absentBound(b)
    val keys = a.counts.keySet ++ b.counts.keySet
    val merged = keys.iterator.map { k =>
      val c = a.counts.getOrElse(k, ba) + b.counts.getOrElse(k, bb)
      val e = a.errs.getOrElse(k, ba) + b.errs.getOrElse(k, bb)
      (k, c, e)
    }.toSeq
    val (kept, evicted) = merged.sortBy { case (k, c, _) => (-c, k) }.splitAt(Capacity)
    val evictedMax = if (evicted.isEmpty) 0L else evicted.map(_._2).max
    SpaceSavingBuffer(
      kept.map { case (k, c, _) => k -> c }.toMap,
      kept.map { case (k, _, e) => k -> e }.toMap,
      math.max(ba + bb, evictedMax))
  }

  override def finish(r: SpaceSavingBuffer): SpaceSavingBuffer = r

  override def bufferEncoder: Encoder[SpaceSavingBuffer] = Encoders.product[SpaceSavingBuffer]
  override def outputEncoder: Encoder[SpaceSavingBuffer] = Encoders.product[SpaceSavingBuffer]
}

/** counts: key → overestimated frequency; errs: key → accumulated
  * overestimation ceiling; bound: absent-key frequency ceiling.
  */
case class SpaceSavingBuffer(counts: Map[String, Long], errs: Map[String, Long], bound: Long)
