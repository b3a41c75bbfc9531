package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

import graft.engine.Stages

/** Custom stateful streaming operators
  * (`KeyValueGroupedDataset.flatMapGroupsWithState`) — the Structured
  * Streaming escape hatch for state machines the built-in windowed
  * aggregations can't express.
  *
  * State lives in the state store (checkpointed, partitioned by key), so
  * this scales with the key cardinality across executors; the timeout
  * bounds state size — both prerequisites at 100 TB.
  */
object Stateful {

  case class SessionInput(user_id: Long, ts: Timestamp, value: Double)
  case class SessionState(start: Long, lastSeen: Long, events: Long, total: Double)
  case class SessionOutput(
      user_id: Long,
      session_start: Timestamp,
      session_end: Timestamp,
      n_events: Long,
      total_value: Double)

  /** Event-time sessionization with an inactivity gap: a user's session
    * closes once the event-time watermark passes lastSeen + gap, emitting
    * one summary row (append semantics). The built-in
    * `session_window` covers plain gap-sessions; this keeps running
    * custom state (count + sum here; arbitrary in general) and is the
    * template for fraud/funnel/state-machine operators.
    */
  def sessionize(
      spark: SparkSession,
      events: DataFrame,
      gapMinutes: Int,
      watermarkDelay: String = "60 minutes"): Dataset[SessionOutput] = {
    import spark.implicits._
    val gapMs = gapMinutes * 60L * 1000L

    def update(
        userId: Long,
        rows: Iterator[SessionInput],
        state: GroupState[SessionState]): Iterator[SessionOutput] = {
      if (state.hasTimedOut) {
        val s = state.get
        state.remove()
        Iterator(SessionOutput(userId, new Timestamp(s.start), new Timestamp(s.lastSeen), s.events, s.total))
      } else {
        val sorted = rows.toSeq.sortBy(_.ts.getTime)
        var closed = List.empty[SessionOutput]
        var cur = state.getOption
        // Stragglers older than the open session's gap horizon belong to
        // an EARLIER (already emitted or never seen) session, which
        // cannot be reopened under append semantics. They are in hand
        // within this micro-batch though, so CONSECUTIVE below-horizon
        // stragglers within gap of each other accumulate into one
        // pending old session (they arrive sorted ascending) instead of
        // each emitting a singleton; the pending session closes when a
        // gap opens or a non-straggler row arrives. Documented
        // limitations: the pending session never retro-merges into an
        // ALREADY-EMITTED session, nor into the open session even when
        // within gap of its (backward-extended) start — exact retro-merge
        // would need multi-session state per key.
        var pendingOld: Option[SessionState] = None
        // no-op when nothing is pending — safe to call from any branch
        def closePending(): Unit = pendingOld.foreach { p =>
          closed ::= SessionOutput(
            userId, new Timestamp(p.start), new Timestamp(p.lastSeen), p.events, p.total)
          pendingOld = None
        }
        sorted.foreach { r =>
          val t = r.ts.getTime
          cur match {
            case Some(s) if t < s.start - gapMs =>
              pendingOld match {
                case Some(p) if t - p.lastSeen <= gapMs =>
                  pendingOld = Some(SessionState(p.start, t, p.events + 1, p.total + r.value))
                case _ =>
                  closePending()
                  pendingOld = Some(SessionState(t, t, 1, r.value))
              }
            // in-gap on either side: late events inside the horizon
            // extend session_start BACKWARD, in-order ones extend lastSeen
            case Some(s) if t - s.lastSeen <= gapMs =>
              closePending()
              cur = Some(SessionState(
                math.min(s.start, t), math.max(s.lastSeen, t), s.events + 1, s.total + r.value))
            case Some(s) =>
              closePending()
              closed ::= SessionOutput(userId, new Timestamp(s.start), new Timestamp(s.lastSeen), s.events, s.total)
              cur = Some(SessionState(t, t, 1, r.value))
            case None =>
              // pendingOld is necessarily empty here: stragglers only
              // accumulate against an open session, and cur never
              // reverts from Some to None
              cur = Some(SessionState(t, t, 1, r.value))
          }
        }
        closePending()
        cur.foreach { s =>
          state.update(s)
          // Clamp the timeout STRICTLY above the eviction watermark, or
          // GroupStateImpl throws — and via checkpointed offset replay a
          // throw here poison-pills the query permanently. The raw
          // lastSeen + gap CAN fall behind it: Spark 4 admits input rows
          // against the LATE-EVENTS watermark (the previous batch's —
          // FlatMapGroupsWithStateExecBase filters with
          // watermarkPredicateForDataForLateEvents) but validates
          // timeouts against the EVICTION watermark (this batch's — the
          // InputProcessor builds GroupStateImpl from
          // eventTimeWatermarkForEviction), and one cross-key burst can
          // advance the latter past an open session's whole horizon
          // while a backward-extending row is still admissible. The
          // clamp only binds in that state (unclamped = guaranteed
          // throw) and closes the session at the next batch — the
          // earliest it can legally close.
          state.setTimeoutTimestamp(
            math.max(s.lastSeen + gapMs, state.getCurrentWatermarkMs() + 1L))
        }
        closed.reverseIterator
      }
    }

    events
      .selectExpr("user_id", "ts", "value")
      // poison-pill guard (shared by every stateful face here): the typed
      // source null-normalizes '' → NULL, and decoding a NULL into a
      // primitive case-class field throws — which would kill the query
      // and, via checkpointed offsets, every restart after it. Malformed
      // rows are dropped at the operator boundary instead.
      .filter("user_id IS NOT NULL AND ts IS NOT NULL AND value IS NOT NULL")
      .withWatermark("ts", watermarkDelay)
      .as[SessionInput]
      .groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.EventTimeTimeout)(update)
  }

  /** Streaming exact dedup on a key within the watermark horizon —
    * `dropDuplicates` keeps per-key state until the watermark passes, so
    * state is bounded while duplicates inside the lateness window are
    * suppressed exactly (the streaming twin of
    * [[graft.text.Dedup.exact]]).
    */
  def dedupByKey(events: DataFrame, watermarkDelay: String = "60 minutes"): DataFrame =
    events.withWatermark("ts", watermarkDelay).dropDuplicatesWithinWatermark("event_id")

  case class KeyedEvent(user_id: Long, event_id: Long, ts: Timestamp, event_type: String, value: Double)
  case class LatestState(event_id: Long, ts: Long, event_type: String, value: Double)

  /** Streaming latest-state-per-key — the CDC materialization twin of
    * [[graft.engine.Relational.latestByKey]]: every micro-batch emits the
    * NEW current row for each key that changed — and ONLY for keys that
    * changed: a batch of purely stale events emits nothing (update-log
    * semantics; a downstream upsert sink applies it).
    * `flatMapGroupsWithState` keeps one fixed-size record per key —
    * state scales with |keys|, never with the event volume — and ties
    * break on (ts, event_id) exactly like the batch twin, so replaying
    * the log converges to the same table.
    */
  def latestByKeyStream(spark: SparkSession, events: DataFrame): Dataset[KeyedEvent] = {
    import spark.implicits._
    def update(
        key: Long,
        rows: Iterator[KeyedEvent],
        state: GroupState[LatestState]): Iterator[KeyedEvent] = {
      val prior = state.getOption
      val best = (prior.map(s => KeyedEvent(key, s.event_id, new Timestamp(s.ts), s.event_type, s.value)).iterator ++ rows)
        .maxBy(e => (e.ts.getTime, e.event_id))
      state.update(LatestState(best.event_id, best.ts.getTime, best.event_type, best.value))
      // emit ONLY on change — a batch of purely stale (older) events must
      // not re-emit the unchanged current row, or the downstream
      // update-log double-counts changes (mapGroupsWithState can't skip a
      // key, hence the flatMap spelling)
      if (prior.exists(s => s.ts == best.ts.getTime && s.event_id == best.event_id))
        Iterator.empty
      else Iterator.single(best)
    }
    events
      .selectExpr("user_id", "event_id", "ts", "event_type", "value")
      // poison-pill guard — see [[sessionize]]; event_type stays nullable
      // (a String field decodes NULL fine and ties break on (ts, event_id))
      .filter("user_id IS NOT NULL AND event_id IS NOT NULL AND ts IS NOT NULL AND value IS NOT NULL")
      .as[KeyedEvent]
      .groupByKey(_.user_id)
      .flatMapGroupsWithState(
        OutputMode.Update, GroupStateTimeout.NoTimeout)(update)
  }

  /** Stream–stream interval join (the reference stops at stream–static;
    * this is the full-streaming extension): follow-up events by the same
    * user strictly within `windowSeconds` of an anchor. Both sides carry
    * watermarks and the join condition bounds event time on BOTH ends, so
    * Spark can expire join state — the two requirements for a bounded-
    * state stream–stream join. The batch twin is
    * [[graft.engine.Joins.followUpsWithin]].
    */
  def followUpsStream(
      anchors: DataFrame,
      candidates: DataFrame,
      windowSeconds: Long,
      watermarkDelay: String = "60 minutes"): DataFrame = {
    import org.apache.spark.sql.functions._
    val a = anchors
      .withWatermark("ts", watermarkDelay)
      .select(col("user_id"), col("event_id").as("event_a"), col("ts").as("ts_a"))
    val b = candidates
      .withWatermark("ts", watermarkDelay)
      .select(col("user_id").as("user_b"), col("event_id").as("event_b"), col("ts").as("ts_b"))
    a.join(
        b,
        col("user_id") === col("user_b") &&
          col("ts_b") > col("ts_a") &&
          col("ts_b") <= col("ts_a") + expr(s"INTERVAL $windowSeconds SECONDS"))
      .select(
        col("user_id"),
        col("event_a"),
        col("event_b"),
        (expr(Stages.epochBucketSql("ts_b", 1)) - expr(Stages.epochBucketSql("ts_a", 1))).as("gap_seconds"))
  }

  case class AlertEvent(user_id: Long, event_id: Long, ts: Timestamp, value: Double)
  case class AlertState(lastAlertMs: Long)
  case class Alert(user_id: Long, event_id: Long, ts: Timestamp, value: Double)

  /** Rate-limited per-key alerting — the production form of the
    * reference's violation alerts (SURVEY.md §2.2 K4, which e-mails on
    * EVERY batch with matches): at most one alert per key per
    * `cooldownMinutes`, enforced by one fixed-size state record per key
    * with an event-time timeout that garbage-collects idle keys. The
    * violation PREDICATE stays a plain filter stage (batch/stream
    * shared); only the suppression window needs custom state. Emitted
    * alerts are the first qualifying event per cooldown window, ties on
    * (ts, event_id) within a micro-batch.
    */
  def rateLimitedAlerts(
      spark: SparkSession,
      violations: DataFrame,
      cooldownMinutes: Int,
      watermarkDelay: String = "60 minutes"): Dataset[Alert] = {
    import spark.implicits._
    val cooldownMs = cooldownMinutes * 60L * 1000L

    def update(
        key: Long,
        rows: Iterator[AlertEvent],
        state: GroupState[AlertState]): Iterator[Alert] = {
      if (state.hasTimedOut) { state.remove(); return Iterator.empty }
      val sorted = rows.toSeq.sortBy(e => (e.ts.getTime, e.event_id))
      var lastMs = state.getOption.map(_.lastAlertMs).getOrElse(Long.MinValue)
      val out = sorted.flatMap { e =>
        if (lastMs == Long.MinValue || e.ts.getTime - lastMs >= cooldownMs) {
          lastMs = e.ts.getTime
          Some(Alert(key, e.event_id, e.ts, e.value))
        } else None
      }
      if (lastMs != Long.MinValue) {
        state.update(AlertState(lastMs))
        // GC-timeout base clamped above the eviction watermark (see
        // [[sessionize]] for the late-events/eviction watermark split):
        // a suppressed-only batch re-sets the timeout from the OLD
        // lastAlert, which a cross-key burst may have left entirely
        // behind the watermark — unclamped, setTimeoutTimestamp throws
        // and checkpoint replay crash-loops the query. The added
        // watermarkDelay is ≥ 0, so base = watermark + 1 stays legal,
        // and when the raw base is already ahead the clamp is identity.
        state.setTimeoutTimestamp(
          math.max(lastMs + cooldownMs, state.getCurrentWatermarkMs() + 1L),
          watermarkDelay)
      }
      out.iterator
    }

    violations
      .selectExpr("user_id", "event_id", "ts", "value")
      // poison-pill guard — see [[sessionize]]
      .filter("user_id IS NOT NULL AND event_id IS NOT NULL AND ts IS NOT NULL AND value IS NOT NULL")
      .withWatermark("ts", watermarkDelay)
      .as[AlertEvent]
      .groupByKey(_.user_id)
      .flatMapGroupsWithState(
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout)(update)
  }

  case class TypeChange(
      user_id: Long,
      event_id: Long,
      ts: Timestamp,
      prev_type: String,
      event_type: String)

  /** State-change detector on the Spark 4 `transformWithState` processor
    * API (the arbitrary-state successor to `*GroupsWithState`, with
    * named state variables in the RocksDB store): per user, suppress
    * consecutive duplicates of `event_type` and emit one row per
    * TRANSITION (prev_type null on the first observation) — the
    * debounce/change-data shape. State per key is one string in a
    * `ValueState`; rows sort by (ts, event_id) within each batch.
    */
  class TypeChangeProcessor
      extends org.apache.spark.sql.streaming.StatefulProcessor[Long, KeyedEvent, TypeChange] {
    @transient private var lastType: org.apache.spark.sql.streaming.ValueState[String] = _

    override def init(
        outputMode: OutputMode,
        timeMode: org.apache.spark.sql.streaming.TimeMode): Unit =
      lastType = getHandle.getValueState[String](
        "lastType", org.apache.spark.sql.Encoders.STRING,
        org.apache.spark.sql.streaming.TTLConfig.NONE)

    override def handleInputRows(
        key: Long,
        rows: Iterator[KeyedEvent],
        timers: org.apache.spark.sql.streaming.TimerValues): Iterator[TypeChange] = {
      val out = List.newBuilder[TypeChange]
      rows.toSeq.sortBy(r => (r.ts.getTime, r.event_id)).foreach { r =>
        val prev = if (lastType.exists()) lastType.get() else null
        if (prev != r.event_type) {
          out += TypeChange(key, r.event_id, r.ts, prev, r.event_type)
          lastType.update(r.event_type)
        }
      }
      out.result().iterator
    }
  }

  /** Stream of per-user event-type transitions (consecutive duplicates
    * suppressed) via [[TypeChangeProcessor]]. Requires the RocksDB state
    * store provider (transformWithState's backing store); the caller
    * sets `spark.sql.streaming.stateStore.providerClass`.
    */
  def typeChangesStream(spark: SparkSession, events: DataFrame): Dataset[TypeChange] = {
    import spark.implicits._
    events
      .selectExpr("user_id", "event_id", "ts", "event_type", "value")
      // poison-pill guard — see [[sessionize]]. event_type must ALSO be
      // non-null here: the processor's ValueState[String] cannot store a
      // null "last seen type", so null-type rows are dropped rather than
      // modeled as a transition endpoint.
      .filter("user_id IS NOT NULL AND event_id IS NOT NULL AND ts IS NOT NULL" +
        " AND event_type IS NOT NULL AND value IS NOT NULL")
      .as[KeyedEvent]
      .groupByKey(_.user_id)
      .transformWithState(
        new TypeChangeProcessor,
        org.apache.spark.sql.streaming.TimeMode.None(),
        OutputMode.Append())
  }

  case class PatternInput(event_type: String, event_id: Long, ts: Timestamp, value: Double)
  case class PatternState(ring: List[Long])
  case class PatternHit(event_type: String, event_id: Long, ts: Timestamp, dist2: Long)

  /** Streaming sliding-window pattern similarity (the streaming-systems
    * time-series-similarity-search shape): per event type, keep the last
    * |pattern| integer-cent values as a ring buffer and emit the squared
    * L2 distance between each full window and the fixed query pattern —
    * the stream twin of the batch matrix-profile ops. State is the
    * m-value ring — FIXED size per key, never event-volume-bound; the
    * distance is exact integer arithmetic; in-batch rows process in
    * (ts, event_id) order so replays are deterministic.
    */
  def patternMatchStream(
      spark: SparkSession,
      events: DataFrame,
      pattern: Seq[Long]): Dataset[PatternHit] = {
    import spark.implicits._
    val m = pattern.length
    require(m > 0, "empty pattern")

    def update(
        key: String,
        rows: Iterator[PatternInput],
        state: GroupState[PatternState]): Iterator[PatternHit] = {
      var ring = state.getOption.map(_.ring).getOrElse(Nil)
      val out = rows.toSeq.sortBy(r => (r.ts.getTime, r.event_id)).flatMap { r =>
        ring = (ring :+ math.round(r.value * 100)).takeRight(m)
        if (ring.length == m) {
          val d = ring.lazyZip(pattern).map { (x, p) => val dd = x - p; dd * dd }.sum
          Some(PatternHit(key, r.event_id, r.ts, d))
        } else None
      }
      state.update(PatternState(ring))
      out.iterator
    }

    events
      .selectExpr("event_type", "event_id", "ts", "value")
      // poison-pill guard — see [[sessionize]]; event_type is the key
      .filter("event_type IS NOT NULL AND event_id IS NOT NULL AND ts IS NOT NULL AND value IS NOT NULL")
      .as[PatternInput]
      .groupByKey(_.event_type)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout)(update)
  }
}
