package graft.streaming

import org.apache.spark.sql.Encoders
import org.apache.spark.sql.streaming._

/** Input row for [[UserProfileProcessor]]: the money column arrives as
  * exact integer cents (quantized once, batch-side) so every state
  * update is Long arithmetic — order-insensitive and bit-exact against
  * a relational oracle however Spark orders the rows within a key. */
case class TwsEvent(user_id: Long, event_type: String, cents: Long)

/** The running per-user aggregate held in ValueState. */
case class TwsAgg(n: Long, cents: Long)

/** One emitted row per key per micro-batch: the cumulative profile
  * AFTER folding that batch's arrivals into state. */
case class TwsOut(user_id: Long, cum_n: Long, n_types: Long, sum_cents: Long)

/** ST18/ST21 — per-user cumulative profile on the Spark 4
  * arbitrary-state API v2 (`transformWithState`, SPARK-40434): the
  * successor to `mapGroupsWithState` that the pack's st3/st12 family
  * uses, with NAMED, independently-typed state primitives instead of
  * one opaque state object.
  *
  * Three state variables per user:
  *  - `agg: ValueState[TwsAgg]` — running (count, cents-sum);
  *  - `types: MapState[String, Long]` — per-event-type counts. A
  *    MapState update touches ONE map entry in RocksDB; the
  *    `mapGroupsWithState` equivalent rewrites the whole state object
  *    per batch — the API's point at 100 TB state volumes.
  *  - `ntypes: ValueState[Long]` — the map's key count, maintained on
  *    first-insert (the containsKey probe each row already pays), so
  *    emission is O(1) instead of an O(distinct types) map walk.
  *
  * All updates commute (adds of Longs, per-type increments), so the
  * emitted cumulative is independent of row order within a batch —
  * what makes a live run at any parallelism hash-comparable to the
  * DuckDB oracle. Mirrors the reference's per-entity running ledger
  * semantics (load gate state, load_data/lambda_function.py:40-73)
  * generalized to multi-metric state.
  */
class UserProfileProcessor extends StatefulProcessor[Long, TwsEvent, TwsOut] {
  @transient private var agg: ValueState[TwsAgg] = _
  @transient private var types: MapState[String, Long] = _
  @transient private var ntypes: ValueState[Long] = _

  override def init(outputMode: OutputMode, timeMode: TimeMode): Unit = {
    agg = getHandle.getValueState[TwsAgg](
      "agg", Encoders.product[TwsAgg], TTLConfig.NONE)
    types = getHandle.getMapState[String, Long](
      "types", Encoders.STRING, Encoders.scalaLong, TTLConfig.NONE)
    ntypes = getHandle.getValueState[Long](
      "ntypes", Encoders.scalaLong, TTLConfig.NONE)
  }

  override def handleInputRows(key: Long, rows: Iterator[TwsEvent],
                               timerValues: TimerValues): Iterator[TwsOut] = {
    var n = 0L
    var cents = 0L
    var newTypes = 0L
    rows.foreach { e =>
      n += 1
      cents += e.cents
      // A NULL event_type counts toward n/cents but never creates a map
      // entry: SQL count(distinct) skips NULLs (keeps the n_types column
      // oracle-comparable on dirty data), and a NULL MapState key is not
      // something the state encoder is contracted to accept.
      if (e.event_type != null) {
        if (types.containsKey(e.event_type))
          types.updateValue(e.event_type, types.getValue(e.event_type) + 1L)
        else {
          newTypes += 1
          types.updateValue(e.event_type, 1L)
        }
      }
    }
    val prev = if (agg.exists()) agg.get() else TwsAgg(0L, 0L)
    val cur = TwsAgg(prev.n + n, prev.cents + cents)
    agg.update(cur)
    val nt = (if (ntypes.exists()) ntypes.get() else 0L) + newTypes
    if (newTypes > 0) ntypes.update(nt)
    Iterator.single(TwsOut(key, cur.n, nt, cur.cents))
  }
}

/** Output of [[WarmStartProcessor]]: totals only (the snapshot the
  * state is seeded from carries no per-type breakdown). */
case class TwsTotal(user_id: Long, cum_n: Long, sum_cents: Long)

/** ST19 — `StatefulProcessorWithInitialState`: the v2 API's batch
  * WARM-START surface. State is seeded per key from a batch-computed
  * snapshot (`handleInitialState`, called once per key before any
  * input), then streamed arrivals fold on top — the migration path
  * from a batch-maintained aggregate table to a streaming one WITHOUT
  * reprocessing history, which at 100 TB of history is the only
  * viable cutover. Emits one cumulative row per key per batch; keys
  * present only in the snapshot stay silent (their published batch
  * value still stands). */
class WarmStartProcessor
    extends StatefulProcessorWithInitialState[Long, TwsEvent, TwsTotal, TwsAgg] {
  @transient private var agg: ValueState[TwsAgg] = _

  override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
    agg = getHandle.getValueState[TwsAgg](
      "agg", Encoders.product[TwsAgg], TTLConfig.NONE)

  override def handleInitialState(key: Long, initialState: TwsAgg,
                                  timerValues: TimerValues): Unit =
    agg.update(initialState)

  override def handleInputRows(key: Long, rows: Iterator[TwsEvent],
                               timerValues: TimerValues): Iterator[TwsTotal] = {
    var n = 0L
    var cents = 0L
    rows.foreach { e => n += 1; cents += e.cents }
    val prev = if (agg.exists()) agg.get() else TwsAgg(0L, 0L)
    val cur = TwsAgg(prev.n + n, prev.cents + cents)
    agg.update(cur)
    Iterator.single(TwsTotal(key, cur.n, cur.cents))
  }
}

/** Input row for [[SessionTimerProcessor]]: event time pre-quantized
  * to epoch MILLISECONDS batch-side, so the 30-minute-gap comparisons
  * are integer math stated identically in the oracle (sub-ms jitter
  * can otherwise flip a gap that lands exactly on the boundary). The
  * `ts` timestamp column rides along solely to drive the watermark. A
  * row with no event time (`ms` NULL) belongs to no session, and the
  * processors drop it: the watermark operator passes NULL event times
  * through, and one such row must not fail the whole stream. */
case class TsEvent(user_id: Long, ts: java.sql.Timestamp, ms: Option[Long])

/** Open-session accumulator: earliest arrival, latest arrival, count. */
case class SessionAcc(start_ms: Long, last_ms: Long, n: Long)

/** A closed session. */
case class SessionOut(user_id: Long, start_ms: Long, n: Long)

/** The pure per-key sessionization math [[SessionTimerProcessor]] runs
  * inside the state store — extracted so the batch-split invariance
  * (incremental processing over any time-ordered split equals one-shot
  * sessionization) is property-testable without a streaming harness. */
private[graft] object SessionMath {

  /** Split a SORTED ms array into inactivity-gap sessions. */
  def sessionize(sortedMs: Array[Long], gapMs: Long): scala.collection.mutable.ArrayBuffer[SessionAcc] = {
    val sess = scala.collection.mutable.ArrayBuffer.empty[SessionAcc]
    sortedMs.foreach { t =>
      if (sess.nonEmpty && t - sess.last.last_ms < gapMs)
        sess(sess.length - 1) = SessionAcc(sess.last.start_ms, t, sess.last.n + 1L)
      else sess += SessionAcc(t, t, 1L)
    }
    sess
  }

  /** Insert the surviving open session into start-ordered `sess` and
    * re-merge neighbors in one linear pass — the insertion can bridge
    * two batch sessions that each sit within the gap of it. Mutates
    * and returns `sess`. */
  def mergeOpen(sess: scala.collection.mutable.ArrayBuffer[SessionAcc], o: SessionAcc,
                gapMs: Long): scala.collection.mutable.ArrayBuffer[SessionAcc] = {
    val idx = sess.indexWhere(_.start_ms > o.start_ms)
    sess.insert(if (idx < 0) sess.length else idx, o)
    var i = 0
    while (i + 1 < sess.length) {
      val a = sess(i)
      val b = sess(i + 1)
      if (b.start_ms - a.last_ms < gapMs) {
        sess(i) = SessionAcc(a.start_ms, math.max(a.last_ms, b.last_ms), a.n + b.n)
        sess.remove(i + 1); ()
      } else i += 1
    }
    sess
  }
}

/** ST20 — EVENT-TIME TIMERS on the v2 API (`TimeMode.EventTime` +
  * `registerTimer`/`handleExpiredTimer`): inactivity-gap
  * sessionization where the CLOSE is timer-driven. Each batch, a
  * key's arrivals are sessionized (sort, split on the gap) and the
  * surviving open session from state is INTERVAL-MERGED into the
  * result — an in-watermark straggler older than the open tail lands
  * in its own (or a bridged) session instead of corrupting the tail's
  * start. Every session but the newest closes inline; the newest
  * stays open and registers a timer at `last_ms + gap`. When the
  * watermark passes it, `handleExpiredTimer` emits the session and
  * clears state — the pattern session_window (st12) implements
  * internally, here exposed so the emission schedule is programmable
  * (timeout actions, escalations, abandonment events).
  *
  * Disorder contract: a session is FINAL once a newer session closes
  * ahead of it in the same key (inline emission — the price of
  * emitting eagerly rather than only at the watermark, the same
  * trade dropDuplicatesWithinWatermark makes). Stragglers never
  * corrupt state; they emit as their own sessions. State per key is
  * ONE open session + ONE timer — watermark-bounded, never history.
  * Exactly one timer per key: arrivals delete-then-re-register. */
class SessionTimerProcessor(gapMs: Long)
    extends StatefulProcessor[Long, TsEvent, SessionOut] {
  @transient private var open: ValueState[SessionAcc] = _

  override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
    open = getHandle.getValueState[SessionAcc](
      "open", Encoders.product[SessionAcc], TTLConfig.NONE)

  override def handleInputRows(key: Long, rows: Iterator[TsEvent],
                               timerValues: TimerValues): Iterator[SessionOut] = {
    val ms = rows.flatMap(_.ms).toArray
    if (ms.isEmpty) return Iterator.empty
    java.util.Arrays.sort(ms)
    val sess = SessionMath.sessionize(ms, gapMs)
    // interval-merge the surviving open session into the batch's sessions
    if (open.exists()) {
      getHandle.listTimers().foreach(getHandle.deleteTimer)
      SessionMath.mergeOpen(sess, open.get(), gapMs); ()
    }
    val tail = sess.last
    open.update(tail)
    getHandle.registerTimer(tail.last_ms + gapMs)
    sess.iterator.take(sess.length - 1).map(x => SessionOut(key, x.start_ms, x.n))
  }

  override def handleExpiredTimer(key: Long, timerValues: TimerValues,
                                  expiredTimerInfo: ExpiredTimerInfo): Iterator[SessionOut] = {
    val out = if (open.exists()) {
      val s = open.get()
      Iterator.single(SessionOut(key, s.start_ms, s.n))
    } else Iterator.empty
    open.clear()
    out
  }
}

/** A closed session carrying its start as a TIMESTAMP — the event-time
  * column a downstream stateful operator windows on. */
case class SessionOutT(user_id: Long, start_ts: java.sql.Timestamp, n: Long)

/** ST22 — the sessionizer re-emitting for OPERATOR CHAINING (same
  * SessionMath core as [[SessionTimerProcessor]]): output carries
  * `start_ts` as a timestamp so `transformWithState(...,
  * eventTimeColumnName = "start_ts", ...)` declares it as the
  * operator's event time and a downstream windowed aggregation runs in
  * the SAME streaming query (SPARK-42931 chained stateful operators).
  *
  * DELIBERATELY TIMER-LESS: chaining validation rejects any emission
  * whose event time is older than the current watermark
  * (EMITTING_ROWS_OLDER_THAN_WATERMARK_NOT_ALLOWED), and a
  * timer-fired session's START is by construction older than the
  * watermark that fired it (start <= last = expiry - gap <
  * watermark) — the timer close pattern CANNOT be combined with a
  * declared output event time. Sessions therefore close INLINE only:
  * a within-batch gap, a later batch's arrival, or a FLUSH MARKER —
  * any input row with `ms >= flushAtMs` closes the key's every
  * session INCLUDING the open tail and CLEARS the key's state, so
  * flushed keys leave the store and state tracks the live-key
  * frontier, not all-keys-ever (the cleanup role timers play in
  * st20, re-expressed as a control tuple — the one expiry mechanism
  * chaining leaves available). The caller must size the watermark
  * delay past the span between a session's start and the batch that
  * closes it, or the close itself trips the same validation — caught
  * live at 10x by ScaleCheck, where early users' timer closes crashed
  * the chained query while the small fixtures passed on timing luck
  * (st22 now derives the delay from the measured data span). */
class SessionizerWithTs(gapMs: Long, flushAtMs: Long = Long.MaxValue)
    extends StatefulProcessor[Long, TsEvent, SessionOutT] {
  @transient private var open: ValueState[SessionAcc] = _

  override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
    open = getHandle.getValueState[SessionAcc](
      "open", Encoders.product[SessionAcc], TTLConfig.NONE)

  override def handleInputRows(key: Long, rows: Iterator[TsEvent],
                               timerValues: TimerValues): Iterator[SessionOutT] = {
    var flush = false
    val real = scala.collection.mutable.ArrayBuffer.empty[Long]
    rows.flatMap(_.ms).foreach(ms => if (ms >= flushAtMs) flush = true else real += ms)
    val ms = real.toArray
    java.util.Arrays.sort(ms)
    val sess = SessionMath.sessionize(ms, gapMs)
    if (open.exists()) SessionMath.mergeOpen(sess, open.get(), gapMs)
    if (sess.isEmpty) { // flush marker for a key with no open state
      if (flush) open.clear()
      return Iterator.empty
    }
    if (flush) {
      open.clear()
      sess.iterator.map(x => SessionOutT(key, new java.sql.Timestamp(x.start_ms), x.n))
    } else {
      open.update(sess.last)
      sess.iterator.take(sess.length - 1)
        .map(x => SessionOutT(key, new java.sql.Timestamp(x.start_ms), x.n))
    }
  }
}

/** Emission of [[TtlCountProcessor]]: the running count alone — the
  * only metric its TTL'd state holds. */
case class TtlCount(user_id: Long, cum_n: Long)

/** Per-key arrival counter whose ValueState carries a real TTL —
  * the "dormant keys age out" half of the v2 API's 100 TB state
  * story (COVERAGE "arbitrary state v2" rows). TTL is processing-time
  * based (the API's contract, hence TimeMode.ProcessingTime in the
  * test harness), so only the EXPIRED direction is deterministic:
  * a restart after sleeping well past the TTL must see the state
  * gone and restart the count — which is exactly what the test pins. */
class TtlCountProcessor(ttl: java.time.Duration)
    extends StatefulProcessor[Long, TwsEvent, TtlCount] {
  @transient private var n: ValueState[Long] = _

  override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
    n = getHandle.getValueState[Long]("n", Encoders.scalaLong, TTLConfig(ttl))

  override def handleInputRows(key: Long, rows: Iterator[TwsEvent],
                               timerValues: TimerValues): Iterator[TtlCount] = {
    val cur = (if (n.exists()) n.get() else 0L) + rows.size
    n.update(cur)
    Iterator.single(TtlCount(key, cur))
  }
}
