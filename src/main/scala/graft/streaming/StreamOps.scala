package graft.streaming

import java.sql.Timestamp

import graft.functions.PathFns
import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Event row for streaming ops (events-table shape). */
case class Ev(event_id: Long, ts: Timestamp, user_id: Long,
    event_type: String, value: Double)

/** Debounced burst emission. */
case class DebouncedEv(user_id: Long, event_id: Long, ts: Timestamp,
    event_type: String, burst_size: Long)

/** Change-detection state row (badger analog: key -> last mtime). */
case class KeyedChange(user_id: Long, event_id: Long, ts: Timestamp, changed: Boolean)

/** Closed gap-session (streaming analog of B4's sessionize). */
case class SessionOut(user_id: Long, n_events: Long, t_start: Timestamp,
    t_end: Timestamp, total_value: Double)

private case class DebState(event_id: Long, tsMs: Long, event_type: String,
    count: Long)

private case class SessState(n: Long, startMs: Long, endMs: Long, total: Double)

/** Emitted funnel row (streaming analog of B14's evt_funnel; null
  * stage timestamps = stage not reached).
  */
case class FunnelOut(user_id: Long, t_view: Timestamp, t_click: Timestamp,
    t_purchase: Timestamp, funnel_depth: Long)

private case class FunnelState(viewMs: Long, clickMs: Long, purchMs: Long,
    lastMs: Long, done: Boolean)

/** Emitted grid row (streaming analog of B15's evt_resample_ffill). */
case class ResampleOut(user_id: Long, ts: Timestamp,
    last_event_id: Option[Long], last_value: Option[Double])

private case class ResampleState(nextGridMs: Long, hasLast: Boolean,
    lastId: Long, lastVal: Double, lastTsMs: Long)

/** Emitted transition pair (streaming analog of B21's evt_transitions
  * lag chain).
  */
case class TransitionOut(user_id: Long, event_id: Long, ts: Timestamp,
    prev_type: String, next_type: String)

private case class LastTypeState(hasPrev: Boolean, t: String)

/** Live EWMA row (streaming analog of B27's evt_ewma). */
case class EwmaOut(user_id: Long, event_type: String, n_events: Long,
    last_value: Double, ewma: Double)

private case class EwmaState(n: Long, ewma: Double)

/** Flagged day (streaming analog of B22's evt_daily_anomaly). */
case class LineOcc(doc_id: Long, ts: Timestamp, line_no: Int,
  line: String, h: String)
/** E38's per-user state: one slot of the last |pattern|−1 timeline
  * events.
  */
case class PatternTail(event_id: Long, ts: Timestamp, event_type: String)

/** E38 match emission — the batch query's 3-step schema. */
case class PatternOut(user_id: Long, id_0: Long, ts_0: Timestamp,
    id_1: Long, id_2: Long, span_ms: Long)

/** E45 Kleene match emission — the B29 schema (run length instead of
  * fixed middle-step ids).
  */
case class KleeneOut(user_id: Long, id_0: Long, ts_0: Timestamp,
    n_mid: Long, id_last: Long, span_ms: Long)

/** E46 pattern-spec match emission — `counts` carries the quantified
  * steps' consumed lengths in step order (the batch operator's n_<i>
  * columns).
  */
case class SpecOut(user_id: Long, id_0: Long, ts_0: Timestamp,
    counts: Seq[Long], id_last: Long, span_ms: Long)

case class GapOut(user_id: Long, event_type: String, event_id: Long,
  ts: Timestamp, gap_ms: Long)
case class AnomalyOut(event_type: String, day: Timestamp, cnt: Long,
    mean: Double, variance: Double)

private case class AnomState(openDays: Map[Long, Long], prev: Seq[Long])

/** One eval doc's distinct shingles, carried as a literal into the
  * streaming decontamination plan.
  */
case class EvalShingles(eval_id: Long, ev_sh: Seq[String])

/** Kafka value wire encoding — the reference ships both: the default
  * {schema, payload} JSON (handler/kafka.go:354-357 MsgValueEncoder)
  * and Confluent-framed Avro (kafka.go:449-472 AvroEncoder).
  */
sealed trait WireEncoding
case object JsonWire extends WireEncoding
final case class AvroWire(schemaId: Int) extends WireEncoding

/** E-family: the watchdog's streaming semantics on Structured
  * Streaming. The reference's goroutine/timer machinery
  * (watchdog.go:190-250) becomes watermark + event-time-timeout state:
  * Spark owns the timers, state is per-key and spill-safe, and the
  * operators scale horizontally by key hash.
  */
object StreamOps {

  /** E1: streaming debounce — per-key quiescence timer; when no event
    * arrives within `gapMs` (event time), emit the last event of the
    * burst with the burst size, exactly like
    * Watchdog.debounceFsnotifyEvent's reset-timer loop.
    */
  def debounceStream(events: Dataset[Ev], gapMs: Long,
      watermark: String = "10 minutes"): Dataset[DebouncedEv] = {
    import events.sparkSession.implicits._
    events
      .withWatermark("ts", watermark)
      .groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append(), GroupStateTimeout.EventTimeTimeout)(
        (user: Long, it: Iterator[Ev], state: GroupState[DebState]) => {
          if (state.hasTimedOut) {
            val s = state.get
            state.remove()
            Iterator.single(DebouncedEv(user, s.event_id, new Timestamp(s.tsMs),
              s.event_type, s.count))
          } else {
            // fold in event-time order and split on quiescence gaps
            // WITHIN the batch too — a batch can span many bursts, and
            // only the final (still-open) burst waits for the timeout
            val out = scala.collection.mutable.ArrayBuffer.empty[DebouncedEv]
            var s = state.getOption.getOrElse(DebState(0L, Long.MinValue, "", 0L))
            it.toSeq.sortBy(e => (e.ts.getTime, e.event_id)).foreach { e =>
              val t = e.ts.getTime
              if (s.count > 0 && t - s.tsMs > gapMs) {
                out += DebouncedEv(user, s.event_id, new Timestamp(s.tsMs),
                  s.event_type, s.count)
                s = DebState(0L, Long.MinValue, "", 0L)
              }
              s = if (t >= s.tsMs) DebState(e.event_id, t, e.event_type, s.count + 1)
                  else s.copy(count = s.count + 1)
            }
            state.update(s)
            state.setTimeoutTimestamp(s.tsMs + gapMs)
            out.iterator
          }
        })
  }

  /** E7: streaming gap sessionization — the event-time-timeout dual of
    * the batch sessionize (B4): a session closes and emits when no
    * event arrives within `gapMs` of its last event. Same state shape
    * as debounce but aggregating the whole burst instead of keeping
    * the last event.
    */
  def sessionizeStream(events: Dataset[Ev], gapMs: Long,
      watermark: String = "10 minutes"): Dataset[SessionOut] = {
    import events.sparkSession.implicits._
    events
      .withWatermark("ts", watermark)
      .groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append(), GroupStateTimeout.EventTimeTimeout)(
        (user: Long, it: Iterator[Ev], state: GroupState[SessState]) => {
          if (state.hasTimedOut) {
            val s = state.get
            state.remove()
            Iterator.single(SessionOut(user, s.n, new Timestamp(s.startMs),
              new Timestamp(s.endMs), s.total))
          } else {
            // fold in event-time order and close sessions on gaps
            // WITHIN the batch — only the final still-open session
            // waits for the event-time timeout (batch parity with
            // EventOps.sessionize verified on the events table)
            val out = scala.collection.mutable.ArrayBuffer.empty[SessionOut]
            var s = state.getOption.getOrElse(
              SessState(0L, Long.MaxValue, Long.MinValue, 0.0))
            it.toSeq.sortBy(e => (e.ts.getTime, e.event_id)).foreach { e =>
              val t = e.ts.getTime
              if (s.n > 0 && t - s.endMs > gapMs) {
                out += SessionOut(user, s.n, new Timestamp(s.startMs),
                  new Timestamp(s.endMs), s.total)
                s = SessState(0L, Long.MaxValue, Long.MinValue, 0.0)
              }
              s = SessState(s.n + 1, math.min(s.startMs, t),
                math.max(s.endMs, t), s.total + e.value)
            }
            state.update(s)
            state.setTimeoutTimestamp(s.endMs + gapMs)
            out.iterator
          }
        })
  }

  /** E25: streaming conversion funnel — B14's state machine as
    * per-user stream state: the in-order fold of
    * view → first-click-after-view → first-purchase-after-click is
    * EXACTLY the batch funnel's three chained minima when events
    * arrive in event-time order per user (each transition latches the
    * first qualifying timestamp and never revisits — the same
    * first-completion semantics, O(1) state per user instead of three
    * corpus aggregations). A completed funnel (depth 3) emits
    * immediately; a partial one emits when the user goes quiet for
    * `ttlMs` of event time (the production bound on open-funnel state
    * — state is (3 timestamps, flag) per active user, and TTL evicts
    * it; the batch operator stays the unbounded-history face). After
    * emission the user's state is a tombstone until the TTL passes, so
    * replayed or trailing events cannot double-emit. Non-funnel event
    * types advance nothing (they neither update stages nor extend the
    * TTL), so watermark-advancing sentinels flush cleanly; a key whose
    * TTL lapses while such ignored traffic keeps arriving is flushed
    * on its next data batch (the lapsed-TTL check below — Spark's
    * timeout callback only fires for keys with no data in the batch,
    * and a timeout timestamp is not allowed to sit below the
    * watermark).
    *
    * Disorder contract: stages latch in ARRIVAL order (sorted by event
    * time within each micro-batch) — a click arriving in an earlier
    * micro-batch than its user's view is not recovered later; that is
    * the O(1)-state trade. A deployment needing full
    * disorder tolerance up to the watermark buffers events first (the
    * E1/E7 pattern); the batch dual (B14) is the unbounded-history
    * face and the parity spec feeds in order.
    */
  def funnelStream(events: Dataset[Ev], ttlMs: Long,
      watermark: String = "10 minutes"): Dataset[FunnelOut] = {
    import events.sparkSession.implicits._
    val unset = Long.MinValue
    def emit(user: Long, s: FunnelState): FunnelOut = {
      val depth = 1L + (if (s.clickMs != unset) 1L else 0L) +
        (if (s.purchMs != unset) 1L else 0L)
      FunnelOut(user, new Timestamp(s.viewMs),
        if (s.clickMs != unset) new Timestamp(s.clickMs) else null,
        if (s.purchMs != unset) new Timestamp(s.purchMs) else null, depth)
    }
    events
      .withWatermark("ts", watermark)
      .groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append(), GroupStateTimeout.EventTimeTimeout)(
        (user: Long, it: Iterator[Ev], state: GroupState[FunnelState]) => {
          if (state.hasTimedOut) {
            val s = state.get
            state.remove()
            if (!s.done && s.viewMs != unset) Iterator.single(emit(user, s))
            else Iterator.empty
          } else {
            val out = scala.collection.mutable.ArrayBuffer.empty[FunnelOut]
            val wm = state.getCurrentWatermarkMs()
            var s = state.getOption.getOrElse(
              FunnelState(unset, unset, unset, unset, done = false))
            // lapsed-TTL flush on the DATA path: if ignored traffic
            // kept this key in every batch, the timeout callback never
            // ran — apply its semantics here before folding new events
            if (s.viewMs != unset && s.lastMs + ttlMs <= wm) {
              if (!s.done) out += emit(user, s)
              s = FunnelState(unset, unset, unset, unset, done = false)
            }
            it.toSeq.sortBy(e => (e.ts.getTime, e.event_id)).foreach { e =>
              val t = e.ts.getTime
              e.event_type match {
                case _ if s.done => ()
                case "view" if s.viewMs == unset =>
                  s = s.copy(viewMs = t, lastMs = t)
                case "click" if s.viewMs != unset && s.clickMs == unset &&
                    t > s.viewMs =>
                  s = s.copy(clickMs = t, lastMs = t)
                case "purchase" if s.clickMs != unset && s.purchMs == unset &&
                    t > s.clickMs =>
                  s = s.copy(purchMs = t, lastMs = t, done = true)
                  out += emit(user, s)
                case "view" | "click" | "purchase" =>
                  // a funnel event that latches nothing still counts as
                  // activity (keeps the open funnel alive)
                  s = s.copy(lastMs = math.max(s.lastMs, t))
                case _ => () // non-funnel types: no stage, no TTL extension
              }
            }
            if (s.viewMs != unset) {
              state.update(s)
              // never place the timeout below the watermark (Spark
              // rejects that); a lapsed target fires at the next
              // watermark advance instead
              state.setTimeoutTimestamp(math.max(s.lastMs + ttlMs, wm + 1))
              out.iterator
            } else {
              // nothing latched (clicks/purchases before any view are
              // ignored, like the batch operator's join on t_view);
              // drop any tombstone left from the lapsed-TTL flush
              if (state.exists) state.remove()
              out.iterator
            }
          }
        })
  }

  /** E26: streaming time-grid resample with forward fill — B15's
    * dashboard query as per-user stream state: each user's grid
    * (15-minute steps from the hour floor of their first event)
    * emits INCREMENTALLY as their event time advances, every grid row
    * carrying the last event at-or-before it (same-instant events fill
    * their own grid point, matching the batch window's sort order).
    * State is O(1) per user — (next grid instant, last event) — and
    * the grid never materializes as a whole, so the batch operator's
    * span-cap contract (a 400-day explode guard) simply disappears: a
    * decade-span key streams a decade of rows at 15-minute pace
    * instead of exploding anywhere. Grid emission is capped at the
    * user's last SEEN event time (exactly the batch grid's t1), so —
    * for keys whose activity never pauses longer than the TTL — stream
    * output is always a prefix of what the batch operator would
    * produce over the same total history. TTL evicts idle users'
    * state; a user returning AFTER eviction re-anchors a fresh grid at
    * their new first event (trailing-window semantics: the gap is
    * deliberately not back-filled — that is the state bound doing its
    * job; the batch dual is the unbounded-history face). Late events
    * inside the watermark that arrive BEHIND an already-applied fill
    * are ignored (the fill is last-by-(ts, event_id), matching the
    * batch window's ordering).
    */
  def resampleStream(events: Dataset[Ev], ttlMs: Long,
      stepMs: Long = 15 * 60 * 1000,
      watermark: String = "10 minutes"): Dataset[ResampleOut] = {
    import events.sparkSession.implicits._
    events
      .withWatermark("ts", watermark)
      .groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append(), GroupStateTimeout.EventTimeTimeout)(
        (user: Long, it: Iterator[Ev], state: GroupState[ResampleState]) => {
          if (state.hasTimedOut) { state.remove(); Iterator.empty }
          else {
            val out = scala.collection.mutable.ArrayBuffer.empty[ResampleOut]
            val wm = state.getCurrentWatermarkMs()
            var s = state.getOption.orNull
            // lapsed-TTL eviction on the DATA path (the timeout
            // callback only fires for keys with no data in the batch):
            // same semantics as the timeout — drop state, re-anchor
            if (s != null && s.lastTsMs + ttlMs <= wm) s = null
            def emitThrough(boundMs: Long, inclusive: Boolean): Unit = {
              while (s.nextGridMs < boundMs ||
                  (inclusive && s.nextGridMs == boundMs)) {
                out += ResampleOut(user, new Timestamp(s.nextGridMs),
                  if (s.hasLast) Some(s.lastId) else None,
                  if (s.hasLast) Some(s.lastVal) else None)
                s = s.copy(nextGridMs = s.nextGridMs + stepMs)
              }
            }
            it.toSeq.sortBy(e => (e.ts.getTime, e.event_id)).foreach { e =>
              val t = e.ts.getTime
              if (s == null) {
                // grid anchors at the hour floor of the user's first
                // event (the batch gridStart)
                s = ResampleState(t - math.floorMod(t, 3600 * 1000L),
                  hasLast = false, 0L, 0.0, t)
              }
              // grid points strictly before this event carry the
              // PREVIOUS fill; the point AT the event's instant waits
              // until every same-instant event has applied
              emitThrough(t, inclusive = false)
              // apply only if not BEHIND the current fill: a late
              // event from an earlier instant (or a lower-id event at
              // the same instant, across micro-batches) must not
              // overwrite the last-by-(ts, event_id) fill the batch
              // window semantics define
              if (!s.hasLast || t > s.lastTsMs ||
                  (t == s.lastTsMs && e.event_id >= s.lastId))
                s = s.copy(hasLast = true, lastId = e.event_id,
                  lastVal = e.value, lastTsMs = t)
            }
            if (s != null) {
              // the batch grid ends at the user's max event ts: emit up
              // to and including it, so output is always that prefix
              emitThrough(s.lastTsMs, inclusive = true)
              state.update(s)
              // never below the watermark (Spark rejects that); a
              // lapsed target fires at the next watermark advance
              state.setTimeoutTimestamp(math.max(s.lastTsMs + ttlMs, wm + 1))
            }
            out.iterator
          }
        })
  }

  /** E2: micro-batch stats with watermark — transferBatch's ticked
    * batching as tumbling event-time windows.
    */
  def windowedStats(events: DataFrame, window_ : String = "1 hour",
      watermark: String = "2 hours"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(window(col("ts"), window_), col("event_type"))
      .agg(count(lit(1)).as("n_events"), sum(col("value")).as("sum_value"))

  /** E43: windowed streaming regression — the continuous face of B28:
    * the same exact cross-moments per (event-time window, type), so a
    * monitoring stream fits the hour-of-day trend as data arrives.
    * Every accumulator is algebraic (longs + exact decimals): partial
    * aggregates merge losslessly across micro-batches inside windowed
    * state, and the watermark bounds it — so the stream's finalized
    * windows equal a batch run of the SAME frame function bit-for-bit
    * (the parity spec straddles a micro-batch split). Mode-agnostic
    * like E12: `window()` + algebraic aggs run identically on a batch
    * frame, which is the spec's oracle.
    */
  def regressionWindowed(events: DataFrame, window_ : String = "6 hours",
      watermark: String = "12 hours"): DataFrame =
    graft.operators.EventOps.regressionOver(
      events
        .withWatermark("ts", watermark)
        .withColumn("h", hour(col("ts")).cast("long")),
      Seq(window(col("ts"), window_), col("event_type")))

  /** E12: sliding-window error-rate monitor — the streaming dual of
    * B7's burst detector (EventOps.errorBurst): OVERLAPPING event-time
    * windows (`windowLen` long, advancing every `slide`), each counting
    * its events and errors, so a burst is visible in every window that
    * covers it rather than being split at tumbling boundaries. The
    * watermark bounds state and (in append mode) finalizes a window
    * once event time passes `w_end + watermark`. Runs identically on a
    * batch frame — the spec's oracle — since `window()` and the aggs
    * are mode-agnostic.
    */
  def slidingErrorRate(events: DataFrame, windowLen: String = "10 minutes",
      slide: String = "5 minutes", watermark: String = "30 minutes"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(window(col("ts"), windowLen, slide))
      .agg(count(lit(1)).as("n_events"),
        sum(when(col("event_type") === "error", 1L).otherwise(0L)).as("n_errors"))
      .select(col("window.start").as("w_start"), col("window.end").as("w_end"),
        col("n_events"), col("n_errors"),
        (col("n_errors").cast("double") / col("n_events")).as("err_rate"))

  /** E3: streaming dedup within the watermark horizon (filterEvents'
    * newest-per-key via state-backed dropDuplicates).
    */
  def dedupStream(events: DataFrame, watermark: String = "1 hour"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .dropDuplicates("user_id", "event_id")

  /** E5: streaming change detection — state holds the last seen mtime
    * per key (the badger KV); rows are flagged changed when the mtime
    * moved, like fspolling.isSaved.
    */
  def changeDetectStream(events: Dataset[Ev]): Dataset[KeyedChange] = {
    import events.sparkSession.implicits._
    events
      .groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append(), GroupStateTimeout.NoTimeout())(
        (user: Long, it: Iterator[Ev], state: GroupState[Long]) => {
          var last = state.getOption.getOrElse(Long.MinValue)
          val out = it.toSeq.sortBy(e => (e.ts.getTime, e.event_id)).map { e =>
            val t = e.ts.getTime
            val changed = t != last
            last = t
            KeyedChange(user, e.event_id, e.ts, changed)
          }
          state.update(last)
          out.iterator
        })
  }

  /** E37: streaming inter-arrival gaps — B24's alerting face: each
    * (user, event_type) timeline emits its gap as the next event
    * lands (the heartbeat monitor shape — a downstream rule alarms
    * when gaps stretch). State is O(1) per active key (the last
    * event-time millis); within a micro-batch events sort by
    * (ts, event_id) exactly like the batch lag window, so streamed
    * gaps equal batch gaps independent of batch boundaries.
    */
  def interarrivalStream(events: Dataset[Ev]): Dataset[GapOut] = {
    import events.sparkSession.implicits._
    events
      .groupByKey(e => (e.user_id, e.event_type))
      .flatMapGroupsWithState(OutputMode.Append(), GroupStateTimeout.NoTimeout())(
        (key: (Long, String), it: Iterator[Ev], state: GroupState[Long]) => {
          var last = state.getOption.getOrElse(Long.MinValue)
          // order by FULL timestamp precision (getTime truncates to
          // millis; getNanos carries the whole fractional second) so
          // sub-millisecond siblings sort exactly like the batch lag
          // window's (ts, event_id)
          val out = it.toSeq
            .sortBy(e => (e.ts.getTime, e.ts.getNanos, e.event_id))
            .flatMap { e =>
              val t = e.ts.getTime
              val gap = if (last == Long.MinValue) None
                else Some(GapOut(key._1, key._2, e.event_id, e.ts, t - last))
              last = t
              gap
            }
          state.update(last)
          out.iterator
        })
  }

  /** E38: streaming strict-sequence detection — B25's CEP face: per
    * user, the state is the last |pattern|−1 timeline events (a fixed
    * ring — O(pattern) state per user, independent of history); each
    * arrival slides the window, and a window whose types equal the
    * pattern within the span bound emits immediately. Arrivals inside
    * a micro-batch sort by the batch operator's exact timeline key
    * (full-precision ts, event_id) so cross-batch splits cannot
    * reorder a run — exact batch parity is spec'd with the real
    * events split mid-timeline.
    */
  def patternMatchStream(events: Dataset[Ev],
      pattern: Seq[String] = graft.operators.EventOps.PatternSeq,
      maxSpanMin: Int = graft.operators.EventOps.PatternMaxSpanMin)
      : Dataset[PatternOut] = {
    import events.sparkSession.implicits._
    require(pattern.length == 3,
      "the streaming face emits the batch 3-step schema (id_0..id_2)")
    val n = pattern.length
    val spanMs = maxSpanMin.toLong * 60000L
    events
      .groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append(), GroupStateTimeout.NoTimeout())(
        (user: Long, it: Iterator[Ev], state: GroupState[Seq[PatternTail]]) => {
          var tail = state.getOption.getOrElse(Seq.empty)
          val out = scala.collection.mutable.ArrayBuffer.empty[PatternOut]
          it.toSeq
            .sortBy(e => (e.ts.getTime, e.ts.getNanos, e.event_id))
            .foreach { e =>
              val cur = PatternTail(e.event_id, e.ts, e.event_type)
              val window = tail :+ cur
              if (window.length == n &&
                  window.iterator.zip(pattern.iterator)
                    .forall { case (w, p) => w.event_type == p } &&
                  cur.ts.getTime - window.head.ts.getTime <= spanMs) {
                out += PatternOut(user, window.head.event_id, window.head.ts,
                  window(1).event_id, window(2).event_id,
                  cur.ts.getTime - window.head.ts.getTime)
              }
              tail = window.takeRight(n - 1)
            }
          state.update(tail)
          out.iterator
        })
  }

  /** E45: streaming Kleene CEP — B29's continuous face (`A B+ C`,
    * run bounded by KleeneMaxRun): per user, the state is the last
    * maxRun+1 timeline events (a fixed ring — O(maxRun) per user,
    * the E38 discipline), and a match is DECIDED AT THE TERMINATOR:
    * when a C arrives, the run is the block of consecutive B's at the
    * ring's top and the anchor is the event just before it — emit iff
    * the block length is in [1, maxRun], the anchor is an A, and the
    * span fits. Greedy parity with the batch operator is structural:
    * the batch's maximal forward run from the anchor IS the backward
    * block from its terminator (the event before the block is the
    * non-B anchor), and a ring full of B's (run > maxRun) rejects on
    * both faces. Arrivals sort by the batch timeline key inside each
    * micro-batch, so a run straddling a batch split replays exactly
    * (parity spec).
    *
    * Arrival-order contract: per user, every event of a later
    * micro-batch follows every event of an earlier one on the timeline
    * key. The ring is not re-sorted across batches, so a terminator
    * that arrives a micro-batch before a B preceding it on the
    * timeline is decided without that B (a file source that lists a
    * multi-file append mid-commit can deliver events so).
    */
  def patternKleeneStream(events: Dataset[Ev],
      maxRun: Int = graft.operators.EventOps.KleeneMaxRun,
      maxSpanMin: Int = graft.operators.EventOps.PatternMaxSpanMin)
      : Dataset[KleeneOut] = {
    import events.sparkSession.implicits._
    val Seq(a, b, c) = graft.operators.EventOps.PatternSeq
    val spanMs = maxSpanMin.toLong * 60000L
    events
      .groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append(), GroupStateTimeout.NoTimeout())(
        (user: Long, it: Iterator[Ev], state: GroupState[Seq[PatternTail]]) => {
          var tail = state.getOption.getOrElse(Seq.empty)
          val out = scala.collection.mutable.ArrayBuffer.empty[KleeneOut]
          it.toSeq
            .sortBy(e => (e.ts.getTime, e.ts.getNanos, e.event_id))
            .foreach { e =>
              if (e.event_type == c && tail.nonEmpty) {
                val k = tail.reverseIterator.takeWhile(_.event_type == b).size
                if (k >= 1 && k <= maxRun && tail.length >= k + 1) {
                  val anchor = tail(tail.length - k - 1)
                  val span = e.ts.getTime - anchor.ts.getTime
                  if (anchor.event_type == a && span <= spanMs)
                    out += KleeneOut(user, anchor.event_id, anchor.ts,
                      k.toLong, e.event_id, span)
                }
              }
              tail = (tail :+ PatternTail(e.event_id, e.ts, e.event_type))
                .takeRight(maxRun + 1)
            }
          state.update(tail)
          out.iterator
        })
  }

  /** E46: the pattern-spec compiler's continuous face — B30 for an
    * ARBITRARY well-formed spec (same [[graft.operators.EventOps
    * .validatePattern]] contract: exactly-one head and tail, distinct
    * adjacent types). Per user, the state is the last W timeline
    * events where W = the spec's maximal consumption — a fixed ring,
    * O(pattern) per user, the E38/E45 discipline. A match is DECIDED
    * AT ITS TERMINATOR: each arrival appends to the ring, then every
    * anchor-typed ring slot replays the batch operator's greedy
    * no-backtracking fold over the ring; a fold whose last consumed
    * event IS the arrival emits. The greedy fold's end event is unique
    * per anchor, so each (anchor, match) emits exactly once — no
    * cross-arrival dedup state needed. Arrivals sort by the batch
    * timeline key inside each micro-batch, so runs and optional-step
    * decisions straddling a batch split replay exactly (parity spec).
    */
  def patternSpecStream(events: Dataset[Ev],
      steps: Seq[graft.operators.PatternStep] =
        graft.operators.EventOps.PatternSpecSteps,
      maxSpanMin: Int = graft.operators.EventOps.PatternMaxSpanMin)
      : Dataset[SpecOut] = {
    import events.sparkSession.implicits._
    import graft.operators.PatternQuant
    graft.operators.EventOps.validatePattern(steps)
    val width = steps.map(_.quant match {
      case PatternQuant.Plus(k) => k
      case _ => 1
    }).sum
    val spanMs = maxSpanMin.toLong * 60000L
    // the batch fold over the ring from anchor index i: Some((index of
    // the last consumed event, quantified counts)) iff the whole
    // pattern matched strictly consecutively inside the ring
    def matchFrom(ring: Seq[PatternTail], i: Int): Option[(Int, Seq[Long])] = {
      var pos = i + 1
      var ok = true
      val counts = scala.collection.mutable.ArrayBuffer.empty[Long]
      steps.tail.foreach { st =>
        if (ok) st.quant match {
          case PatternQuant.One =>
            if (pos < ring.length && ring(pos).event_type == st.tpe) pos += 1
            else ok = false
          case PatternQuant.Opt =>
            val took = pos < ring.length && ring(pos).event_type == st.tpe
            counts += (if (took) 1L else 0L)
            if (took) pos += 1
          case PatternQuant.Plus(k) =>
            var r = 0
            while (r <= k && pos + r < ring.length &&
                ring(pos + r).event_type == st.tpe) r += 1
            if (r < 1 || r > k) ok = false
            else { counts += r.toLong; pos += r }
        }
      }
      if (ok) Some((pos - 1, counts.toSeq)) else None
    }
    events
      .groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append(), GroupStateTimeout.NoTimeout())(
        (user: Long, it: Iterator[Ev], state: GroupState[Seq[PatternTail]]) => {
          var ring = state.getOption.getOrElse(Seq.empty)
          val out = scala.collection.mutable.ArrayBuffer.empty[SpecOut]
          it.toSeq
            .sortBy(e => (e.ts.getTime, e.ts.getNanos, e.event_id))
            .foreach { e =>
              ring = (ring :+ PatternTail(e.event_id, e.ts, e.event_type))
                .takeRight(width)
              ring.indices.foreach { i =>
                if (ring(i).event_type == steps.head.tpe)
                  matchFrom(ring, i) match {
                    case Some((end, counts)) if end == ring.length - 1 =>
                      val span = e.ts.getTime - ring(i).ts.getTime
                      if (span <= spanMs)
                        out += SpecOut(user, ring(i).event_id, ring(i).ts,
                          counts, e.event_id, span)
                    case _ => ()
                  }
              }
            }
          state.update(ring)
          out.iterator
        })
  }

  /** E15: streaming near-dup — the continuous-arrival face of
    * incremental MinHash dedup (the watchdog's always-on arrival loop,
    * watchdog.go:252-276, applied to the LLM-data pipeline): incoming
    * documents (with an event-time `ts`) are signature-hashed in-row
    * (MinHash kernel), probe the STATIC corpus band-signature index
    * through a stream-static equi-join on (lang, band, band_hash), and
    * every candidate pair is verified against the true shingle sets —
    * emitted immediately at Jaccard ≥ τ.
    *
    * Scale shape: the corpus is a standing persisted index (never
    * reshuffled per batch); per micro-batch work is proportional to
    * the batch's bucket co-occupancy. Pair-level state
    * (`dropDuplicatesWithinWatermark`) suppresses re-emission when a
    * doc re-arrives inside the watermark horizon and is evicted after
    * it, so state is bounded by arrival rate × watermark — checkpoint
    * restart keeps both source offsets and this state (see
    * CheckpointRecoverySpec).
    *
    * `corpusSigs`: (lang, band_id, band_hash, b_id);
    * `corpusShingles`: (b_id, sh_b, n_b) — see the dir-based wrapper.
    * Batch parity with CurationOps.dedupIncrementalLsh is asserted in
    * StreamBatchParitySpec.
    */
  def nearDupStream(incoming: DataFrame, corpusSigs: DataFrame,
      corpusShingles: DataFrame, tau: Double = 0.5,
      watermark: String = "10 minutes"): DataFrame = {
    import graft.functions.{TextFns, VectorFns}
    val inc = incoming
      .withColumn("toks", TextFns.tokens(col("text")))
      .filter(size(col("toks")) >= 3)
      .withColumn("shingles", TextFns.shingles3(col("toks")))
      .withColumn("nsh", size(col("shingles")).cast("long"))
      .withColumn("bands", VectorFns.bandHashes(
        VectorFns.minhashSignature(col("shingles"), 64), 8, 8))
      .select(col("doc_id").as("a_id"), col("ts"), col("lang"),
        col("shingles").as("sh_a"), col("nsh").as("n_a"),
        posexplode(col("bands")).as(Seq("band_id", "band_hash")))
      .withWatermark("ts", watermark)
    val cands = inc
      .join(corpusSigs, Seq("lang", "band_id", "band_hash"))
      .select("a_id", "b_id", "ts", "sh_a", "n_a")
      .dropDuplicatesWithinWatermark("a_id", "b_id")
    cands.join(corpusShingles, "b_id")
      .withColumn("inter_cnt",
        size(array_intersect(col("sh_a"), col("sh_b"))).cast("long"))
      .withColumn("jacc", col("inter_cnt").cast("double") /
        (col("n_a") + col("n_b") - col("inter_cnt")).cast("double"))
      .filter(col("jacc") >= tau)
      .select("a_id", "b_id", "ts", "n_a", "n_b", "inter_cnt", "jacc")
  }

  /** [[nearDupStream]] against the standing corpus index of `dir`
    * (docs outside the incoming partition doc_id % 10 = 7, matching
    * the batch dual's split).
    */
  def nearDupStreamFor(spark: org.apache.spark.sql.SparkSession, dir: String,
      incoming: DataFrame, tau: Double = 0.5,
      watermark: String = "10 minutes"): DataFrame = {
    val sigs = graft.operators.DedupOps.minhashBandSigs(spark, dir)
      .filter(col("doc_id") % 10 =!= 7)
      .select(col("lang"), col("band_id"), col("band_hash"),
        col("doc_id").as("b_id"))
    val sh = graft.operators.DedupOps.withShingles(spark, dir)
      .filter(col("doc_id") % 10 =!= 7)
      .select(col("doc_id").as("b_id"), col("shingles").as("sh_b"),
        col("nsh").as("n_b"))
    nearDupStream(incoming, sigs, sh, tau, watermark)
  }

  /** E33: streaming line-level dedup — D48's ingest face: each
    * incoming document's deterministic 10-token lines (the SAME
    * [[graft.operators.DedupOps.lineFrame]] definition as the batch
    * operator, so the grids cannot drift) are cleaned against
    * (a) the standing corpus's distinct line digests via a
    * stream-static LEFT ANTI join (the corpus is a persisted/memoized
    * digest set, never reshuffled per batch) and (b) lines already
    * admitted earlier in the stream via
    * `dropDuplicatesWithinWatermark` on the digest — so a boilerplate
    * line entering through one crawl shard is dropped from every
    * later shard inside the TTL horizon (explicit per-digest state
    * with an event-time timeout — the same bound
    * dropDuplicatesWithinWatermark gives, but with a DETERMINISTIC
    * within-batch survivor: arrivals sharing a digest in one
    * micro-batch reduce to min(doc_id, line_no), the batch
    * operator's pinned choice, so attribution is identical across
    * re-runs and partitionings). Emits the SURVIVING line
    * occurrences (doc_id, ts, line_no, line); a sink reassembles per
    * doc. State is bounded by distinct new digests × TTL.
    */
  def dedupLinesStream(incoming: DataFrame, corpusDigests: DataFrame,
      watermark: String = "10 minutes",
      ttlMs: Long = 10 * 60 * 1000): DataFrame = {
    import incoming.sparkSession.implicits._
    graft.operators.DedupOps.lineFrame(
        incoming.select(col("doc_id"), col("ts"), col("text")))
      .withWatermark("ts", watermark)
      .join(corpusDigests, Seq("h"), "left_anti")
      .select("doc_id", "ts", "line_no", "line", "h")
      .as[LineOcc]
      .groupByKey(_.h)
      .flatMapGroupsWithState(OutputMode.Append(), GroupStateTimeout.EventTimeTimeout)(
        (_: String, it: Iterator[LineOcc], state: GroupState[Boolean]) => {
          if (state.hasTimedOut) { state.remove(); Iterator.empty }
          else {
            // DETERMINISTIC within-batch survivor: the batch operator
            // pins min(doc_id, line_no); reduce the batch's arrivals
            // the same way before consulting state, so attribution is
            // identical across re-runs and partitionings
            val occs = it.toSeq
            val first = occs.minBy(o => (o.doc_id, o.line_no))
            val fresh = !state.exists
            state.update(true)
            state.setTimeoutTimestamp(math.max(
              occs.map(_.ts.getTime).max + ttlMs,
              state.getCurrentWatermarkMs() + 1))
            if (fresh) Iterator.single(first) else Iterator.empty
          }
        })
      .toDF()
  }

  /** [[dedupLinesStream]] against the standing corpus of `dir` (docs
    * outside the incoming doc_id % 10 = 7 partition — the E15 split).
    */
  def dedupLinesStreamFor(spark: org.apache.spark.sql.SparkSession, dir: String,
      incoming: DataFrame, watermark: String = "10 minutes"): DataFrame =
    dedupLinesStream(incoming,
      graft.operators.DedupOps.corpusLineDigests(spark, dir), watermark)

  /** E33 from the PERSISTED digest layout (D36k): a restarted ingest
    * pipeline makes the `line_digests` table servable (catalog /
    * re-register — the corpus is never re-lined) and anti-joins
    * arrivals against it.
    */
  def dedupLinesStreamFromLayout(spark: org.apache.spark.sql.SparkSession,
      dir: String, incoming: DataFrame,
      watermark: String = "10 minutes"): DataFrame =
    dedupLinesStream(incoming,
      graft.operators.LayoutOps.table(spark, dir, "line_digests"), watermark)

  /** E37: streaming vocabulary novelty — the drift monitor's (D55)
    * ingest face: arriving documents' (lang, tok) pairs deduplicate
    * against the vocabulary the stream has already admitted
    * (dropDuplicates state = the delta vocabulary, exactly the set
    * the batch monitor enumerates) and LEFT ANTI join the STANDING
    * distribution (memoized frame or the persisted drift_base table —
    * stream-static, never reshuffled per batch). What survives is a
    * token the standing corpus has NEVER seen — the leading indicator
    * of a spam campaign or encoding regression — emitted as a
    * reviewable (lang, tok) feed in append mode. Per-lang row counts
    * equal corpus_drift_summary's new_tokens (parity-pinned); state
    * is vocab-bounded, independent of document volume.
    */
  def vocabNoveltyStream(incoming: DataFrame, base: DataFrame): DataFrame =
    incoming
      .select(col("lang"),
        explode(graft.functions.TextFns.tokens(col("text"))).as("tok"))
      .dropDuplicates("lang", "tok")
      .join(base.select("lang", "tok"), Seq("lang", "tok"), "left_anti")

  /** [[vocabNoveltyStream]] against the session's standing counts. */
  def vocabNoveltyStreamFor(spark: org.apache.spark.sql.SparkSession,
      dir: String, incoming: DataFrame): DataFrame =
    vocabNoveltyStream(incoming,
      graft.operators.ProfileOps.driftBaseFrame(spark, dir))

  /** E34: the D49 Gopher battery at ingest time — a stateless
    * map-only plan (the E16 shape): per-document rule verdicts emit
    * with the arriving micro-batch, no stream state beyond source
    * offsets. Same expressions as the batch query via the shared
    * [[graft.operators.TextOps.gopherRulesOn]], so batch and stream
    * cannot drift. Incoming frame: (doc_id, text, n_chars, ...).
    */
  def gopherRulesStream(incoming: DataFrame): DataFrame =
    graft.operators.TextOps.gopherRulesOn(incoming)

  /** E36: streaming perceptual image dedup — the multimodal member of
    * the ingest-gate family: each arriving image payload is decoded
    * and dHash56-hashed IN-ROW through the real codec (unparseable
    * bytes drop out, the F-family fallback contract), banded by the
    * SHARED 4 × 14-bit definition, and probed against the STANDING
    * corpus band index via a stream-static equi-join (the corpus is a
    * memoized/persistable artifact, never reshuffled per batch);
    * band cohabitants verify by exact Hamming ≤ τ.
    * `dropDuplicatesWithinWatermark` collapses multi-band candidate
    * copies and suppresses re-arrivals, so state is bounded by
    * emitted pairs × watermark. Incoming: (doc_id, ts, bytes).
    */
  def imageDedupStream(incoming: DataFrame, corpusBands: DataFrame,
      watermark: String = "10 minutes", tau: Int = 6): DataFrame = {
    import incoming.sparkSession.implicits._
    import graft.multimodal.MultimodalOps
    val hashed = incoming
      .select(col("doc_id"), col("ts"), col("bytes"))
      .as[(Long, java.sql.Timestamp, Array[Byte])]
      .flatMap { case (id, ts, bytes) =>
        MultimodalOps.dHashBytes(bytes).map(h => (id, ts, h))
      }
      .toDF("a_id", "ts", "dhash")
    MultimodalOps.withDHashBands(hashed)
      .withWatermark("ts", watermark)
      .join(corpusBands, Seq("band_id", "band_val"))
      .filter(col("a_id") =!= col("b_id"))
      .withColumn("hamming",
        bit_count(col("dhash").bitwiseXOR(col("dh_b"))).cast("long"))
      .filter(col("hamming") <= tau)
      .dropDuplicatesWithinWatermark("a_id", "b_id")
      .select("a_id", "b_id", "ts", "hamming")
  }

  /** [[imageDedupStream]] against the standing corpus index of `dir`
    * (images outside the doc_id % 10 = 7 incoming split).
    */
  def imageDedupStreamFor(spark: org.apache.spark.sql.SparkSession,
      dir: String, incoming: DataFrame,
      watermark: String = "10 minutes", tau: Int = 6): DataFrame =
    imageDedupStream(incoming,
      graft.multimodal.MultimodalOps.standingImageBands(spark, dir),
      watermark, tau)

  /** E16: streaming decontamination — D22's ingest-time face: the
    * eval-leak gate a crawl pipeline runs BEFORE a document enters the
    * corpus. The eval set is collected once into a literal (benchmark
    * suites are driver-sized next to a 100 TB corpus) and each
    * incoming doc's distinct 3-gram shingles are intersected against
    * every eval doc IN-ROW — a stateless map-only plan: no stream
    * state beyond source offsets, verdicts emit with the arriving
    * micro-batch, and throughput scales with executors alone.
    * Semantics match CurationOps.decontaminate: n_hits = |shared
    * distinct shingles|, emitted when ≥ minHits.
    */
  def decontaminateStream(incoming: DataFrame, evalSet: DataFrame,
      minHits: Int = 2): DataFrame = {
    import org.apache.spark.sql.types.{DoubleType, LongType}
    val ev: Seq[EvalShingles] = evalSet
      .withColumn("toks", graft.functions.TextFns.tokens(col("text")))
      .filter(size(col("toks")) >= 3)
      .select(col("eval_id"), graft.functions.TextFns.shingles3(col("toks")).as("ev_sh"))
      .collect().toSeq
      .map(r => EvalShingles(r.getLong(0), r.getSeq[String](1)))
    incoming
      .withColumn("toks", graft.functions.TextFns.tokens(col("text")))
      .filter(size(col("toks")) >= 3)
      .withColumn("sh", graft.functions.TextFns.shingles3(col("toks")))
      .withColumn("nsh", size(col("sh")).cast(LongType))
      .withColumn("ev", explode(typedLit(ev)))
      .withColumn("n_hits",
        size(array_intersect(col("sh"), col("ev.ev_sh"))).cast(LongType))
      .filter(col("n_hits") >= minHits)
      .select(col("doc_id"), col("ev.eval_id").as("eval_id"), col("ts"),
        col("n_hits"),
        (col("n_hits").cast(DoubleType) / col("nsh").cast(DoubleType))
          .as("hit_frac"))
  }

  /** E18: streaming trending — top-k event types per closed tumbling
    * hour (the continuous "what's hot" board; batch dual:
    * EventOps.trending). Two chained event-time aggregations — the
    * supported append-mode shape: per-(window, type) counts, then the
    * per-window top-k computed IN-ROW over the window's collected
    * (count, type) pairs when the watermark closes it (array_sort on
    * negated counts — no rank function, no second sort shuffle). State
    * is bounded by |types| per open window.
    */
  def trendingStream(events: DataFrame, k: Int = 3,
      watermark: String = "0 seconds"): DataFrame = {
    import org.apache.spark.sql.types.LongType
    val counts = events
      .withWatermark("ts", watermark)
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n_events"))
    counts
      .groupBy(col("window"))
      .agg(collect_list(struct((-col("n_events")).as("neg"),
        col("event_type").as("t"), col("n_events").as("n"))).as("cs"))
      .select(col("window.start").as("bucket"),
        posexplode(slice(array_sort(col("cs")), 1, k)).as(Seq("i", "e")))
      .select(col("bucket"), col("e.t").as("event_type"),
        col("e.n").as("n_events"), (col("i") + 1).cast(LongType).as("rnk"))
  }

  /** E19: streaming per-window cardinality — approx_count_distinct
    * inside a watermarked tumbling window: the HLL sketch is the ONLY
    * state (fixed width per (window, type)) and merges associatively
    * across micro-batches, so state is independent of user count —
    * the streaming dual of EventOps.cardinalityApprox, where an exact
    * streaming distinct would hold every id in state. Sketch merge is
    * deterministic: the streamed estimate equals the batch estimate
    * bit-for-bit (StreamBatchParitySpec).
    */
  def cardinalityStream(events: DataFrame,
      watermark: String = "0 seconds"): DataFrame =
    events.withWatermark("ts", watermark)
      .groupBy(window(col("ts"), "1 day"), col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        approx_count_distinct(col("user_id"), 0.02).as("n_users"))
      .select(col("window.start").as("bucket"), col("event_type"),
        col("n_events"), col("n_users"))

  /** E24: streaming heavy hitters — the G11 Misra–Gries aggregate as
    * WINDOWED STREAM STATE: per tumbling day the state store carries
    * one serialized sketch of `capacity` counters (exactly like E19's
    * HLL buffer), merged across micro-batches by the MG merge rule —
    * state per window is O(capacity) no matter how many distinct keys
    * arrive, where an exact streamed count holds every key. With
    * capacity ≥ the window's distinct keys the sketch never overflows
    * and counters are pure counts ⇒ the streamed result equals the
    * batch exact counts bit-for-bit (parity spec); under overflow the
    * MG bounds hold regardless of how arrivals fall into
    * micro-batches.
    */
  def heavyHittersStream(events: DataFrame, capacity: Int = 16,
      watermark: String = "0 seconds"): DataFrame =
    events.withWatermark("ts", watermark)
      .groupBy(window(col("ts"), "1 day"))
      .agg(graft.functions.FreqSketch.mgSketch(col("event_type"), capacity)
        .as("sk"))
      .select(col("window.start").as("bucket"),
        posexplode(col("sk")).as(Seq("i", "e")))
      .select(col("bucket"), col("e.key").as("event_type"),
        col("e.cnt").as("est_cnt"),
        (col("i") + 1).cast(org.apache.spark.sql.types.LongType).as("rnk"))

  /** E17: the streaming ingest gate — every arriving document judged
    * by the three curation gates in ONE stream, emitted as a verdict
    * LEDGER (one row per (doc, reason), reasons ∈ {exact_dup,
    * near_dup, contaminated}); a sink keeps the docs absent from the
    * ledger. Ledger-of-events beats a wide per-doc row here: each leg
    * stays a stateless map / stream-static probe of a standing index
    * (Bloom + checksum set, LSH band sigs, literal eval shingles) and
    * no stream-stream join or per-doc stateful aggregation is ever
    * needed — state is only the (doc, reason) suppression window.
    *
    *   exact_dup     — in-row Bloom pre-filter (D15c's filter), then
    *                   verified against the static checksum set;
    *   near_dup      — [[nearDupStream]]'s LSH-verified pairs,
    *                   collapsed to the arriving doc;
    *   contaminated  — [[decontaminateStream]]'s eval hits.
    */
  def ingestGateStream(spark: org.apache.spark.sql.SparkSession, dir: String,
      incoming: DataFrame, evalSet: DataFrame, tau: Double = 0.5,
      minHits: Int = 2, watermark: String = "10 minutes"): DataFrame = {
    val corpus = graft.Tables.documents(spark, dir)
      .filter(col("doc_id") % 10 =!= 7)
    val bloom = graft.Memo.value(spark, s"ckBloom:$dir") {
      graft.functions.BloomFns.build(
        corpus.select(md5(col("text")).as("ck")), col("ck"),
        math.max(corpus.count(), 1L))
    }
    val cks = corpus.select(md5(col("text")).as("ck")).distinct()
    val exact = incoming.withColumn("ck", md5(col("text")))
      .filter(graft.functions.BloomFns.mightContain(bloom, col("ck")))
      .join(cks, "ck")
      .select(col("doc_id"), col("ts"), lit("exact_dup").as("reason"))
    val near = nearDupStreamFor(spark, dir, incoming, tau, watermark)
      .select(col("a_id").as("doc_id"), col("ts"),
        lit("near_dup").as("reason"))
    val cont = decontaminateStream(incoming, evalSet, minHits)
      .select(col("doc_id"), col("ts"), lit("contaminated").as("reason"))
    // each leg watermarks its own branch (the near leg already does,
    // inside nearDupStream); the union inherits the combined watermark
    exact.withWatermark("ts", watermark)
      .unionByName(near)
      .unionByName(cont.withWatermark("ts", watermark))
      .dropDuplicatesWithinWatermark("doc_id", "reason")
  }

  /** E20: online vector search — the SERVING face of the composed
    * ANN index: each micro-batch of arriving query vectors probes the
    * session's standing coded lists over the same session handle the
    * batch API ([[graft.operators.AnnOps.ivfPqSearch]]) searches, built
    * once at stream start, so stream results are batch-identical by
    * construction (parity-tested). Per-batch cost is O(|batch| ·
    * nprobe · list) — the corpus layout is session-resident and never
    * re-scanned or shuffled; this is the ivfpq twin of
    * [[nearDupStreamFor]]'s standing-index probe shape.
    */
  def annSearchStream(spark: org.apache.spark.sql.SparkSession, dir: String,
      queries: DataFrame, sink: (DataFrame, Long) => Unit,
      nprobe: Int = graft.operators.AnnOps.IvfPqNprobe,
      r: Int = graft.operators.AnnOps.IvfPqR, k: Int = 10)
      : org.apache.spark.sql.streaming.StreamingQuery =
    annSearchStreamOn(spark, dir,
      graft.operators.AnnOps.sessionServing(spark, dir,
        graft.operators.AnnOps.SessionIndex.Pq), queries, sink,
      nprobe, r, k)

  /** E20b: [[annSearchStream]] served from the PERSISTED layout — the
    * restart story for online vector search: a fresh session makes the
    * index tables servable (catalog hit / re-register over surviving
    * files — [[graft.sources.LayoutStore.ensure]]), collects the two
    * tiny model artifacts ONCE at stream start, and then every
    * micro-batch of query vectors resolves the bucketed coded-lists
    * table through the catalog and probes it, its rows carrying the
    * re-rank floats beside the codes — so a compaction while the stream
    * runs is served by the next batch. No session memo, no rebuild, no
    * corpus work per batch: a batch reads its probed buckets and
    * nothing else — exactly what an ANN serving tier does after a
    * deploy or failover.
    */
  def annSearchStreamFromLayout(spark: org.apache.spark.sql.SparkSession,
      dir: String, queries: DataFrame, sink: (DataFrame, Long) => Unit,
      nprobe: Int = graft.operators.AnnOps.IvfPqNprobe,
      r: Int = graft.operators.AnnOps.IvfPqR, k: Int = 10)
      : org.apache.spark.sql.streaming.StreamingQuery =
    annSearchStreamOn(spark, dir,
      graft.operators.LayoutOps.ivfPqServing(spark, dir), queries, sink,
      nprobe, r, k)

  /** The one streaming search body over a serving handle: foreachBatch,
    * because the bounded-heap TopK exec is a batch physical operator.
    */
  private def annSearchStreamOn(spark: org.apache.spark.sql.SparkSession,
      dir: String, sv: graft.operators.AnnOps.IvfPqServing,
      queries: DataFrame, sink: (DataFrame, Long) => Unit, nprobe: Int,
      r: Int, k: Int): org.apache.spark.sql.streaming.StreamingQuery =
    queries.writeStream
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        sink(graft.operators.AnnOps.ivfPqSearchTables(spark, dir, sv,
          batch, nprobe, r, k), batchId)
      }
      .start()

  /** E47: online graph-ANN serving from the PERSISTED k-NN graph —
    * each micro-batch of arriving query vectors walks the standing
    * adjacency (re-registered at stream start, bucketed by source
    * node so every beam hop is a bucket-pruned id probe) through the
    * same [[graft.operators.AnnOps.graphSearchOn]] path the batch API
    * uses (foreachBatch — the bounded-heap TopK exec is a batch
    * physical operator), so stream results are batch-identical by
    * construction (parity-tested). Per-batch cost is
    * |batch|·hops·beam·K sims — independent of corpus size, the
    * graph family's serving contract; no rebuild, no corpus work. The
    * three tables are made servable once, at stream start, and each
    * micro-batch reads them through the catalog (as the IVF handle
    * reads its lists), so a compaction under the running stream is
    * served instead of a superseded file listing.
    */
  def graphSearchStreamFromLayout(spark: org.apache.spark.sql.SparkSession,
      dir: String, queries: DataFrame, sink: (DataFrame, Long) => Unit,
      hops: Int = graft.operators.AnnOps.GraphHops,
      beam: Int = graft.operators.AnnOps.GraphBeam, k: Int = 10)
      : org.apache.spark.sql.streaming.StreamingQuery = {
    val Seq(adj, down, anchors) = Seq("graph_adj", "graph_down", "graph_anchors")
      .map(graft.operators.LayoutOps.servableTable(spark, dir, _))
    def read(t: String) = graft.sources.LayoutStore.read(spark, t)
    queries.writeStream
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        sink(graft.operators.AnnOps.graphSearchOn(spark, dir,
          graft.operators.AnnOps.walkEdges(read(adj), read(down)), read(anchors),
          batch, hops, beam, k), batchId)
      }
      .start()
  }

  /** E48: streaming maintenance of the PERSISTED k-NN graph — each
    * micro-batch of arriving vectors walks the IMMUTABLE base graph
    * for its out-edges (batch-append semantics: every arrival's walk
    * sees the same base regardless of how arrivals split into
    * micro-batches, so the stream-grown graph equals the batch
    * [[graft.operators.AnnOps.graphAppendedAdjV]] bit-for-bit —
    * parity-spec'd), and appends out-edges + reverse proposals to the
    * stream-owned `graph_delta` table (the E42 delta-table
    * discipline). Re-delivered arrivals are dropped by an exact
    * anti-join against the delta's already-folded FORWARD-edge
    * sources — fwd/rev rows are TAGGED in the delta (ADVICE r12: the
    * r12 guard anti-joined ALL delta srcs, and reverse proposals'
    * srcs are base node ids, so an arrival whose id equaled a
    * previously-touched base node was silently swallowed). The tag
    * keeps the guard DELTA-SIZED per micro-batch: no scan or distinct
    * of the standing graph — the scale shape a daily-delta stream
    * needs.
    *
    * Crash-mid-append: `LayoutStore.append` is a plain parquet write,
    * not a transaction — a crash can leave an arrival's fold partially
    * on disk. Fold completion is therefore recorded EXPLICITLY: each
    * fold appends one self-row marker per arrival whose `sim` carries
    * its forward-edge count (see
    * [[graft.operators.AnnOps.graphUpkeepEdges]]), and the guard
    * counts a src folded only when its on-disk forward rows reach its
    * marker's count (ADVICE r13: the old fixed `>= GraphK` floor
    * re-walked FOREVER any arrival whose walk legitimately reached
    * fewer than GraphK candidates — a small or sparsely-connected
    * corpus — growing the delta unboundedly). A partial fold (edges
    * short of the marker count, or no marker) re-walks on replay, and
    * because the walk is deterministic over the IMMUTABLE base graph
    * the re-fold's rows are bit-identical to the partial ones — the
    * serving merge ([[graft.operators.AnnOps.graphMergedAdjV]])
    * drops the markers and collapses such duplicates exactly
    * ((src,dst) dedup of bit-identical rows on the delta side), so a
    * crash degrades to benign re-work, never to a lost or doubled
    * edge. The merge re-ranks base ∪ delta per node in one bounded
    * heap — new points become findable with ZERO rebuild of the
    * standing graph.
    */
  def graphUpkeepStream(spark: org.apache.spark.sql.SparkSession,
      dir: String, arrivals: DataFrame)
      : org.apache.spark.sql.streaming.StreamingQuery = {
    import graft.operators.LayoutOps
    val fam = LayoutOps.families.find(_.name == "graph_delta").get
    val t = LayoutOps.tableName(fam, dir)
    LayoutOps.ensure(spark, dir, "graph_delta")
    val base = LayoutOps.table(spark, dir, "graph_adj")
    val down = LayoutOps.table(spark, dir, "graph_down")
    val anchors = LayoutOps.table(spark, dir, "graph_anchors")
    arrivals.writeStream
      .foreachBatch { (batch: DataFrame, _: Long) =>
        // replay guard: an arrival already folded appears as the src
        // of its completion MARKER (the self-row whose sim = its
        // forward-edge count) plus that many forward edges (fwd=true —
        // reverse proposals share the table but carry fwd=false, so a
        // touched base node's id can never swallow an arrival).
        // Delta-sized work per batch — the standing graph is never
        // scanned. No marker, or fewer on-disk edges than the marker
        // promises (a crashed partial fold), reads as unfolded — see
        // the scaladoc. max() over markers: a healed partial can hold
        // the bit-identical marker twice. nf counts DISTINCT forward
        // dsts, not rows: two crashed partial folds can stack
        // OVERLAPPING edge subsets (e1..e10 then e1..e8 = 18 rows but
        // only 10 distinct edges), and a row count would read the
        // overlap as completion while edges are still missing — the
        // 'never a lost edge' guarantee holds only against the
        // distinct on-disk edge set.
        val folded = graft.sources.LayoutStore.read(spark, t)
          .filter(col("fwd"))
          .groupBy(col("src")).agg(
            max(when(col("dst") === col("src"), col("sim")))
              .as("expected"),
            countDistinct(when(col("dst") =!= col("src"), col("dst")))
              .as("nf"))
          .filter(col("nf") >= col("expected"))
          .select(col("src").as("vec_id"))
        val fresh = batch.join(folded, Seq("vec_id"), "left_anti")
          .persist()
        try {
          if (fresh.count() > 0) {
            val edges = graft.operators.AnnOps.graphUpkeepEdges(spark, dir,
              base, down, anchors, fresh).persist()
            edges.count() // materialize before the append touches the table
            graft.sources.LayoutStore.append(spark, t, edges,
              Seq(fam.bucketKey), fam.buckets)
            edges.unpersist()
            ()
          }
        } finally { fresh.unpersist(); () }
      }
      .start()
  }

  /** E21: streaming maintenance of the PERSISTED manifest — each
    * micro-batch of crawled documents folds its NEW checksums into the
    * stream-owned keeper map (the upkeep_ck layout table, seeded
    * identically to the corpus_ck table D36e probes; the oracled probe
    * keeps its own immutable table so stream appends can never drift
    * an oracle-pinned result): batch → (ck, min doc_id), anti-join
    * against the standing table, bucketed append of only the
    * genuinely-new rows. Replayed batches (at-least-once re-delivery
    * after a restart) re-resolve to zero new rows, so the table
    * converges exactly-once per checksum; and because the table is an
    * external layout, catalog death loses nothing — a restarted stream
    * re-registers over the surviving files and keeps appending.
    *
    * Keeper semantics are FIRST-SEEN-WINS (min doc_id within the
    * arrival batch): standing keepers are stable and never displaced
    * by later arrivals — the streaming upsert contract (cf.
    * dropDuplicates). Cross-batch arrival order can therefore pick a
    * different (equally valid) keeper than a batch rebuild's global
    * min; the BATCH incremental path (corpus_build_incremental) is the
    * one that implements min-displacement when that semantic is
    * needed. Spec-pinned: a later batch carrying a smaller doc_id for
    * an existing checksum changes nothing.
    *
    * At 100 TB this is the manifest's steady state: the daily crawl
    * shuffles only ITSELF (batch-sized groupBy + anti-join against a
    * bucketed table), the corpus is never read.
    */
  /** E42: streaming inverted-index upkeep — the continuous face of
    * D70 (postings_incremental). Arriving documents tokenize inside
    * their micro-batch; per-document (tok, tf) rows for documents not
    * already indexed append to the stream-owned `postings_delta`
    * layout (bucketed on tok, like every postings artifact), and the
    * D70 merge (`postingsServedWithDelta`) serves current postings
    * from the two tables at any moment — including from a restarted
    * session.
    *
    * Re-arrival suppression anti-joins the batch's doc ids against
    * BOTH id sets the served merge already covers: the delta table's
    * indexed ids (replayed micro-batches — restart recovery — resolve
    * to zero fresh documents) AND the base index's doc ids (the
    * `postings_basedocs` sidecar, derived from postings_base itself),
    * so a stream that re-delivers an already-indexed corpus document
    * appends nothing instead of inflating df/total_tf and duplicating
    * the doc in the merged list. The table converges exactly-once per
    * document with NO disjointness precondition on what the stream
    * carries.
    *
    * The BASE probe is Bloom-gated (r12, the D15c device): the base
    * index is immutable, so one BloomFilterAggregate over the
    * basedocs sidecar at stream start (~1.2 B/doc at 3% FPP) turns
    * the every-batch anti-join against a corpus-sized id table into
    * an in-row filter — a Bloom miss is a DEFINITIVE non-member and
    * skips the exact probe entirely; only the positives (true base
    * docs + ~3% false positives) pay the anti-join, whose result
    * corrects the FPs. Appends are bit-identical to the ungated
    * plan (spec parity incl. replayed batches and base re-delivery);
    * at 100 TB the per-batch exact-probe volume drops from the whole
    * batch to ~the re-delivered fraction. The delta-side probe stays
    * an exact distinct-id scan — that table is stream-owned and
    * compaction-bounded.
    *
    * Scale shape: each batch shuffles only ITSELF (its tokenize
    * groupBy + the append's bucket exchange); the standing index is
    * never read beyond the bloom-gated id probe and never rewritten —
    * the same steady state as the E21 manifest upkeep.
    */
  def postingsUpkeepStream(spark: org.apache.spark.sql.SparkSession,
      dir: String, docs: DataFrame)
      : org.apache.spark.sql.streaming.StreamingQuery = {
    import graft.operators.LayoutOps
    val fam = LayoutOps.families.find(_.name == "postings_delta").get
    val t = LayoutOps.tableName(fam, dir)
    LayoutOps.ensure(spark, dir, "postings_delta")
    // base-index membership, resolved once at stream start (the base
    // is immutable — only the delta table grows); the Bloom build is
    // one aggregation job over the sidecar
    val baseDocs = LayoutOps.table(spark, dir, "postings_basedocs")
    val baseBloom = graft.functions.BloomFns.build(baseDocs,
      col("doc_id"), math.max(baseDocs.count(), 1L))
    docs.writeStream
      .foreachBatch { (batch: DataFrame, _: Long) =>
        // materialize the fresh rows BEFORE the append starts so the
        // anti-join's table scan cannot race the table write
        val fresh = postingsFresh(spark, t, baseDocs, baseBloom, batch)
          .persist()
        try {
          if (fresh.count() > 0)
            graft.sources.LayoutStore.append(spark, t, fresh,
              Seq(fam.bucketKey), fam.buckets)
        } finally { fresh.unpersist(); () }
      }
      .start()
  }

  /** E42's per-batch fresh-row derivation, factored for the spec: the
    * batch's (doc, tok, tf) rows minus already-indexed docs — delta
    * ids by exact anti-join, base ids by the Bloom gate (miss ⇒ keep
    * in-row; positive ⇒ exact anti-join catches the ~3% FPs).
    */
  private[graft] def postingsFresh(spark: org.apache.spark.sql.SparkSession,
      t: String, baseDocs: DataFrame, baseBloom: Array[Byte],
      batch: DataFrame): DataFrame = {
    import graft.operators.TextOps
    val indexed = graft.sources.LayoutStore.read(spark, t)
      .select("doc_id").distinct()
    val tf = TextOps.tfOf(batch).join(indexed, Seq("doc_id"), "left_anti")
    val mightBase = graft.functions.BloomFns.mightContain(baseBloom,
      col("doc_id"))
    tf.filter(!mightBase)
      .unionByName(tf.filter(mightBase)
        .join(baseDocs, Seq("doc_id"), "left_anti"))
  }

  def manifestUpkeepStream(spark: org.apache.spark.sql.SparkSession,
      dir: String, docs: DataFrame)
      : org.apache.spark.sql.streaming.StreamingQuery = {
    import graft.operators.LayoutOps
    import graft.sources.LayoutStore
    val fam = LayoutOps.families.find(_.name == "upkeep_ck").get
    val t = LayoutOps.tableName(fam, dir)
    LayoutOps.ensure(spark, dir, "upkeep_ck")
    docs.writeStream
      .foreachBatch { (batch: DataFrame, _: Long) =>
        val incoming = batch
          .groupBy(md5(col("text")).as("ck"))
          .agg(min(col("doc_id")).as("m_std"))
        // materialize the fresh rows BEFORE the append starts so the
        // anti-join's table scan cannot race the table write
        val fresh = incoming
          .join(LayoutStore.read(spark, t), Seq("ck"), "left_anti")
          .persist()
        try {
          if (fresh.count() > 0)
            LayoutStore.append(spark, t, fresh, Seq(fam.bucketKey),
              fam.buckets)
        } finally { fresh.unpersist(); () }
      }
      .start()
  }

  /** The reference's Kafka record schema (handler/kafka.go:40-105),
    * verbatim field list.
    */
  val RecordSchemaJson: String =
    """{"type":"struct","name":"dcagent_value","fields":[""" +
      """{"field":"file_date","type":"string"},{"field":"file_time","type":"int64"},""" +
      """{"field":"folder","type":"string"},{"field":"pack","type":"string"},""" +
      """{"field":"name","type":"string"},{"field":"size","type":"int64"},""" +
      """{"field":"modify_time","type":"int64"},{"field":"content","type":"string"},""" +
      """{"field":"compress","type":"boolean"},{"field":"compress_size","type":"int64"},""" +
      """{"field":"checksum","type":"string"},{"field":"host","type":"string"},""" +
      """{"field":"folder_time","type":"int64"}]}"""

  /** E4: Kafka sink envelope — (key, value) columns, value in the
    * selected wire encoding: the reference's {schema, payload} JSON
    * shape, or Confluent-framed Avro binary
    * ([[graft.functions.AvroEnvelope]]). Both are pluggable onto
    * writeStream.format("kafka") unchanged (Kafka accepts string or
    * binary value columns).
    */
  def kafkaEnvelope(records: DataFrame,
      wire: WireEncoding = JsonWire): DataFrame = {
    val payload = struct(
      col("file_date"), col("file_time"), col("folder"), col("pack"),
      col("name"), col("size"), col("modify_time"), col("content"),
      col("compress"), col("compress_size"), col("checksum"), col("host"),
      col("folder_time"))
    val key = PathFns.kafkaKey(col("folder"), col("pack"), col("name")).as("key")
    wire match {
      case JsonWire =>
        records.select(key,
          concat(lit("{\"schema\":"), lit(RecordSchemaJson),
            lit(",\"payload\":"), to_json(payload), lit("}")).as("value"))
      case AvroWire(schemaId) =>
        records.select(key,
          graft.functions.AvroEnvelope.envelope(payload, schemaId).as("value"))
    }
  }

  /** E22: streaming LM quality scoring — each arriving document scored
    * in-row against the reference bigram LM (batch dual: D38
    * `doc_lm_score`; layouts: D38b). The count tables are collected
    * ONCE at stream start and broadcast — the in-process-model serving
    * shape (what a KenLM-style scorer does), the same pattern as
    * [[annSearchStreamFromLayout]]'s collected quantizer. That makes
    * the plan STATELESS map-only: no stream state beyond source
    * offsets, verdicts emit with the arriving micro-batch, throughput
    * scales with executors alone. At 100 TB a serving LM prunes /
    * quantizes its count tables to broadcastable size (the standard
    * trade); the batch operator remains the full-fidelity scale path.
    * Scoring arithmetic is the same integer Q10 kernel
    * ([[graft.functions.IntMath.qlog2]]) — streamed scores equal batch
    * scores bit-for-bit (StreamBatchParitySpec).
    */
  def lmScoreStream(spark: org.apache.spark.sql.SparkSession,
      cu: DataFrame, cb: DataFrame, incoming: DataFrame,
      carryCols: Seq[String] = Nil): DataFrame = {
    import graft.functions.IntMath
    import org.apache.spark.sql.types.{DoubleType, LongType}
    val uni: Map[String, Long] = cu.collect()
      .map(r => r.getAs[String]("tok") -> r.getAs[Long]("c_tok")).toMap
    val bi: Map[(String, String), Long] = cb.collect()
      .map(r => (r.getAs[String]("tok1"), r.getAs[String]("tok2")) ->
        r.getAs[Long]("c_ab")).toMap
    val n: Long = uni.valuesIterator.sum
    val bUni = spark.sparkContext.broadcast(uni)
    val bBi = spark.sparkContext.broadcast(bi)
    val score = udf { text: String =>
      // split(" ", -1) == functions.split limit semantics (keep
      // trailing empties) — exact token parity with the batch path
      val ts = text.split(" ", -1)
      var x = 0L
      var i = 0
      while (i < ts.length - 1) {
        x += (bBi.value.get((ts(i), ts(i + 1))) match {
          case Some(cab) =>
            IntMath.qlog2(bUni.value(ts(i))) - IntMath.qlog2(cab)
          case None =>
            IntMath.qlog2(n) -
              IntMath.qlog2(bUni.value.getOrElse(ts(i + 1), 1L)) + 4096L
        })
        i += 1
      }
      ((ts.length - 1).toLong, x)
    }
    incoming
      .filter(size(split(col("text"), " ")) >= 2)
      .withColumn("s", score(col("text")))
      .select(col("doc_id") +: col("ts") +: carryCols.map(col) :+
        col("s._1").cast(LongType).as("n_trans") :+
        col("s._2").cast(LongType).as("xent_q10"): _*)
      .withColumn("bits_per_trans", col("xent_q10").cast(DoubleType)
        / (lit(1024.0) * col("n_trans").cast(DoubleType)))
  }

  /** E35: streaming perplexity tiering — arriving documents scored
    * in-row against the standing bigram LM (the E22 plan, still
    * stateless map-only) and assigned a CCNet tier against FROZEN
    * per-lang cutoffs derived from the standing corpus's own score
    * distribution (a |langs|-row broadcast). The serving shape of
    * D38c: the crawl is bucketed on arrival without re-ranking the
    * corpus; cutoffs refresh when the standing LM layout does.
    */
  def lmTierStream(spark: org.apache.spark.sql.SparkSession, dir: String,
      incoming: DataFrame): DataFrame = {
    import graft.operators.TextOps
    // LEFT join: a language the standing corpus has never seen has no
    // cutoffs — those docs surface as tier "unknown" (for a manual
    // queue / re-cut decision), never silently vanish from the stream
    lmScoreStream(spark, TextOps.lmUnigramFrame(spark, dir),
        TextOps.lmBigramFrame(spark, dir), incoming, carryCols = Seq("lang"))
      .join(broadcast(TextOps.lmStandingCuts(spark, dir)), Seq("lang"), "left")
      .withColumn("tier", when(col("c_head").isNull, lit("unknown"))
        .otherwise(TextOps.tierCol(col("bits_per_trans"),
          col("c_head"), col("c_mid"))))
      .select("doc_id", "ts", "lang", "n_trans", "bits_per_trans", "tier")
  }

  /** E40: the NB gate's ingest face — arriving documents classified
    * in-row against the FROZEN standing model (pass the memoized
    * frames for a live session or the persisted nb_counts/nb_classes
    * tables for a restarted one — same code either way), stateless
    * map-only like E34/E35: the vocab-bounded count map collects to a
    * broadcast once at stream build; each arrival folds its own
    * tokens per class with the SAME qlog2 integer algebra as the
    * batch operator, so parity is exact, not approximate.
    */
  def classifyStream(spark: org.apache.spark.sql.SparkSession,
      classCounts: DataFrame, classDocs: DataFrame,
      incoming: DataFrame): DataFrame = {
    import graft.functions.IntMath
    import org.apache.spark.sql.types.LongType
    val rows = classCounts.collect().map(r =>
      (r.getAs[String]("cls"), r.getAs[String]("tok"), r.getAs[Long]("c")))
    val cc: Map[(String, String), Long] =
      rows.map { case (s, t, c) => (s, t) -> c }.toMap
    val nS: Map[String, Long] =
      rows.groupBy(_._1).view.mapValues(_.map(_._3).sum).toMap
    val v: Long = rows.map(_._2).distinct.length.toLong
    val ndRows = classDocs.collect()
      .map(r => r.getAs[String]("cls") -> r.getAs[Long]("nd"))
    val nd = ndRows.toMap
    val ndTot = ndRows.map(_._2).sum
    val classes = nd.keys.toSeq.sorted
    val bCc = spark.sparkContext.broadcast(cc)
    val pick = udf { text: String =>
      val ts = text.split(" ", -1) // exact batch-tokenizer parity
      var bestS: String = null
      var bestScore = Long.MinValue
      classes.foreach { s =>
        val pen = IntMath.qlog2(nS(s) + v)
        var sc = IntMath.qlog2(nd(s)) - IntMath.qlog2(ndTot)
        var i = 0
        while (i < ts.length) {
          sc += (bCc.value.get((s, ts(i))) match {
            case Some(c) => IntMath.qlog2(c + 1) - pen
            case None => -pen
          })
          i += 1
        }
        // argmax by (score desc, cls asc): classes iterate sorted, so
        // strict > keeps the lexicographically-first max
        if (bestS == null || sc > bestScore) { bestS = s; bestScore = sc }
      }
      (bestS, bestScore)
    }
    incoming
      .withColumn("p", pick(col("text")))
      .select(col("doc_id"),
        col("p._1").as("pred_lang"),
        col("p._2").cast(LongType).as("score_q10"),
        col("lang").as("true_lang"),
        (col("p._1") === col("lang")).as("correct"))
  }

  /** E23: streaming DSIR importance scoring — arriving documents get
    * their hashed-n-gram importance weight in-row against the fitted
    * model (D40's two bucket-count tables, ≤256 rows each, collected
    * once at stream start and broadcast — the in-process-model serving
    * shape of E20b/E22). Stateless map-only plan: no stream state
    * beyond offsets. Same hash, same qlog2, same smoothing as the
    * batch path ⇒ streamed weights equal batch weights bit-for-bit
    * (parity spec); a selection tier would gate on the weight exactly
    * like the E17 ingest gates.
    */
  def importanceScoreStream(spark: org.apache.spark.sql.SparkSession,
      tc: DataFrame, rc: DataFrame, incoming: DataFrame): DataFrame = {
    import org.apache.spark.sql.types.{DoubleType, LongType}
    val t: Map[Long, Long] = tc.collect()
      .map(r => r.getAs[Long]("bucket") -> r.getAs[Long]("ct")).toMap
    val rw: Map[Long, Long] = rc.collect()
      .map(r => r.getAs[Long]("bucket") -> r.getAs[Long]("cr")).toMap
    val nt = t.valuesIterator.sum
    val nr = rw.valuesIterator.sum
    val bT = spark.sparkContext.broadcast(t)
    val bR = spark.sparkContext.broadcast(rw)
    val score = udf { text: String =>
      graft.operators.DsirOps.driverScore(text, bT.value, bR.value, nt, nr)
    }
    incoming
      .withColumn("s", score(col("text")))
      .select(col("doc_id"), col("ts"),
        col("s._1").cast(LongType).as("n_feats"),
        col("s._2").cast(LongType).as("logw_q10"))
      .withColumn("logw_bits",
        col("logw_q10").cast(DoubleType) / lit(1024.0))
  }

  /** E30: streaming volume-anomaly monitor — B22's trailing-baseline
    * z-test as per-type stream state: open days accumulate counts
    * until the watermark passes their end (a day's count is FINAL
    * before it is judged — no retraction), closed counts ride a
    * 7-deep deque, and a closing day is flagged with exactly the
    * batch operator's square-form arithmetic. State per type is
    * O(open days + 7), independent of event volume — the
    * continuous-monitor shape of the B22 report. Parity with the
    * batch flag set on watermark-closed history is pinned in
    * StreamBatchParitySpec.
    */
  def dailyAnomalyStream(events: Dataset[Ev], watermark: String = "1 hour",
      minPrev: Int = 3): Dataset[AnomalyOut] = {
    import events.sparkSession.implicits._
    val DayMs = 86400000L
    events
      .withWatermark("ts", watermark)
      .groupByKey(_.event_type)
      .flatMapGroupsWithState(OutputMode.Append(), GroupStateTimeout.EventTimeTimeout)(
        (typ: String, it: Iterator[Ev], state: GroupState[AnomState]) => {
          var s = state.getOption.getOrElse(AnomState(Map.empty, Nil))
          if (!state.hasTimedOut) it.foreach { e =>
            val d = Math.floorDiv(e.ts.getTime, DayMs) * DayMs
            s = s.copy(openDays =
              s.openDays + (d -> (s.openDays.getOrElse(d, 0L) + 1L)))
          }
          val wm = state.getCurrentWatermarkMs()
          val out = scala.collection.mutable.ArrayBuffer.empty[AnomalyOut]
          val closable = s.openDays.keys.filter(_ + DayMs <= wm).toSeq.sorted
          closable.foreach { d =>
            val cnt = s.openDays(d)
            val prev = s.prev.takeRight(7)
            if (prev.length >= minPrev) {
              // the batch operator's exact double ordering
              val n = prev.length
              val sum = prev.sum
              val sumsq = prev.map(c => c * c).sum
              val mean = sum.toDouble / n
              val variance = (sumsq.toDouble - sum.toDouble * sum.toDouble / n) / n
              if (cnt > mean && (cnt - mean) * (cnt - mean) > 4.0 * variance)
                out += AnomalyOut(typ, new Timestamp(d), cnt, mean, variance)
            }
            s = AnomState(s.openDays - d, (s.prev :+ cnt).takeRight(7))
          }
          state.update(s)
          // wake when the earliest still-open day becomes closable
          if (s.openDays.nonEmpty) {
            val next = s.openDays.keys.min + DayMs
            state.setTimeoutTimestamp(math.max(next, wm + 1L))
          }
          out.iterator
        })
  }

  /** E29: streaming transition pairs — B21's lag chain as per-user
    * stream state: state carries only the LAST event type on each
    * user's timeline (O(1), the changeDetectStream device); every
    * arriving event emits its (prev, next) pair, events foldable
    * within a micro-batch are ordered like the batch lag (ts,
    * event_id). The pair stream feeds the same count/probability
    * aggregation as the batch operator; multiset parity with B21's
    * pairs on time-split feeds is pinned in StreamBatchParitySpec.
    */
  /** E41: B27's continuous face — the EWMA recurrence as O(1) state
    * per (user, type): {count, running ewma}. Within a micro-batch,
    * arrivals fold in the batch operator's order key (ts, event_id);
    * across batches the saved state seeds the next fold. Because
    * every step is two exact power-of-two scalings plus one add, the
    * final emission is BIT-identical to
    * [[graft.operators.EventOps.ewmaSmooth]] no matter where the
    * micro-batch boundaries fall (parity spec'd across a time-ordered
    * split — exact double equality, not a tolerance). Emits the
    * refreshed row once per key per micro-batch; the latest emission
    * per key is the live smoothed value.
    */
  def ewmaStream(events: Dataset[Ev]): Dataset[EwmaOut] = {
    import events.sparkSession.implicits._
    events
      .groupByKey(e => (e.user_id, e.event_type))
      .flatMapGroupsWithState(OutputMode.Append(), GroupStateTimeout.NoTimeout())(
        (key: (Long, String), it: Iterator[Ev], state: GroupState[EwmaState]) => {
          var st = state.getOption.getOrElse(EwmaState(0L, 0.0))
          var last = 0.0
          it.toSeq.sortBy(e => (e.ts.getTime, e.event_id)).foreach { e =>
            st =
              if (st.n == 0L) EwmaState(1L, e.value)
              else EwmaState(st.n + 1, st.ewma * 0.5 + e.value * 0.5)
            last = e.value
          }
          state.update(st)
          Iterator.single(EwmaOut(key._1, key._2, st.n, last, st.ewma))
        })
  }

  def transitionsStream(events: Dataset[Ev]): Dataset[TransitionOut] = {
    import events.sparkSession.implicits._
    events
      .groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append(), GroupStateTimeout.NoTimeout())(
        (user: Long, it: Iterator[Ev], state: GroupState[LastTypeState]) => {
          // the state wrapper distinguishes "no predecessor yet" from
          // "predecessor had a null type" — the batch lag emits no
          // pair in EITHER case, but a null-typed event must still
          // REPLACE the chain head across micro-batches
          var prev = state.getOption.getOrElse(LastTypeState(false, null))
          val out = it.toSeq.sortBy(e => (e.ts.getTime, e.event_id))
            .flatMap { e =>
              val pair =
                if (prev.hasPrev && prev.t != null)
                  Some(TransitionOut(user, e.event_id, e.ts, prev.t,
                    e.event_type))
                else None
              prev = LastTypeState(hasPrev = true, e.event_type)
              pair
            }
          state.update(prev)
          out.iterator
        })
  }

  /** E27: streaming click→purchase attribution — the engine's
    * STREAM–STREAM interval join (every other streaming op is
    * stream-static or keyed-state). Purchases join clicks from the
    * same user within the trailing [[graft.operators.EventOps
    * .AttributionWindowHours]] band; BOTH sides carry event-time
    * watermarks, so Spark derives the state bound from the band: a
    * buffered click is droppable once the purchase-side watermark
    * passes click_ts + window, a buffered purchase once the
    * click-side watermark passes purchase_ts. State is
    * O(events-in-window), not O(stream) — the property that makes the
    * join deployable on an unbounded feed. Exact output parity with
    * [[graft.operators.EventOps.attribution]] is pinned in
    * StreamBatchParitySpec, including pairs whose halves arrive in
    * different micro-batches.
    */
  def attributionStream(clicks: DataFrame, purchases: DataFrame,
      windowHours: Int = graft.operators.EventOps.AttributionWindowHours,
      watermark: String = "1 hour"): DataFrame =
    attributionJoin(clicks, purchases, windowHours, watermark, "inner")
      .select(col("user_id"), col("purchase_id"), col("purchase_ts"),
        col("click_id"), col("click_ts"),
        floor((unix_micros(col("purchase_ts")) - unix_micros(col("click_ts")))
          / lit(60000000L))
          .cast(org.apache.spark.sql.types.LongType).as("mins_before"))

  /** E31: OUTER streaming attribution — B20b's report shape on the
    * live feed: matched touches emit as they join; an UNATTRIBUTED
    * purchase row (null click) emits only once the click-side
    * watermark has passed the purchase's whole trailing band — the
    * null is a PROOF of absence, not a timeout guess. Same state
    * bound as the inner join (the band defines what is droppable).
    */
  def attributionOuterStream(clicks: DataFrame, purchases: DataFrame,
      windowHours: Int = graft.operators.EventOps.AttributionWindowHours,
      watermark: String = "1 hour"): DataFrame =
    attributionJoin(clicks, purchases, windowHours, watermark, "left_outer")
      .select(col("user_id"), col("purchase_id"), col("purchase_ts"),
        col("click_id"), col("click_ts"),
        col("click_id").isNotNull.as("attributed"))

  private def attributionJoin(clicks: DataFrame, purchases: DataFrame,
      windowHours: Int, watermark: String, joinType: String): DataFrame = {
    val c = clicks
      .select(col("user_id").as("c_user"), col("event_id").as("click_id"),
        col("ts").as("click_ts"))
      .withWatermark("click_ts", watermark)
    val p = purchases
      .select(col("user_id"), col("event_id").as("purchase_id"),
        col("ts").as("purchase_ts"))
      .withWatermark("purchase_ts", watermark)
    p.join(c,
      col("user_id") === col("c_user") &&
      col("click_ts") <= col("purchase_ts") &&
      col("click_ts") > col("purchase_ts") -
        expr(s"INTERVAL $windowHours HOURS"), joinType)
  }

  /** E39: B26's continuous face — the KEYLESS range join as a
    * stream-stream join. The bucket rewrite matters MORE here than in
    * batch: Structured Streaming keys its symmetric-hash join state on
    * the equality columns, so a raw `ts ∈ [s, e)` condition (no
    * equality at all) would funnel EVERY buffered row into a single
    * state partition — a 1-task bottleneck at any scale. The synthetic
    * time bucket IS the state key: incidents explode into their ≤ 2
    * covered buckets (graft.operators.EventOps.binnedIntervalJoin's
    * scheme, same constants), probe rows compute theirs in-row, and
    * state shards across the cluster by bucket. Both sides carry
    * watermarks and the range condition ties the two event-time
    * columns, so incident state is evicted once the probe watermark
    * passes `inc_ts + window` — bounded by incidents-in-flight, not
    * history. Emits matched (incident_id, event) pairs append-mode;
    * exactly-once pairing for straddling intervals holds for the same
    * reason as batch: one probe bucket meets each incident's exploded
    * set in at most one row.
    */
  def incidentJoinStream(incidents: DataFrame, events: DataFrame,
      watermark: String = "0 seconds"): DataFrame = {
    import org.apache.spark.sql.types.LongType
    import graft.operators.EventOps
    val w = EventOps.IncidentWindowMicros
    val inc = incidents
      .filter(col("event_type") === "error" &&
        col("value") > EventOps.IncidentValueMin)
      .select(col("event_id").as("incident_id"), col("ts").as("inc_ts"))
      .withWatermark("inc_ts", watermark)
      .withColumn("i_bucket", explode(sequence(
        floor(unix_micros(col("inc_ts")) / w).cast(LongType),
        floor((unix_micros(col("inc_ts")) + w - 1) / w).cast(LongType))))
    val ev = events
      .select(col("event_id"), col("ts"), col("user_id"),
        col("event_type"))
      .withWatermark("ts", watermark)
      .withColumn("bucket",
        floor(unix_micros(col("ts")) / w).cast(LongType))
    ev.join(inc,
      col("bucket") === col("i_bucket") &&
      col("ts") >= col("inc_ts") &&
      col("ts") < col("inc_ts") +
        expr(s"INTERVAL ${EventOps.IncidentWindowMin} MINUTES"))
      .select(col("incident_id"), col("event_id"), col("ts"),
        col("user_id"), col("event_type"))
  }
}
