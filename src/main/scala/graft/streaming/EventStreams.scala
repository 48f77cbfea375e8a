package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Structured Streaming surface (SURVEY.md §2B "Streaming"): the reference
  * is batch-only (one cron tick/day, `canvas_data_aws.yaml:234-242`; its
  * "incremental" is file-level diff) — this module is the continuous
  * counterpart: event-time windows with watermarks, session windows, and
  * custom state via mapGroupsWithState.
  *
  * Every transform takes a DataFrame and works identically on a batch or
  * streaming input — the batch twins (q23/q25) are the oracle-checked
  * semantics, and the streaming spec proves stream/batch agreement.
  *
  * Scale notes: all stateful ops key on high-cardinality columns (window
  * bucket / user_id), so state shards evenly; watermarks bound state size
  * (late data past 1 hour is dropped).
  */
object EventStreams {

  /** Tumbling 1-hour windows with a 1-hour watermark (streaming twin of
    * q23_tumbling). */
  def tumblingCounts(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "1 hour")
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        sum(col("value")).as("sum_value"))
      .select(col("window.start").as("bucket_start"), col("event_type"),
        col("n_events"), col("sum_value"))

  /** Native session windows with a 30-minute gap (streaming twin of
    * q25_sessionize). */
  def sessionCounts(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "1 hour")
      .groupBy(session_window(col("ts"), "30 minutes"), col("user_id"))
      .agg(count(lit(1)).as("n_events"))
      .select(col("session_window.start").as("s_start"),
        col("session_window.end").as("s_end"),
        col("user_id"), col("n_events"))

  /** Streaming exact dedup: at-least-once upstream delivery (the reference's
    * model — its fetcher exists precisely because redelivery happens) means
    * duplicate events; dedup keyed on event id with a watermark so the
    * dedup state is dropped once an id can no longer recur. State size =
    * ids within the watermark horizon, not the whole stream. */
  def dedupedEvents(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "1 hour")
      .dropDuplicatesWithinWatermark("event_id")

  /** Stream-stream interval join: each purchase joined to the same user's
    * clicks from the preceding hour. Both sides carry watermarks so the
    * join state is bounded — Spark can discard click state older than
    * (purchase watermark − 1 hour), the precondition for running this
    * continuously at scale. Column names are prefixed to keep the join
    * condition unambiguous. */
  def clickAttribution(purchases: DataFrame, clicks: DataFrame): DataFrame = {
    val p = purchases
      .select(col("event_id").as("p_id"), col("user_id").as("p_user"),
        col("ts").as("p_ts"))
      .withWatermark("p_ts", "1 hour")
    val c = clicks
      .select(col("event_id").as("c_id"), col("user_id").as("c_user"),
        col("ts").as("c_ts"))
      .withWatermark("c_ts", "2 hours")
    p.join(c, expr(
      """p_user = c_user AND
        |c_ts >= p_ts - INTERVAL 1 HOUR AND c_ts <= p_ts""".stripMargin))
  }

  // --- custom state: running per-user session tracking ------------------

  final case class Ev(event_id: Long, ts: java.sql.Timestamp, user_id: Long)

  final case class UserSessionState(
      sessionStartUs: Long, lastUs: Long, lastId: Long, nEvents: Long,
      nSessions: Long)

  final case class UserSessionUpdate(
      user_id: Long, n_sessions: Long, current_session_events: Long)

  private val GapUs = 30L * 60 * 1000000

  /** mapGroupsWithState sessionizer: per user, counts sessions split on a
    * 30-minute gap and reports the running total after every micro-batch.
    * Demonstrates the custom-state API (the escape hatch when
    * session_window's fixed semantics aren't enough).
    *
    * State is TTL-evicted in EVENT time: on an unbounded user keyspace,
    * NoTimeout state grows forever. A user's state expires once the
    * watermark passes their last event + `stateTtlMs` — bounding total
    * state at (users active within the TTL window). Event-time (not
    * processing-time) timeout is deliberate twice over: eviction is
    * replay-deterministic, and processing-time timeouts make the engine
    * run no-data micro-batches continuously (its shouldRunAnotherBatch is
    * always true), which burns cluster time between data arrivals.
    * Eviction is a semantic trade — a user returning after the TTL
    * restarts their running counters (their in-progress session had long
    * since closed: TTL ≥ the session gap); size the TTL to the longest
    * absence whose running totals you care to preserve.
    *
    * The watermark is the OTHER lateness dial: events arriving more than
    * `watermarkDelay` behind the stream's max event time are dropped
    * before reaching the state function. The default equals the 30-minute
    * session gap so any event that could still extend a live session (≤
    * gap behind) survives; shrink it only if you accept undercounting on
    * backfills/replays. */
  def statefulSessionCount(events: Dataset[Ev],
      watermarkDelay: String = "30 minutes",
      stateTtlMs: Long = 2L * 3600 * 1000): Dataset[UserSessionUpdate] = {
    import events.sparkSession.implicits._
    events
      .withWatermark("ts", watermarkDelay)
      .groupByKey(_.user_id)
      .mapGroupsWithState[UserSessionState, UserSessionUpdate](
        GroupStateTimeout.EventTimeTimeout) {
        (user: Long, evs: Iterator[Ev], state: GroupState[UserSessionState]) =>
          if (state.hasTimedOut) {
            val last = state.getOption
            state.remove()
            UserSessionUpdate(user,
              last.map(_.nSessions).getOrElse(0L), 0L)
          } else {
            val sorted = evs.toSeq.sortBy(e => (e.ts.getTime, e.event_id))
            var st = state.getOption.getOrElse(
              UserSessionState(-1L, Long.MinValue / 4, Long.MinValue,
                0L, 0L))
            sorted.foreach { e =>
              val us = e.ts.getTime * 1000
              // the shared stateful ordering contract: a cross-batch
              // arrival at-or-before the carried (ts, event_id) drops —
              // folding it would REGRESS lastUs (mis-splitting the next
              // gap) and a redelivered duplicate would double-count
              if (us > st.lastUs ||
                  (us == st.lastUs && e.event_id > st.lastId)) {
                st =
                  if (us - st.lastUs > GapUs)
                    UserSessionState(us, us, e.event_id, 1L,
                      st.nSessions + 1)
                  else
                    st.copy(lastUs = us, lastId = e.event_id,
                      nEvents = st.nEvents + 1)
              }
            }
            state.update(st)
            // the engine rejects timeouts at/before the current watermark
            // (IllegalArgumentException kills the query) — reachable when
            // callers pass a TTL smaller than the watermark delay, so clamp
            // to just past the watermark: eviction then happens at the
            // earliest legal instant instead of crashing the stream
            state.setTimeoutTimestamp(
              math.max(st.lastUs / 1000 + stateTtlMs,
                state.getCurrentWatermarkMs() + 1))
            UserSessionUpdate(user, st.nSessions, st.nEvents)
          }
      }
  }

  final case class TEv(event_id: Long, ts: java.sql.Timestamp,
      user_id: Long, event_type: String)

  final case class LastEv(us: Long, eventId: Long, typ: String)

  final case class Step(user_id: Long, prev_type: String,
      event_type: String)

  /** flatMapGroupsWithState transition extractor: the streaming twin of
    * [[graft.operators.Behavior.markovTransitions]]. Per user the state
    * is ONE row — the last event seen — so a (prev → next) step that
    * straddles a micro-batch boundary is still emitted exactly once;
    * downstream counting is a plain (possibly windowed) aggregate over
    * the emitted steps. Within a batch events sort on (ts, event_id) —
    * the batch operator's exact tie order — and the stream≡batch spec
    * holds whenever micro-batch cuts respect event-time order (the
    * replay-unit convention of the foreachBatch index sinks). Arrivals
    * at-or-before the carried (ts, event_id) DROP — the
    * statefulInterArrival/statefulEwma ordering contract: a one-row
    * state cannot retro-insert a step, and a redelivered duplicate
    * must not emit (or corrupt the chain with) a second step.
    *
    * State is event-time-TTL'd like [[statefulSessionCount]]: a user
    * silent past the TTL is evicted (their next event starts a fresh
    * chain — no transition emitted across the eviction), bounding state
    * at (users active within TTL) × one row. */
  def statefulTransitions(events: Dataset[TEv],
      watermarkDelay: String = "30 minutes",
      stateTtlMs: Long = 2L * 3600 * 1000): Dataset[Step] = {
    import events.sparkSession.implicits._
    events
      .withWatermark("ts", watermarkDelay)
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[LastEv, Step](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (user: Long, evs: Iterator[TEv], state: GroupState[LastEv]) =>
          if (state.hasTimedOut) {
            state.remove()
            Iterator.empty
          } else {
            val sorted = evs.toSeq.sortBy(e => (e.ts.getTime, e.event_id))
            var last = state.getOption
            val out = Seq.newBuilder[Step]
            sorted.foreach { e =>
              val us = e.ts.getTime * 1000
              // drop on the full (ts, event_id) order vs the carried
              // state: a cross-batch regressive arrival or redelivered
              // duplicate folds in NO path (within a batch the sort
              // already orders, so only leading events can regress)
              val regressive = last.exists(l =>
                us < l.us || (us == l.us && e.event_id <= l.eventId))
              if (!regressive) {
                last.foreach(l => out += Step(user, l.typ, e.event_type))
                last = Some(LastEv(us, e.event_id, e.event_type))
              }
            }
            last.foreach { l =>
              state.update(l)
              state.setTimeoutTimestamp(
                math.max(l.us / 1000 + stateTtlMs,
                  state.getCurrentWatermarkMs() + 1))
            }
            out.result().iterator
          }
      }
  }

  final case class VEv(event_id: Long, ts: java.sql.Timestamp,
      user_id: Long, value: Double)

  final case class EwmaState(lastUs: Long, lastId: Long, n: Long,
      ewma: Double)

  final case class EwmaUpdate(user_id: Long, n_events: Long, ewma: Double)

  /** mapGroupsWithState EWMA: the streaming twin of
    * [[graft.operators.EventTime.ewmaByKey]]. Per key the state is ONE
    * (count, ewma) pair; each micro-batch folds its events in
    * (ts, event_id) order into the carried value — the batch operator's
    * exact left-to-right recursion, so 1-batch ≡ N-batch ≡ the batch
    * operator BIT-EXACTLY whenever micro-batch cuts respect event-time
    * order (the same stream≡batch contract as [[statefulTransitions]]).
    * IEEE guarantees the equality: both paths evaluate the identical
    * a·(1−α) + x·α step sequence.
    *
    * State is event-time-TTL'd like the other stateful ops: a key silent
    * past the TTL restarts its average; size the TTL to the longest
    * absence whose decayed level still means anything. */
  def statefulEwma(events: Dataset[VEv], alpha: Double,
      watermarkDelay: String = "30 minutes",
      stateTtlMs: Long = 2L * 3600 * 1000): Dataset[EwmaUpdate] = {
    import events.sparkSession.implicits._
    events
      .withWatermark("ts", watermarkDelay)
      .groupByKey(_.user_id)
      .mapGroupsWithState[EwmaState, EwmaUpdate](
        GroupStateTimeout.EventTimeTimeout) {
        (user: Long, evs: Iterator[VEv], state: GroupState[EwmaState]) =>
          if (state.hasTimedOut) {
            val last = state.getOption
            state.remove()
            EwmaUpdate(user, last.map(_.n).getOrElse(0L),
              last.map(_.ewma).getOrElse(Double.NaN))
          } else {
            val sorted = evs.toSeq.sortBy(e => (tsMicros(e.ts), e.event_id))
            var st = state.getOption.getOrElse(
              EwmaState(Long.MinValue / 4, Long.MinValue, 0L, 0.0))
            sorted.foreach { e =>
              val us = tsMicros(e.ts)
              // same ordering contract as statefulInterArrival — the
              // FULL (ts, event_id) order, not ts alone: the EWMA is an
              // ordered fold, so an in-watermark event arriving in a
              // later micro-batch at-or-before the last folded
              // (ts, event_id) cannot be retro-inserted with O(1)
              // state — regressive arrivals drop, and so does a
              // redelivered equal-(ts,id) duplicate (which a ts-only
              // `>=` guard would double-fold). The stream equals the
              // batch fold under order-preserving delivery.
              if (st.n == 0L || us > st.lastUs ||
                  (us == st.lastUs && e.event_id > st.lastId))
                st =
                  if (st.n == 0L) EwmaState(us, e.event_id, 1L, e.value)
                  else EwmaState(us, e.event_id, st.n + 1,
                    st.ewma * (1.0 - alpha) + e.value * alpha)
            }
            state.update(st)
            state.setTimeoutTimestamp(
              math.max(st.lastUs / 1000 + stateTtlMs,
                state.getCurrentWatermarkMs() + 1))
            EwmaUpdate(user, st.n, st.ewma)
          }
      }
  }

  /** Spark's round() semantics (BigDecimal HALF_UP at scale 6) — the
    * stream must round EXACTLY like the batch operator or the
    * stream≡batch proof fails at .5-boundary means. */
  private def roundHalfUp6(x: Double): Double =
    BigDecimal(x).setScale(6, scala.math.BigDecimal.RoundingMode.HALF_UP)
      .toDouble

  final case class GapState(lastUs: Long, lastId: Long, nGaps: Long,
      sumGaps: Long, minGap: Long, maxGap: Long)
  final case class GapUpdate(user_id: Long, n_gaps: Long,
      min_gap_us: Long, max_gap_us: Long, mean_gap_s: Double)

  /** Exact event-time micros for a Timestamp: floorDiv to whole seconds
    * (getTime already folds the millis of the nano field in) plus the
    * sub-second nanos — matches SQL unix_micros bit-for-bit, where
    * `getTime * 1000` truncates sub-millisecond precision. */
  private def tsMicros(ts: java.sql.Timestamp): Long =
    Math.floorDiv(ts.getTime, 1000L) * 1000000L + ts.getNanos / 1000L

  /** Streaming twin of [[graft.operators.EventTime.interArrival]]:
    * per-key inter-event gap statistics maintained with ONE
    * fixed-size state row per active key (last event + four int64
    * accumulators — no event list, no window). Gaps are exact int64
    * micros, so the running sum is exact and the emitted mean is the
    * same one-division-then-seconds expression as the batch operator —
    * micro-batch boundaries cannot move a bit (spec-proved 1-batch ≡
    * N-batch ≡ batch, for order-preserving splits). Event-time TTL
    * evicts idle keys.
    *
    * ORDERING CONTRACT: a fixed-size state row can only fold gaps
    * forward — an in-watermark event arriving in a LATER micro-batch
    * with (ts, event_id) before the last folded event cannot be
    * retro-inserted without keeping the full event list. Such
    * regressive arrivals are DROPPED (never folded as a negative gap
    * corrupting min/sum/mean); the stream therefore equals the batch
    * operator exactly when delivery is per-key order-preserving across
    * micro-batches, and degrades to "gaps over the admitted
    * subsequence" otherwise — the standard bounded-state trade. */
  def statefulInterArrival(events: Dataset[VEv],
      watermarkDelay: String = "30 minutes",
      stateTtlMs: Long = 2L * 3600 * 1000): Dataset[GapUpdate] = {
    import events.sparkSession.implicits._
    events
      .withWatermark("ts", watermarkDelay)
      .groupByKey(_.user_id)
      .mapGroupsWithState[GapState, GapUpdate](
        GroupStateTimeout.EventTimeTimeout) {
        (user: Long, evs: Iterator[VEv], state: GroupState[GapState]) =>
          if (state.hasTimedOut) {
            val last = state.getOption
            state.remove()
            GapUpdate(user, last.map(_.nGaps).getOrElse(0L),
              last.map(_.minGap).getOrElse(0L),
              last.map(_.maxGap).getOrElse(0L),
              last.filter(_.nGaps > 0).map(st =>
                roundHalfUp6(st.sumGaps.toDouble / st.nGaps.toDouble /
                  1e6)).getOrElse(Double.NaN))
          } else {
            val sorted = evs.toSeq.sortBy(e => (tsMicros(e.ts), e.event_id))
            var st = state.getOption.getOrElse(
              GapState(Long.MinValue, Long.MinValue, 0L, 0L,
                Long.MaxValue, Long.MinValue))
            sorted.foreach { e =>
              val us = tsMicros(e.ts)
              if (st.lastUs != Long.MinValue) {
                // regressive arrival (before the last folded event in
                // the (ts, event_id) total order): drop — see contract
                if (us > st.lastUs ||
                    (us == st.lastUs && e.event_id > st.lastId)) {
                  val gap = us - st.lastUs
                  st = GapState(us, e.event_id, st.nGaps + 1,
                    st.sumGaps + gap, math.min(st.minGap, gap),
                    math.max(st.maxGap, gap))
                }
              } else st = st.copy(lastUs = us, lastId = e.event_id)
            }
            state.update(st)
            state.setTimeoutTimestamp(
              math.max(st.lastUs / 1000 + stateTtlMs,
                state.getCurrentWatermarkMs() + 1))
            GapUpdate(user, st.nGaps,
              if (st.nGaps > 0) st.minGap else 0L,
              if (st.nGaps > 0) st.maxGap else 0L,
              if (st.nGaps > 0)
                roundHalfUp6(st.sumGaps.toDouble / st.nGaps.toDouble / 1e6)
              else Double.NaN)
          }
      }
  }
}
