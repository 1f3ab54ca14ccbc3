package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, Encoders, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{ExpiredTimerInfo, GroupState,
  GroupStateTimeout, OutputMode, StatefulProcessor, TimeMode, TimerValues,
  TTLConfig, ValueState}

/** A raw event row as both batch and stream sides see it. */
case class Ev(event_id: Long, ts: java.sql.Timestamp, user_id: Long,
              event_type: String, value: Double)

/** Per-user running state emitted by `runningUserState` — the streaming
  * twin of queries.Events.evStateful. */
case class UserUpdate(event_id: Long, user_id: Long, n_purch: Long, cum_value: Double)

/** Funnel snapshot emitted by `funnelState` whenever a user's stage state
  * advances — the streaming twin of queries.Events.evFunnel (take the
  * LAST snapshot per user for the batch-equivalent answer). */
case class FunnelUpdate(user_id: Long, view_s: Long,
                        click_s: Option[Long], purchase_s: Option[Long],
                        converted: Int)

/** One increment per (user, cohort, day-offset), emitted exactly once by
  * `retentionIncrements` — the streaming twin of queries.Events
  * .evRetention (count increments per (cohort_day, offset) downstream). */
case class RetentionInc(cohort_day: Long, offset: Long)

/** One event-type trigram per user-sequence position, emitted by
  * `pathTrigrams` — the streaming twin of queries.Events.evUserPath
  * (count per (e0,e1,e2) downstream; top-k is a query on the counts). */
case class PathTrigram(e0: String, e1: String, e2: String)

/** One closed hour per event type, emitted by `hourlyAnomaly` — the
  * ONLINE twin of queries.Events.evAnomaly (z against stats of the hours
  * closed so far; filter |z| ≥ 2 downstream for the alert stream). */
case class HourFlag(event_type: String, win_s: Long, n: Long, z: Double)

/** One running-gap update per event, emitted by `interArrival` — the
  * ONLINE twin of queries.Events.evInterArrival (avg/max profile; the
  * batch percentiles have no O(1) streaming state). */
case class GapUpdate(event_id: Long, event_type: String, gap: Long,
                     n_gaps: Long, avg_gap: Double, max_gap: Long)

/** One row per (user, day) FIRST activity, emitted by `dailyFirstSeen` —
  * the deduplicated activity stream the online DAU/WAU reports count
  * over (the ONLINE feeder of queries.Events.evActiveUsers). */
case class DayActive(user_id: Long, day_s: Long)

/** One attributed purchase-revenue increment from `cohortRevenue` — the
  * ONLINE feeder of queries.Events.evCohortLtv: the LTV report is a
  * stateless groupBy(cohort, offset) sum over this stream. */
case class RevenueInc(cohort_s: Long, offset: Long, value: Double)

/** One attributed purchase from `purchaseCredits` — the ONLINE feeder of
  * queries.Events.evAttribution: the report is a stateless
  * groupBy(touch) over this stream. */
case class PurchaseCredit(event_id: Long, user_id: Long, touch: String, value: Double)

/** One CLOSED session emitted by `sessionTimeoutTws` when the event-time
  * watermark passes last-event + gap — the timer-driven twin of
  * `sessionAgg`'s session_window output. */
case class SessionClosed(user_id: Long, sess_start: java.sql.Timestamp,
                         n_events: Long, sum_value: Double)

/** Structured Streaming twins of the batch event-time operators in
  * graft.queries.Events (SURVEY.md §2.9). Each takes any events
  * DataFrame — `readStream` (rate, kafka, files) or a MemoryStream in
  * tests — and applies the SAME window/gap specs as the batch queries, so
  * StreamingSpec can assert batch/stream parity on identical input.
  *
  * Watermarks bound state: at 100 TB/day the 10-minute watermark is what
  * lets the window and session state stores evict — every operator here
  * is incremental and partitioned by its group key, never global.
  */
object EventStreams {

  /** ev_tumbling twin: 1-hour tumbling counts with a 10-min watermark. */
  def tumblingCounts(events: DataFrame, watermarkDelay: String = "10 minutes"): DataFrame =
    events.withWatermark("ts", watermarkDelay)
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n"), sum("value").as("sum_value"))
      .select(col("window.start").as("win_start"), col("event_type"),
              col("n"), col("sum_value"))

  /** ev_session twin: 30-min-gap session windows per user. */
  def sessionAgg(events: DataFrame, gap: String = "30 minutes",
                 watermarkDelay: String = "10 minutes"): DataFrame =
    events.withWatermark("ts", watermarkDelay)
      .groupBy(session_window(col("ts"), gap), col("user_id"))
      .agg(count(lit(1)).as("n_events"), sum("value").as("sum_value"))
      .select(col("session_window.start").as("sess_start"), col("user_id"),
              col("n_events"), col("sum_value"))

  /** ev_dedup twin: exactly-once by event_id with watermark-bounded state
    * (dropDuplicatesWithinWatermark evicts ids older than the watermark —
    * the only dedup shape whose state doesn't grow forever). */
  def dedupByEventId(events: DataFrame, watermarkDelay: String = "10 minutes"): DataFrame =
    events.withWatermark("ts", watermarkDelay)
      .dropDuplicatesWithinWatermark("event_id")

  /** ev_interval_join twin: stream-stream interval self-join — each
    * purchase joined to the SAME user's clicks in the preceding 10
    * minutes. Watermarks on BOTH sides + the two-sided time bound in
    * the join condition are exactly what lets Structured Streaming
    * evict each buffer (a click older than purchase-watermark − 10 min
    * can never match again): state stays O(10 min of events), the only
    * stream-stream join shape that survives 100 TB/day. Inner by
    * default (rows emit as matches arrive); "leftOuter" additionally
    * emits unmatched purchases once the watermark closes their window —
    * the batch query's zero-click rows, just later. */
  def intervalJoin(events: DataFrame, watermarkDelay: String = "10 minutes",
                   joinType: String = "inner"): DataFrame = {
    val p = events.where(col("event_type") === "purchase")
      .select(col("event_id"), col("user_id").as("p_user"),
        col("ts").as("pts"), col("value").as("purchase_value"))
      .withWatermark("pts", watermarkDelay)
    val c = events.where(col("event_type") === "click")
      .select(col("user_id").as("c_user"), col("ts").as("cts"),
        col("value").as("cval"))
      .withWatermark("cts", watermarkDelay)
    p.join(c, col("p_user") === col("c_user") &&
        col("cts") < col("pts") &&
        col("cts") >= col("pts") - expr("INTERVAL 10 MINUTES"), joinType)
      .select(col("event_id"), col("p_user").as("user_id"), col("pts"),
        col("purchase_value"), col("cts"), col("cval"))
  }

  /** Same running state on the Spark 4 `transformWithState` API — the
    * successor to mapGroupsWithState: explicit named state with TTL
    * support, timers, and state-store-backed ValueState. Preferred for
    * new 100 TB pipelines (state evolution + RocksDB-friendly). */
  class RunningUserStateProcessor extends StatefulProcessor[Long, Ev, UserUpdate] {
    @transient private var state: ValueState[(Long, Double)] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      state = getHandle.getValueState[(Long, Double)](
        "userAgg", Encoders.product[(Long, Double)], TTLConfig.NONE)

    override def handleInputRows(key: Long, rows: Iterator[Ev],
                                 timerValues: TimerValues): Iterator[UserUpdate] = {
      var (nPurch, cum) = if (state.exists()) state.get() else (0L, 0.0)
      val out = rows.toSeq.sortBy(e => (e.ts.getTime, e.event_id)).map { e =>
        if (e.event_type == "purchase") nPurch += 1
        cum += e.value
        UserUpdate(e.event_id, key, nPurch, cum)
      }
      state.update((nPurch, cum))
      out.iterator
    }
  }

  /** ev_stateful twin on transformWithState (see processor above). */
  def runningUserStateTws(events: Dataset[Ev]): Dataset[UserUpdate] = {
    val spark = events.sparkSession
    import spark.implicits._
    events.groupByKey(_.user_id)
      .transformWithState(new RunningUserStateProcessor,
        TimeMode.None(), OutputMode.Append())
  }

  /** Timer-driven session close on transformWithState — the state-EXPIRY
    * surface a production stateful job actually uses (VERDICT r12 #7):
    * per-user session state plus ONE live event-time timer at
    * last-event + gap; when the watermark passes it, handleExpiredTimer
    * emits the closed session and CLEARS the state. That is event-time
    * TTL done explicitly — unlike TTLConfig (wall-clock TTL, useful for
    * compliance expiry but untestable without a clock), the timer expiry
    * is a pure function of the data and the watermark, so StreamingSpec
    * pins it against the batch session_window answer exactly.
    *
    * Timer discipline: exactly one live timer per key — the state tuple
    * carries the registered expiry and each batch with new events
    * deleteTimer()s the old one before registering the extension
    * (cheaper than listTimers() and leaves no stale-fire window; a
    * stale expiry is additionally ignored by the timerAt guard in
    * handleExpiredTimer — belt and braces, both load-bearing at
    * scale where task retries can replay a batch). In-batch gaps close
    * sessions inline, so a key's state is always the ONE open session.
    * State is 5 longs/doubles per user — bounded, RocksDB-friendly,
    * evicted on close. */
  class SessionTimeoutProcessor(gapMs: Long)
      extends StatefulProcessor[Long, Ev, SessionClosed] {
    // (startMs, lastMs, n, sum, timerAt)
    @transient private var sess: ValueState[(Long, Long, Long, Double, Long)] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      sess = getHandle.getValueState[(Long, Long, Long, Double, Long)](
        "sess", Encoders.product[(Long, Long, Long, Double, Long)], TTLConfig.NONE)

    override def handleInputRows(key: Long, rows: Iterator[Ev],
                                 timerValues: TimerValues): Iterator[SessionClosed] = {
      val closed = scala.collection.mutable.ArrayBuffer.empty[SessionClosed]
      var cur: Option[(Long, Long, Long, Double)] =
        if (sess.exists()) {
          val (st, last, n, sum, timerAt) = sess.get()
          getHandle.deleteTimer(timerAt)
          Some((st, last, n, sum))
        } else None
      rows.toSeq.sortBy(e => (e.ts.getTime, e.event_id)).foreach { e =>
        val t = e.ts.getTime
        cur match {
          // strict <: session_window's [last, last+gap) does not absorb
          // an event AT last+gap, so the timer twin must not either
          case Some((st, last, n, sum)) if t - last < gapMs =>
            cur = Some((st, math.max(last, t), n + 1, sum + e.value))
          case Some((st, _, n, sum)) =>
            closed += SessionClosed(key, new java.sql.Timestamp(st), n, sum)
            cur = Some((t, t, 1L, e.value))
          case None =>
            cur = Some((t, t, 1L, e.value))
        }
      }
      cur.foreach { case (st, last, n, sum) =>
        val timerAt = last + gapMs
        sess.update((st, last, n, sum, timerAt))
        getHandle.registerTimer(timerAt)
      }
      closed.iterator
    }

    override def handleExpiredTimer(key: Long, timerValues: TimerValues,
                                    expired: ExpiredTimerInfo): Iterator[SessionClosed] = {
      if (!sess.exists()) return Iterator.empty
      val (st, _, n, sum, timerAt) = sess.get()
      if (expired.getExpiryTimeInMs != timerAt) return Iterator.empty // stale
      sess.clear()
      Iterator.single(SessionClosed(key, new java.sql.Timestamp(st), n, sum))
    }
  }

  /** ev_session twin on event-time timers (see processor above). */
  def sessionTimeoutTws(events: Dataset[Ev], gapMinutes: Int = 30,
                        watermarkDelay: String = "10 minutes"): Dataset[SessionClosed] = {
    val spark = events.sparkSession
    import spark.implicits._
    events.withWatermark("ts", watermarkDelay)
      .groupByKey(_.user_id)
      .transformWithState(new SessionTimeoutProcessor(gapMinutes * 60000L),
        TimeMode.EventTime(), OutputMode.Append())
  }

  /** ev_funnel twin: per-user ordered funnel (first view → first later
    * click → first later purchase) as incremental keyed state. Emits a
    * snapshot whenever a stage advances; the last snapshot per user
    * equals the batch answer when events arrive in event-time order
    * (late data is the stream/batch divergence watermarks bound —
    * FunnelSpec feeds in-order microbatches). State is three epoch
    * values per user: bounded, RocksDB-friendly, evictable via TTL in a
    * real deployment. Timestamps fold at ms precision (java.sql
    * .Timestamp) — second-granularity outputs, same as the batch twin. */
  def funnelState(events: Dataset[Ev]): Dataset[FunnelUpdate] = {
    val spark = events.sparkSession
    import spark.implicits._
    events.groupByKey(_.user_id)
      .flatMapGroupsWithState[(Long, Long, Long), FunnelUpdate](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (uid: Long, it: Iterator[Ev], state: GroupState[(Long, Long, Long)]) =>
          var (tv, tc, tp) = state.getOption.getOrElse((-1L, -1L, -1L))
          var changed = false
          it.toSeq.sortBy(e => (e.ts.getTime, e.event_id)).foreach { e =>
            val t = e.ts.getTime
            e.event_type match {
              case "view"     if tv < 0                       => tv = t; changed = true
              case "click"    if tv >= 0 && tc < 0 && t > tv  => tc = t; changed = true
              case "purchase" if tc >= 0 && tp < 0 && t > tc  => tp = t; changed = true
              case _ =>
            }
          }
          state.update((tv, tc, tp))
          if (changed && tv >= 0)
            Iterator(FunnelUpdate(uid, tv / 1000,
              if (tc < 0) None else Some(tc / 1000),
              if (tp < 0) None else Some(tp / 1000),
              if (tp < 0) 0 else 1))
          else Iterator.empty
      }
  }

  /** ev_retention twin: incremental cohort analytics (SURVEY §8 round-3
    * candidate, built round 4). Keyed state per user is 16 bytes — the
    * UTC cohort day plus a bitmask of day-offsets 0..7 already emitted —
    * so each (user, offset) produces EXACTLY ONE RetentionInc and a
    * downstream running `count` per (cohort_day, offset) equals the
    * batch `countDistinct(user_id)` without any distinct state. That is
    * the 100 TB story: no re-scan of history, no unbounded state, and
    * the counts sink is update-mode incremental.
    *
    * Stream/batch divergence: the cohort is the earliest day seen SO
    * FAR — an event for an even-earlier day arriving later would
    * re-base the cohort in batch but cannot retract already-emitted
    * increments here (same in-order caveat as `funnelState`, which
    * StreamingSpec's feeds respect). Days are UTC epoch-days, matching
    * the batch `to_date` under the repo-wide UTC session. */
  def retentionIncrements(events: Dataset[Ev]): Dataset[RetentionInc] = {
    val spark = events.sparkSession
    import spark.implicits._
    events.groupByKey(_.user_id)
      .flatMapGroupsWithState[(Long, Long), RetentionInc](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (_: Long, it: Iterator[Ev], state: GroupState[(Long, Long)]) =>
          val evs = it.toSeq.sortBy(e => (e.ts.getTime, e.event_id))
          var (cohort, mask) = state.getOption.getOrElse(
            (evs.head.ts.getTime / 86400000L, 0L))
          val out = scala.collection.mutable.ArrayBuffer.empty[RetentionInc]
          evs.foreach { e =>
            val off = e.ts.getTime / 86400000L - cohort
            if (off >= 0 && off <= 7 && ((mask >> off) & 1L) == 0L) {
              mask |= 1L << off
              out += RetentionInc(cohort, off)
            }
          }
          state.update((cohort, mask))
          out.iterator
      }
  }

  /** Same retention increments on the Spark 4 `transformWithState` API
    * (explicit named ValueState, TTL-capable, RocksDB-friendly) — the
    * preferred shape for new 100 TB pipelines, mirroring
    * RunningUserStateProcessor for the running-state twin. */
  class RetentionProcessor extends StatefulProcessor[Long, Ev, RetentionInc] {
    @transient private var state: ValueState[(Long, Long)] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      state = getHandle.getValueState[(Long, Long)](
        "cohortMask", Encoders.product[(Long, Long)], TTLConfig.NONE)

    override def handleInputRows(key: Long, rows: Iterator[Ev],
                                 timerValues: TimerValues): Iterator[RetentionInc] = {
      val evs = rows.toSeq.sortBy(e => (e.ts.getTime, e.event_id))
      var (cohort, mask) = if (state.exists()) state.get()
                           else (evs.head.ts.getTime / 86400000L, 0L)
      val out = scala.collection.mutable.ArrayBuffer.empty[RetentionInc]
      evs.foreach { e =>
        val off = e.ts.getTime / 86400000L - cohort
        if (off >= 0 && off <= 7 && ((mask >> off) & 1L) == 0L) {
          mask |= 1L << off
          out += RetentionInc(cohort, off)
        }
      }
      state.update((cohort, mask))
      out.iterator
    }
  }

  /** ev_retention twin on transformWithState (see processor above). */
  def retentionIncrementsTws(events: Dataset[Ev]): Dataset[RetentionInc] = {
    val spark = events.sparkSession
    import spark.implicits._
    events.groupByKey(_.user_id)
      .transformWithState(new RetentionProcessor,
        TimeMode.None(), OutputMode.Append())
  }

  /** ev_cohort_ltv's ONLINE feeder — the value analogue of
    * RetentionProcessor: per-user state is the cohort day (one long,
    * set by the user's first event); every purchase within the 7-day
    * window emits its (cohort, offset, value) increment immediately.
    * The LTV report is a stateless groupBy(cohort, offset) sum over
    * this stream — cumulative/LTV columns are a query over that
    * aggregate, exactly as the batch operator computes them over its
    * own per-day aggregate. In-order contract as the retention twin.
    *
    * Twin contract (ADVICE r6): cohort days here are UTC epoch-days
    * (ts.getTime / 86400000), while batch ev_cohort_ltv derives the day
    * via `to_date(ts)`, which follows `spark.sql.session.timeZone` — the
    * two agree only under the repo-wide UTC session (build.sbt pins it;
    * same declared requirement as RetentionProcessor). A non-UTC
    * deployment must either set the session TZ to UTC or re-derive the
    * batch day from UTC epoch-days before comparing the twins. */
  class CohortRevenueProcessor extends StatefulProcessor[Long, Ev, RevenueInc] {
    @transient private var cohortS: ValueState[Long] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      cohortS = getHandle.getValueState[Long](
        "cohortDay", Encoders.scalaLong, TTLConfig.NONE)

    override def handleInputRows(key: Long, rows: Iterator[Ev],
                                 timerValues: TimerValues): Iterator[RevenueInc] = {
      val evs = rows.toSeq.sortBy(e => (e.ts.getTime, e.event_id))
      val cohort = if (cohortS.exists()) cohortS.get()
                   else evs.head.ts.getTime / 86400000L
      val out = evs.flatMap { e =>
        val off = e.ts.getTime / 86400000L - cohort
        if (e.event_type == "purchase" && off >= 0 && off <= 7)
          Some(RevenueInc(cohort * 86400L, off, e.value))
        else None
      }
      cohortS.update(cohort)
      out.iterator
    }
  }

  /** ev_cohort_ltv online feeder (see CohortRevenueProcessor). */
  def cohortRevenue(events: Dataset[Ev]): Dataset[RevenueInc] = {
    val spark = events.sparkSession
    import spark.implicits._
    events.groupByKey(_.user_id)
      .transformWithState(new CohortRevenueProcessor,
        TimeMode.None(), OutputMode.Append())
  }

  /** ev_user_path twin: per-user event-type trigram stream. State is the
    * last two event types per user (two short strings — bounded,
    * evictable by TTL in a real deployment); each arriving event emits
    * at most one PathTrigram, so a downstream count per (e0, e1, e2) is
    * incremental and the batch top-20 is a plain query over that counts
    * table (global top-k inside the stream would force complete mode —
    * the counts-sink + query split is the scale-correct shape). In-order
    * arrival gives exact batch parity (StreamingSpec). */
  def pathTrigrams(events: Dataset[Ev]): Dataset[PathTrigram] = {
    val spark = events.sparkSession
    import spark.implicits._
    events.groupByKey(_.user_id)
      .flatMapGroupsWithState[(String, String), PathTrigram](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (_: Long, it: Iterator[Ev], state: GroupState[(String, String)]) =>
          // "" sentinels: event_type is never empty in the model
          var (p2, p1) = state.getOption.getOrElse(("", ""))
          val out = scala.collection.mutable.ArrayBuffer.empty[PathTrigram]
          it.toSeq.sortBy(e => (e.ts.getTime, e.event_id)).foreach { e =>
            if (p2.nonEmpty && p1.nonEmpty) out += PathTrigram(p2, p1, e.event_type)
            p2 = p1; p1 = e.event_type
          }
          state.update((p2, p1))
          out.iterator
      }
  }

  /** Funnel on transformWithState — completes the TWS migration story
    * (running state, retention, funnel, paths all exist on the Spark 4
    * API). Same stage semantics as `funnelState`. */
  class FunnelProcessor extends StatefulProcessor[Long, Ev, FunnelUpdate] {
    @transient private var state: ValueState[(Long, Long, Long)] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      state = getHandle.getValueState[(Long, Long, Long)](
        "funnelStages", Encoders.product[(Long, Long, Long)], TTLConfig.NONE)

    override def handleInputRows(key: Long, rows: Iterator[Ev],
                                 timerValues: TimerValues): Iterator[FunnelUpdate] = {
      var (tv, tc, tp) = if (state.exists()) state.get() else (-1L, -1L, -1L)
      var changed = false
      rows.toSeq.sortBy(e => (e.ts.getTime, e.event_id)).foreach { e =>
        val t = e.ts.getTime
        e.event_type match {
          case "view"     if tv < 0                       => tv = t; changed = true
          case "click"    if tv >= 0 && tc < 0 && t > tv  => tc = t; changed = true
          case "purchase" if tc >= 0 && tp < 0 && t > tc  => tp = t; changed = true
          case _ =>
        }
      }
      state.update((tv, tc, tp))
      if (changed && tv >= 0)
        Iterator(FunnelUpdate(key, tv / 1000,
          if (tc < 0) None else Some(tc / 1000),
          if (tp < 0) None else Some(tp / 1000),
          if (tp < 0) 0 else 1))
      else Iterator.empty
    }
  }

  /** ev_funnel twin on transformWithState (see processor above). */
  def funnelStateTws(events: Dataset[Ev]): Dataset[FunnelUpdate] = {
    val spark = events.sparkSession
    import spark.implicits._
    events.groupByKey(_.user_id)
      .transformWithState(new FunnelProcessor, TimeMode.None(), OutputMode.Append())
  }

  /** Path trigrams on transformWithState. */
  class PathTrigramProcessor extends StatefulProcessor[Long, Ev, PathTrigram] {
    @transient private var state: ValueState[(String, String)] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      state = getHandle.getValueState[(String, String)](
        "lastTwoTypes", Encoders.product[(String, String)], TTLConfig.NONE)

    override def handleInputRows(key: Long, rows: Iterator[Ev],
                                 timerValues: TimerValues): Iterator[PathTrigram] = {
      var (p2, p1) = if (state.exists()) state.get() else ("", "")
      val out = scala.collection.mutable.ArrayBuffer.empty[PathTrigram]
      rows.toSeq.sortBy(e => (e.ts.getTime, e.event_id)).foreach { e =>
        if (p2.nonEmpty && p1.nonEmpty) out += PathTrigram(p2, p1, e.event_type)
        p2 = p1; p1 = e.event_type
      }
      state.update((p2, p1))
      out.iterator
    }
  }

  /** ev_user_path twin on transformWithState (see processor above). */
  def pathTrigramsTws(events: Dataset[Ev]): Dataset[PathTrigram] = {
    val spark = events.sparkSession
    import spark.implicits._
    events.groupByKey(_.user_id)
      .transformWithState(new PathTrigramProcessor, TimeMode.None(), OutputMode.Append())
  }

  /** ev_anomaly twin on transformWithState: ONLINE hourly volume anomaly
    * detection per event type. State per type is five numbers — Welford
    * running (count, mean, M2) over CLOSED hours plus the currently-open
    * (hour, count) — so memory is O(event types), never O(hours). When a
    * later hour's first event arrives, the open hour closes: its count is
    * z-scored against the stats of the hours closed BEFORE it (the only
    * stats an online detector can have — the batch ev_anomaly scores
    * against full-corpus stats instead, so the parity pin in
    * StreamingSpec uses a prefix-stats batch formulation), emitted, then
    * folded into the running stats. z is r4-rounded like the batch op;
    * fewer than 2 closed hours or sd = 0 defines z = 0.
    *
    * In-order caveat (same contract as funnelState/retentionIncrements):
    * an event for an hour EARLIER than the open one cannot reopen a
    * closed hour and is dropped; feeds are expected hour-ordered per
    * type (a watermark upstream is what bounds that in production). */
  class AnomalyProcessor extends StatefulProcessor[String, Ev, HourFlag] {
    // (nClosed, mean, m2, openHour epoch-s — -1 when unset, openN)
    @transient private var state: ValueState[(Long, Double, Double, Long, Long)] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      state = getHandle.getValueState[(Long, Double, Double, Long, Long)](
        "hourStats", Encoders.product[(Long, Double, Double, Long, Long)], TTLConfig.NONE)

    override def handleInputRows(key: String, rows: Iterator[Ev],
                                 timerValues: TimerValues): Iterator[HourFlag] = {
      var (nh, mean, m2, openHour, openN) =
        if (state.exists()) state.get() else (0L, 0.0, 0.0, -1L, 0L)
      val out = scala.collection.mutable.ArrayBuffer.empty[HourFlag]
      rows.toSeq.sortBy(e => (e.ts.getTime, e.event_id)).foreach { e =>
        val h = Math.floorDiv(e.ts.getTime, 3600000L) * 3600L
        if (openHour < 0) { openHour = h; openN = 1 }
        else if (h == openHour) openN += 1
        else if (h > openHour) {
          val z =
            if (nh >= 2) {
              val sd = math.sqrt(m2 / (nh - 1))
              if (sd > 0) (openN - mean) / sd else 0.0
            } else 0.0
          // same engine-independent half-up rounding as Det.r4
          out += HourFlag(key, openHour, openN, math.floor(z * 10000 + 0.5) / 10000)
          nh += 1
          val d = openN - mean
          mean += d / nh
          m2 += d * (openN - mean)
          openHour = h; openN = 1
        } // h < openHour: behind the open hour — dropped (in-order contract)
      }
      state.update((nh, mean, m2, openHour, openN))
      out.iterator
    }
  }

  /** Per-type running gap stats on transformWithState — ONLINE twin of
    * queries.Events.evInterArrival. State is 4 longs per event type
    * (last epoch-second, gap count, gap sum, gap max) — O(types), never
    * O(events); each arriving event emits its own gap against the
    * previous one plus the running avg/max. The batch operator's
    * percentiles are deliberately absent: they have no O(1) streaming
    * state, and the declared online surface is the avg/max profile
    * (a quantile sketch would be the agg_approx_percentile path).
    * Gaps use the same epoch-second truncation as the batch twin;
    * rows behind the last seen second are dropped (in-order contract,
    * as AnomalyProcessor). */
  class GapProcessor extends StatefulProcessor[String, Ev, GapUpdate] {
    // (lastEs — -1 when unset, nGaps, sumGap, maxGap)
    @transient private var state: ValueState[(Long, Long, Long, Long)] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      state = getHandle.getValueState[(Long, Long, Long, Long)](
        "gapStats", Encoders.product[(Long, Long, Long, Long)], TTLConfig.NONE)

    override def handleInputRows(key: String, rows: Iterator[Ev],
                                 timerValues: TimerValues): Iterator[GapUpdate] = {
      var (lastEs, n, sumG, maxG) =
        if (state.exists()) state.get() else (-1L, 0L, 0L, 0L)
      val out = scala.collection.mutable.ArrayBuffer.empty[GapUpdate]
      rows.toSeq.sortBy(e => (e.ts.getTime, e.event_id)).foreach { e =>
        val es = Math.floorDiv(e.ts.getTime, 1000L)
        if (lastEs < 0) lastEs = es
        else if (es >= lastEs) {
          val g = es - lastEs
          n += 1; sumG += g; maxG = math.max(maxG, g)
          // same engine-independent half-up rounding as Det.r4
          out += GapUpdate(e.event_id, key, g, n,
            math.floor(sumG * 1.0 / n * 10000 + 0.5) / 10000, maxG)
          lastEs = es
        } // es < lastEs: behind the last seen second — dropped
      }
      state.update((lastEs, n, sumG, maxG))
      out.iterator
    }
  }

  /** ev_inter_arrival twin (see GapProcessor). */
  def interArrival(events: Dataset[Ev]): Dataset[GapUpdate] = {
    val spark = events.sparkSession
    import spark.implicits._
    events.groupByKey(_.event_type)
      .transformWithState(new GapProcessor, TimeMode.None(), OutputMode.Append())
  }

  /** ONLINE active-users feeder — the streaming side of
    * queries.Events.evActiveUsers. Keyed by USER (never by day: a
    * day-keyed distinct funnels the whole stream through one state
    * partition); state per user is ONE long (last emitted UTC day), so
    * memory is O(users) regardless of event volume. Each user's first
    * event of a new day emits one DayActive row: the output is the
    * activity stream DEDUPLICATED to one row per (user, day), and DAU
    * is a stateless per-day count over it — StreamingSpec pins count
    * parity with the batch DAU. Trailing-7-day WAU online = a sliding
    * count-distinct over this reduced stream (users × days rows, not
    * events); the exact windowed form stays the batch twin's job.
    * In-order caveat (the funnelState/AnomalyProcessor contract): an
    * event for a day EARLIER than the user's last emitted day is
    * dropped, not re-emitted — per-user day order is what the upstream
    * watermark bounds in production. */
  class DailyFirstSeenProcessor extends StatefulProcessor[Long, Ev, DayActive] {
    @transient private var lastDay: ValueState[Long] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      lastDay = getHandle.getValueState[Long](
        "lastDay", Encoders.scalaLong, TTLConfig.NONE)

    override def handleInputRows(key: Long, rows: Iterator[Ev],
                                 timerValues: TimerValues): Iterator[DayActive] = {
      var last = if (lastDay.exists()) lastDay.get() else Long.MinValue
      val out = scala.collection.mutable.ArrayBuffer.empty[DayActive]
      rows.toSeq.sortBy(e => (e.ts.getTime, e.event_id)).foreach { e =>
        val day = Math.floorDiv(e.ts.getTime, 86400000L) * 86400L
        if (day > last) { out += DayActive(key, day); last = day }
        // day <= last: same day already emitted, or behind it (in-order contract)
      }
      lastDay.update(last)
      out.iterator
    }
  }

  /** ev_active_users online feeder (see DailyFirstSeenProcessor). */
  def dailyFirstSeen(events: Dataset[Ev]): Dataset[DayActive] = {
    val spark = events.sparkSession
    import spark.implicits._
    events.groupByKey(_.user_id)
      .transformWithState(new DailyFirstSeenProcessor, TimeMode.None(), OutputMode.Append())
  }

  /** Last-touch attribution state: one string of state per USER (the
    * most recent non-purchase event_type) — never keyed by touch type
    * (a type-keyed distinct would funnel whole event classes through
    * single state partitions; per-user state is uniform and bounded at
    * one value). A purchase row emits its credit immediately
    * (touch = stored state, '<none>' when no touch preceded); non-
    * purchase rows only update state. In-order contract as
    * DailyFirstSeenProcessor: microbatch rows fold in (ts, event_id)
    * order, late cross-batch arrivals are the stream/batch divergence
    * watermarks bound. */
  class AttributionProcessor extends StatefulProcessor[Long, Ev, PurchaseCredit] {
    @transient private var lastTouch: ValueState[String] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      lastTouch = getHandle.getValueState[String](
        "lastTouch", Encoders.STRING, TTLConfig.NONE)

    override def handleInputRows(key: Long, rows: Iterator[Ev],
                                 timerValues: TimerValues): Iterator[PurchaseCredit] = {
      var touch = if (lastTouch.exists()) lastTouch.get() else null
      val out = scala.collection.mutable.ArrayBuffer.empty[PurchaseCredit]
      rows.toSeq.sortBy(e => (e.ts.getTime, e.event_id)).foreach { e =>
        if (e.event_type == "purchase")
          out += PurchaseCredit(e.event_id, key,
            if (touch == null) "<none>" else touch, e.value)
        else touch = e.event_type
      }
      if (touch != null) lastTouch.update(touch)
      out.iterator
    }
  }

  /** ev_attribution online feeder (see AttributionProcessor): the
    * attributed-purchase stream; the batch report is a stateless
    * groupBy(touch) count/sum over it. */
  def purchaseCredits(events: Dataset[Ev]): Dataset[PurchaseCredit] = {
    val spark = events.sparkSession
    import spark.implicits._
    events.groupByKey(_.user_id)
      .transformWithState(new AttributionProcessor, TimeMode.None(), OutputMode.Append())
  }

  /** ev_anomaly twin (see AnomalyProcessor). */
  def hourlyAnomaly(events: Dataset[Ev]): Dataset[HourFlag] = {
    val spark = events.sparkSession
    import spark.implicits._
    events.groupByKey(_.event_type)
      .transformWithState(new AnomalyProcessor, TimeMode.None(), OutputMode.Append())
  }

  /** ev_stateful twin: running per-user purchase count + cumulative value
    * via mapGroupsWithState. Events inside a microbatch are folded in
    * (ts, event_id) order so replays are deterministic. */
  def runningUserState(events: Dataset[Ev]): Dataset[UserUpdate] = {
    val spark = events.sparkSession
    import spark.implicits._
    events.groupByKey(_.user_id)
      .flatMapGroupsWithState[(Long, Double), UserUpdate](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (userId: Long, it: Iterator[Ev], state: GroupState[(Long, Double)]) =>
          var (nPurch, cum) = state.getOption.getOrElse((0L, 0.0))
          val out = it.toSeq.sortBy(e => (e.ts.getTime, e.event_id)).map { e =>
            if (e.event_type == "purchase") nPurch += 1
            cum += e.value
            UserUpdate(e.event_id, userId, nPurch, cum)
          }
          state.update((nPurch, cum))
          out.iterator
      }
  }
}
