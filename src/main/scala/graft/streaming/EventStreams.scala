package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Structured Streaming surface: the streaming twins of the batch
  * time-series operators. The reference is batch-only (SURVEY.md §2.10);
  * these exist for the engine's stream-ingest path and are exercised by
  * `StreamingSpec` with a file source + memory sink.
  *
  * Contract: same logical aggregation as `TimeSeriesOps.tumblingAgg`, so a
  * backfill (batch) and the live stream produce identical rollups — the
  * kappa-architecture invariant, asserted in the spec.
  */
object EventStreams {

  /** Normalize `ts` to a microsecond TimestampType, on a batch or a
    * streaming frame (`Tables.events` loads through it): a raw epoch-nanos
    * Long (TIMESTAMP_NS file read under `nanosAsLong`) is integer-truncated
    * to µs; a TimestampNTZ column is cast, value-preserving under the UTC
    * session tz, so downstream operators keep TimestampType semantics; a
    * native timestamp column passes through untouched.
    */
  def withEventTime(raw: DataFrame): DataFrame =
    raw.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        raw.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case org.apache.spark.sql.types.TimestampNTZType =>
        raw.withColumn("ts",
          col("ts").cast(org.apache.spark.sql.types.TimestampType))
      case _ => raw
    }

  /** Hourly tumbling rollup per event type with a 2h watermark for late
    * data. State is bounded: watermark evicts windows older than
    * max(event_time) - 2h at each trigger.
    */
  case class SessionEvent(user_id: Long, event_id: Long, ts: java.sql.Timestamp)
  case class SessionState(lastTsMs: Long, lastSession: Int)
  case class SessionAssignment(user_id: Long, event_id: Long, session_no: Int)

  /** Stateful streaming twin of `TimeSeriesOps.sessionize`: per-user
    * gap-based session assignment via `flatMapGroupsWithState`. State is one
    * (lastTs, lastSession) pair per user — O(users), not O(events). Events
    * within a micro-batch are sorted per group (the iterator carries no
    * order guarantee); ordering ACROSS batches is the source's
    * responsibility (same contract as the reference's sorted group scans).
    */
  def sessionizeStream(events: Dataset[SessionEvent], gapMs: Long): Dataset[SessionAssignment] = {
    import events.sparkSession.implicits._
    events
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[SessionState, SessionAssignment](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (user: Long, it: Iterator[SessionEvent], state: GroupState[SessionState]) =>
          val sorted = it.toSeq.sortBy(e => (e.ts.getTime, e.event_id))
          var (lastTs, sess) = state.getOption
            .map(s => (s.lastTsMs, s.lastSession)).getOrElse((Long.MinValue, 0))
          val out = sorted.map { e =>
            if (lastTs == Long.MinValue || e.ts.getTime - lastTs > gapMs) sess += 1
            lastTs = e.ts.getTime
            SessionAssignment(user, e.event_id, sess)
          }
          state.update(SessionState(lastTs, sess))
          out.iterator
      }
  }

  case class StateEvent(user_id: Long, event_id: Long, ts: java.sql.Timestamp,
      state: String)
  case class LastState(tsMs: Long, eventId: Long, state: String)
  case class Transition(user_id: Long, from_state: String, to_state: String)

  /** Stateful streaming twin of `TimeSeriesOps.transitionCounts`: emits one
    * (from, to) pair per consecutive event within a key — the live
    * Markov-edge feed (aggregate downstream with a plain
    * `groupBy(from,to).count` in update mode). State is ONE last-event
    * record per key — O(keys), not O(events) — and transitions spanning
    * micro-batch boundaries are stitched from it, so the pair stream equals
    * the batch lead-window form regardless of how the input is batched.
    * In-batch ordering is restored per group ((ts, event_id) sort, the
    * [[sessionizeStream]] contract); cross-batch order is the source's.
    */
  def transitionStream(events: Dataset[StateEvent]): Dataset[Transition] = {
    import events.sparkSession.implicits._
    events
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[LastState, Transition](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (user: Long, it: Iterator[StateEvent], state: GroupState[LastState]) =>
          val sorted = it.toSeq.sortBy(e => (e.ts.getTime, e.event_id))
          var last = state.getOption
          val out = sorted.map { e =>
            val t = last.map(l => Transition(user, l.state, e.state))
            last = Some(LastState(e.ts.getTime, e.event_id, e.state))
            t
          }.flatten
          last.foreach(state.update)
          out.iterator
      }
  }

  case class ScdEvent(user_id: Long, event_id: Long, ts: java.sql.Timestamp,
      state: String)
  case class ScdOpen(sinceMs: Long, state: String)
  case class ScdInterval(user_id: Long, state: String, valid_from_ms: Long,
      valid_to_ms: Long)

  /** Stateful streaming twin of the batch `u12_scd2_build`: one open
    * (state, since) pair per key; a state CHANGE closes the open interval
    * (emitted) and opens the next. Append mode can only emit CLOSED
    * intervals — the still-open row per key lives in the state store, so
    * batch parity is asserted on the closed set (exactly the batch rows
    * with a non-null valid_to). Null-safe state compare mirrors the
    * batch IS DISTINCT FROM collapse.
    */
  def scd2Stream(events: Dataset[ScdEvent]): Dataset[ScdInterval] = {
    import events.sparkSession.implicits._
    events
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[ScdOpen, ScdInterval](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (user: Long, it: Iterator[ScdEvent], state: GroupState[ScdOpen]) =>
          val sorted = it.toSeq.sortBy(e => (e.ts.getTime, e.event_id))
          var open = state.getOption
          val out = scala.collection.mutable.ListBuffer[ScdInterval]()
          sorted.foreach { e =>
            if (!open.exists(o => o.state == e.state)) {
              open.foreach(o =>
                out += ScdInterval(user, o.state, o.sinceMs, e.ts.getTime))
              open = Some(ScdOpen(e.ts.getTime, e.state))
            }
          }
          open.foreach(state.update)
          out.iterator
      }
  }

  case class DayEvent(user_id: Long, day_num: Long)
  case class WauState(lastDay: Long)
  case class CoverDay(user_id: Long, day_num: Long)

  /** Stateful streaming twin of the batch `q09_wau` exact sliding-window
    * distinct (TimeSeriesOps.slidingDistinctCount): per user, activity
    * days form presence ISLANDS [d, d+w−1] (the gaps-and-islands
    * construction), and the state is ONE open island per user — just its
    * last activity day. A new distinct day d emits exactly the days it
    * NEWLY covers, [max(d, lastDay + w), d + w − 1]: an in-window day
    * extends the island by the uncovered suffix, a gap > w−1 starts a
    * fresh island (the max picks d itself, and the ranges never overlap
    * because then d > lastDay + w − 1). Downstream WAU is a plain
    * per-day count of the emitted cover rows in update mode —
    * Σ cover(day) ≡ batch n_active for every day, asserted in
    * StreamingSpec. State O(users); duplicate/older days are no-ops, so
    * re-delivery within the ordered-source contract is idempotent.
    */
  def slidingDistinctStream(events: Dataset[DayEvent],
      window: Int): Dataset[CoverDay] = {
    import events.sparkSession.implicits._
    events
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[WauState, CoverDay](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (user: Long, it: Iterator[DayEvent], state: GroupState[WauState]) =>
          val days = it.map(_.day_num).toSeq.distinct.sorted
          var last = state.getOption.map(_.lastDay).getOrElse(Long.MinValue)
          val out = scala.collection.mutable.ArrayBuffer[CoverDay]()
          days.foreach { d =>
            if (d > last) {
              val start =
                if (last == Long.MinValue) d else math.max(d, last + window)
              var k = start
              while (k <= d + window - 1) {
                out += CoverDay(user, k)
                k += 1
              }
              last = d
            }
          }
          if (last != Long.MinValue) state.update(WauState(last))
          out.iterator
      }
  }

  case class AsOfEvent(user_id: Long, event_id: Long, ts: java.sql.Timestamp,
      is_ref: Boolean)
  case class RefState(tsMs: Long)
  case class AsOfAssignment(event_id: Long, asof_ref_ms: Option[Long])

  /** Stateful streaming twin of the batch `j21_asof_backward` union-LOCF
    * as-of join: reference rows (signups/quotes) update one last-seen
    * timestamp per key; point rows (purchases/trades) emit it. State is
    * ONE timestamp per key — O(keys) — and, like the batch window's
    * (ts, side, event_id) order, a reference at the same timestamp as a
    * point binds to it (refs sort first inside a micro-batch; across
    * batches the carried state provides the same last-ref semantics).
    */
  def asOfBackwardStream(events: Dataset[AsOfEvent]): Dataset[AsOfAssignment] = {
    import events.sparkSession.implicits._
    events
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[RefState, AsOfAssignment](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (_: Long, it: Iterator[AsOfEvent], state: GroupState[RefState]) =>
          val sorted = it.toSeq.sortBy(e =>
            (e.ts.getTime, if (e.is_ref) 0 else 1, e.event_id))
          var lastRef = state.getOption.map(_.tsMs)
          val out = sorted.flatMap { e =>
            if (e.is_ref) { lastRef = Some(e.ts.getTime); None }
            else Some(AsOfAssignment(e.event_id, lastRef))
          }
          lastRef.foreach(t => state.update(RefState(t)))
          out.iterator
      }
  }

  case class DailyCount(user_id: Long, day: java.sql.Date, cnt: Long)
  case class HoltState(seen: Long, lMic: Long, bMic: Long)
  case class HoltOut(user_id: Long, day: java.sql.Date,
      level: Double, trend: Double, forecast_1: Double)

  /** Stateful streaming twin of the batch `ts18_holt` integer-micro
    * fold: per-key state is (count, level, trend) — three longs, not the
    * series. Parity with [[graft.operators.TimeSeriesOps.holtSmooth]] is
    * bit-for-bit BECAUSE the batch fold is pure integer arithmetic
    * (α = β = ½, step rounding ⌊(2v+2)/4⌋ replayed here in exact Long
    * math) — no float op exists to drift until the closing /1e6, which
    * both sides perform identically. Emits the running state per daily
    * row once initialized (row 1 is absorbed into the init, matching the
    * batch contract's n ≥ 2).
    */
  def holtStream(daily: Dataset[DailyCount]): Dataset[HoltOut] = {
    import daily.sparkSession.implicits._
    def rnd2(v: Long): Long = Math.floorDiv(2L * v + 2L, 4L)
    daily
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[HoltState, HoltOut](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (uid: Long, it: Iterator[DailyCount], state: GroupState[HoltState]) =>
          val sorted = it.toSeq.sortBy(_.day.getTime)
          var st = state.getOption.getOrElse(HoltState(0L, 0L, 0L))
          val out = scala.collection.mutable.ArrayBuffer.empty[HoltOut]
          sorted.foreach { r =>
            val y = r.cnt * 1000000L
            st =
              if (st.seen == 0L) HoltState(1L, y, 0L)
              else if (st.seen == 1L) HoltState(2L, st.lMic, y - st.lMic)
              else {
                val lNew = rnd2(y + st.lMic + st.bMic)
                val bNew = rnd2(lNew - st.lMic + st.bMic)
                HoltState(st.seen + 1L, lNew, bNew)
              }
            if (st.seen >= 2L)
              out += HoltOut(uid, r.day, st.lMic / 1e6, st.bMic / 1e6,
                (st.lMic + st.bMic) / 1e6)
          }
          state.update(st)
          out.iterator
      }
  }

  case class MaseState(window: List[Long], n: Long, n1: Long, s1: Long,
      ns: Long, ss: Long)
  case class MaseOut(user_id: Long, day: java.sql.Date, n: Long,
      mae_naive: Option[Double], mae_seasonal: Option[Double],
      mase: Option[Double])

  /** Stateful streaming twin of the batch `ts19_mase` backtest: per-key
    * state is the ≤`season`-deep value deque plus five exact-integer
    * counters (n, n1, Σ|Δ1|, ns, Σ|Δs|) — the deque's last element IS
    * lag 1 and its head IS lag `season` once full, so both error streams
    * accumulate the same exact integers as the batch window form. Rows
    * emit once the seasonal lag exists (mirroring the batch `ns > 0`
    * filter); the final row per key equals the batch row on the rounded
    * output, including the s1 = 0 → null MASE guard.
    */
  def maseStream(daily: Dataset[DailyCount],
      season: Int = 7): Dataset[MaseOut] = {
    import daily.sparkSession.implicits._
    def rnd(x: Double): Double =
      BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    daily
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[MaseState, MaseOut](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (uid: Long, it: Iterator[DailyCount], state: GroupState[MaseState]) =>
          val sorted = it.toSeq.sortBy(_.day.getTime)
          var st = state.getOption.getOrElse(MaseState(Nil, 0L, 0L, 0L, 0L, 0L))
          val out = scala.collection.mutable.ArrayBuffer.empty[MaseOut]
          sorted.foreach { r =>
            val w = st.window
            val n1 = st.n1 + (if (w.nonEmpty) 1L else 0L)
            val s1 = st.s1 + (if (w.nonEmpty) math.abs(r.cnt - w.last) else 0L)
            val full = w.length == season
            val ns = st.ns + (if (full) 1L else 0L)
            val ss = st.ss + (if (full) math.abs(r.cnt - w.head) else 0L)
            st = MaseState((w :+ r.cnt).takeRight(season), st.n + 1L,
              n1, s1, ns, ss)
            if (st.ns > 0L && st.n1 > 0L) {
              val maeN = st.s1.toDouble / st.n1.toDouble
              val maeS = st.ss.toDouble / st.ns.toDouble
              out += MaseOut(uid, r.day, st.n, Some(rnd(maeN)), Some(rnd(maeS)),
                if (st.s1 > 0L) Some(rnd(maeS / maeN)) else None)
            }
          }
          state.update(st)
          out.iterator
      }
  }

  case class EwmaEvent(user_id: Long, event_id: Long,
      ts: java.sql.Timestamp, value: Option[Double])
  case class EwmaState(window: List[Option[Double]])
  case class EwmaOut(event_id: Long, ewma8: Double)

  /** Stateful streaming twin of the batch `w12_ewma` 8-tap window form:
    * one ≤7-deep per-key deque of the previous values (bounded state —
    * seven optional doubles, not the stream). Parity is bit-for-bit
    * because the tap sum replays the batch expression's exact IEEE
    * sequence — weights are exact powers of two, missing taps contribute
    * the same `+ 0.0` the batch COALESCE does, accumulation runs j=0..7
    * left-to-right like the batch `reduce(_ + _)`, and the close is the
    * same HALF_UP 6-decimal round (NaN — the all-taps-null 0/0 — passes
    * through unrounded exactly as the batch round does).
    */
  def ewmaStream(events: Dataset[EwmaEvent]): Dataset[EwmaOut] = {
    import events.sparkSession.implicits._
    events
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[EwmaState, EwmaOut](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (_: Long, it: Iterator[EwmaEvent], state: GroupState[EwmaState]) =>
          val sorted = it.toSeq.sortBy(e => (e.ts.getTime, e.event_id))
          var prevs = state.getOption.map(_.window).getOrElse(Nil)
          val out = sorted.map { e =>
            val taps: Seq[Option[Double]] =
              (e.value :: prevs).padTo(8, None).take(8)
            var num = 0.0
            var den = 0.0
            var w = 1.0
            taps.foreach { v =>
              num += v.map(_ * w).getOrElse(0.0)
              den += (if (v.isDefined) w else 0.0)
              w *= 0.5
            }
            val raw = num / den
            val r =
              if (java.lang.Double.isFinite(raw))
                BigDecimal(raw)
                  .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
              else raw
            prevs = (e.value :: prevs).take(7)
            EwmaOut(e.event_id, r)
          }
          state.update(EwmaState(prevs))
          out.iterator
      }
  }

  case class ZEvent(user_id: Long, event_id: Long, ts: java.sql.Timestamp,
      cents: Long)
  case class ZWindowState(window: List[Long])
  case class ZScore(event_id: Long, z: Option[Double])

  /** Stateful streaming twin of the batch `w19_rolling_zscore`: one ≤k-deep
    * integer deque per key (bounded state — k longs, not the stream), the
    * same exact integer sufficient statistics (n·x−S over n·Σx²−S²) and
    * the same HALF_UP 6-decimal round, so batch backfill ≡ live scoring
    * bit-for-bit.
    */
  def rollingZStream(events: Dataset[ZEvent], k: Int = 20): Dataset[ZScore] = {
    import events.sparkSession.implicits._
    events
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[ZWindowState, ZScore](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (_: Long, it: Iterator[ZEvent], state: GroupState[ZWindowState]) =>
          val sorted = it.toSeq.sortBy(e => (e.ts.getTime, e.event_id))
          var win = state.getOption.map(_.window).getOrElse(Nil)
          val out = sorted.map { e =>
            win = (win :+ e.cents).takeRight(k)
            val n = win.length.toLong
            val s = win.sum
            val ss = win.iterator.map(x => x * x).sum
            val z =
              if (n >= 2 && n * ss - s * s > 0)
                Some(BigDecimal(
                  (n * e.cents - s).toDouble /
                    math.sqrt((n * ss - s * s).toDouble * n / (n - 1)))
                  .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)
              else None
            ZScore(e.event_id, z)
          }
          state.update(ZWindowState(win))
          out.iterator
      }
  }

  case class MedEvent(user_id: Long, event_id: Long, ts: java.sql.Timestamp,
      value: Option[Double])
  case class MedWindowState(window: List[Option[Double]])
  case class MedOut(event_id: Long, roll_med: Option[Double])

  /** Stateful streaming twin of the batch `w15_rolling_median`: one
    * ≤k-deep per-key deque holding the last k row VALUES (nulls keep
    * their window slot, exactly like the batch ROWS frame where
    * `percentile` skips nulls but the row still ages the window), the
    * same type-7 interpolation Spark's exact `percentile` evaluates —
    * `(higher − pos)·v[lo] + (pos − lower)·v[hi]`, replayed verbatim so
    * batch backfill ≡ live smoothing on the rounded output. State is k
    * options per key, never the stream.
    */
  def rollingMedianStream(events: Dataset[MedEvent],
      k: Int = 7): Dataset[MedOut] = {
    import events.sparkSession.implicits._
    events
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[MedWindowState, MedOut](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (_: Long, it: Iterator[MedEvent], state: GroupState[MedWindowState]) =>
          val sorted = it.toSeq.sortBy(e => (e.ts.getTime, e.event_id))
          var win = state.getOption.map(_.window).getOrElse(Nil)
          val out = sorted.map { e =>
            win = (win :+ e.value).takeRight(k)
            val vals = win.flatten.sorted
            val med =
              if (vals.isEmpty) None
              else {
                val pos = (vals.length - 1) * 0.5
                val lo = math.floor(pos).toInt
                val hi = math.ceil(pos).toInt
                val m = if (hi == lo) vals(lo)
                  else (hi - pos) * vals(lo) + (pos - lo) * vals(hi)
                Some(BigDecimal(m)
                  .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)
              }
            MedOut(e.event_id, med)
          }
          state.update(MedWindowState(win))
          out.iterator
      }
  }

  def hourlyRollup(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "2 hours")
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n"), round(sum(col("value")), 2).as("sum_value"))
      .select(col("window.start").as("hour_start"), col("event_type"),
        col("n"), col("sum_value"))

  /** Sliding-window twin of the batch `w10_sliding_window` query: 1 h
    * windows every 15 min. Each event contributes to 4 open windows; the
    * watermark bounds state to ~6 window generations per event type.
    */
  def slidingRollup(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "2 hours")
      .groupBy(window(col("ts"), "1 hour", "15 minutes"), col("event_type"))
      .agg(count(lit(1)).as("n"), round(sum(col("value")), 2).as("sum_value"))
      .select(col("window.start").as("win_start"), col("event_type"),
        col("n"), col("sum_value"))

  /** Streaming twin of the `dq09_control_chart` monitor: daily tumbling
    * volumes scored live against a STATIC batch-computed (μ, σ) baseline
    * (re-planned per micro-batch, so a refreshed baseline table is picked
    * up on the next trigger). The baseline is a 1-row frame joined on a
    * constant key — a broadcast of two doubles; the window agg is the
    * only state, bounded by the watermark.
    */
  def controlChartStream(events: DataFrame, baseline: DataFrame): DataFrame =
    events
      .withWatermark("ts", "48 hours")
      .groupBy(window(col("ts"), "1 day"))
      .agg(count(lit(1)).as("n"))
      .withColumn("__k", lit(1))
      .join(baseline.withColumn("__k", lit(1)), Seq("__k"))
      .select(col("window.start").cast("date").as("day"), col("n"),
        col("mu"), col("sigma"),
        (abs(col("n") - col("mu")) > lit(3.0) * col("sigma"))
          .as("out_of_control"))

  /** Stream-static semi join: filter a live event stream to a static
    * cohort/allow-list (the streaming face of `JoinOps.semiFilter`). The
    * static side is planned per micro-batch, so an updated cohort table is
    * picked up on the next trigger; no state is kept — the join is a
    * stateless per-batch hash probe.
    */
  def cohortFilterStream(events: DataFrame, cohort: DataFrame,
      keys: Seq[String]): DataFrame =
    events.join(cohort.select(keys.map(col): _*).distinct(), keys, "left_semi")

  /** Stream-stream point-in-interval join — the streaming twin of
    * `JoinOps.asOfPointInInterval` without the as-of tie-break (every
    * covering interval matches; the tie-break needs totality over a closed
    * set, which a stream never is). Both inputs are event-time streams:
    * points match intervals with the same `partKey` whose start lies in
    * `[pointTs - window, pointTs]`.
    *
    * State stays bounded because BOTH sides are watermarked on their
    * event-time columns and the join condition carries an explicit
    * event-time range (`start <= ts <= start + window`), so each side's
    * buffered rows are evicted once the other side's watermark passes
    * `horizon + window`. The equi-key (`partKey`) keeps the join a hash
    * shuffle on both streams — co-partitioned by key, never a broadcast of
    * an unbounded side.
    */
  def pointInIntervalStream(points: DataFrame, intervals: DataFrame,
      partKey: String, pointTs: String, startCol: String,
      window: org.apache.spark.sql.Column, horizon: String): DataFrame = {
    val p = points.withWatermark(pointTs, horizon)
    val i = intervals.withWatermark(startCol, horizon)
    p.join(i,
      p(partKey) === i(partKey) &&
        p(pointTs) >= i(startCol) &&
        p(pointTs) <= i(startCol) + window,
      "inner").drop(i(partKey))
  }

  /** Streaming twin of exact dedup (`DedupOps.exactGroups` membership): emit
    * each document once, keyed by its content fingerprint, suppressing
    * re-arrivals inside the watermark horizon. State is one fingerprint per
    * distinct document bounded by the watermark (`dropDuplicatesWithinWatermark`
    * evicts keys older than the horizon) — the standard shape for streaming
    * corpus ingestion where exact re-crawls arrive within a bounded delay.
    */
  def dedupStream(docs: DataFrame, id: String, text: String,
      watermarkCol: String, horizon: String): DataFrame =
    docs
      .withColumn("fp", graft.functions.TextFns.fingerprint(col(text)))
      .withWatermark(watermarkCol, horizon)
      .dropDuplicatesWithinWatermark("fp")
      .select(col(id), col("fp"))

  /** Streaming twin of `TimeSeriesOps.seasonalAnomalies`: live readings
    * scored against a STATIC seasonal baseline (batch-computed
    * `seasonalProfile`, re-planned per micro-batch so a refreshed profile
    * table is picked up on the next trigger). Entirely stateless — the
    * profile is calendar-bounded (|keys| × 168 cells) so the join is a
    * broadcast hash probe, and the z-score/threshold logic is the SAME
    * code as the batch op (`scoreAgainstProfile`), so batch ≡ stream by
    * construction, asserted in StreamingSpec.
    */
  def seasonalAnomalyStream(events: DataFrame, profile: DataFrame,
      key: String, ts: String, id: String,
      value: org.apache.spark.sql.Column, zThresh: Double,
      minN: Long = 24): DataFrame =
    graft.operators.TimeSeriesOps.scoreAgainstProfile(events, profile,
      key, ts, id, value, zThresh, minN)

  /** Streaming twin of the quality gate's front half
    * (`e2e_quality_gate`'s Gopher stage + DSIR scoring): gate a live
    * document feed with ZERO streaming state. Gopher rules are a
    * map-only pass (same rounded-ratio comparisons as the batch
    * `QualityOps.gopherRules`), and DSIR scoring against a FROZEN
    * batch-trained bucket-ratio model is stateless per doc — the
    * per-doc bigram sum folds INSIDE the row with higher-order
    * functions against a ≤ `QualityOps.DsirDim`-entry map literal,
    * replaying the batch op's exact arithmetic (the same
    * `QualityOps.dsirBucket` hash at the same width, same nano-quantized
    * ratios, same long sum, same closing double sequence). Bigrams
    * hashing to buckets absent from the model contribute nothing —
    * mirroring the batch inner join against the observed-bucket table.
    * Train the model with `QualityOps.dsirBucketRatios`, collect it
    * (bounded by construction), refresh by restarting the query with a
    * new map. Batch ≡ stream asserted in StreamingSpec.
    */
  def qualityGateStream(docs: DataFrame, id: String, text: String,
      model: Map[Int, Long],
      minWords: Int = 50, maxWords: Int = 100000): DataFrame = {
    import graft.functions.TextFns
    val mdl = typedLit(model)
    val toks = TextFns.tokens(col(text))
    val n = size(toks)
    val meanLen = round(aggregate(toks, lit(0L), (acc, t) => acc + length(t))
      .cast("double") / n, 6)
    val alphaFrac = round(size(filter(toks, t => t.rlike("[a-zA-Z]")))
      .cast("double") / n, 6)
    val symbolFrac = round(size(filter(toks,
      t => t.contains("#") || t.contains("..."))).cast("double") / n, 6)
    val stopHits = TextFns.tokenCountIn(toks,
      graft.operators.QualityOps.gopherStopwords)
    val lrqs = filter(
      transform(TextFns.rawShingles(toks, 2), b =>
        try_element_at(mdl, graft.operators.QualityOps.dsirBucket(b))),
      x => x.isNotNull)
    val nb = size(lrqs).cast("long")
    val s = aggregate(lrqs, lit(0L), (acc, x) => acc + x)
    docs.filter(col(text).isNotNull)
      .select(col(id),
        when(n.between(minWords, maxWords) &&
          meanLen.between(3.0, 10.0) &&
          alphaFrac >= 0.8 &&
          symbolFrac <= 0.1 &&
          stopHits >= 2, 1).otherwise(0).as("keep"),
        nb.as("n_bigrams"),
        when(nb > 0, round(s / nb / lit(1e9), 6)).as("dsir_w"))
  }

  /** Streaming twin of `SummaryOps.countMinBuild` per event-time window:
    * the sketch is a pure counting aggregate, so the live form is ONE
    * watermarked windowed groupBy on (window, row, bucket) — state is
    * ≤ depth·width cells per open window REGARDLESS of key cardinality,
    * the same boundedness that makes the batch sketch the 100 TB
    * frequency monitor. Same salted-md5 bucket hash as the batch op, so
    * window-level sketches from the two paths are interchangeable
    * (batch ≡ stream asserted per window in StreamingSpec).
    */
  def countMinStream(events: DataFrame, key: Column, ts: String,
      horizon: String, windowDur: String,
      depth: Int = 4, width: Int = 1024): DataFrame =
    events.select(col(ts).as("__ts"), key.cast("string").as("__k"))
      .filter(col("__k").isNotNull)
      .withWatermark("__ts", horizon)
      .select(col("__ts"),
        explode(sequence(lit(0), lit(depth - 1))).as("row"), col("__k"))
      .select(col("__ts"), col("row"),
        pmod(conv(substring(md5(concat(col("row").cast("string"), lit(":"),
          col("__k"))), 1, 8), 16, 10).cast("long"), lit(width.toLong))
          .cast("int").as("bucket"))
      .groupBy(window(col("__ts"), windowDur), col("row"), col("bucket"))
      .agg(count(lit(1)).as("cnt"))
      .select(col("window.start").as("win_start"), col("row"),
        col("bucket"), col("cnt"))

  /** Fixed-edge bin index in [0, bins): values below `lo` clamp to bin 0,
    * at/above `hi` to the last bin. Fixed edges, not data min/max — a
    * stream has no global extremes, and drift monitoring needs bins that
    * mean the same thing in every window anyway.
    */
  private def fixedBin(value: Column, lo: Double, hi: Double, bins: Int): Column =
    least(greatest(floor((value - lo) / ((hi - lo) / bins)), lit(0L)),
      lit((bins - 1).toLong)).cast("int")

  /** Laplace-smoothed fixed-bin shares of a BATCH reference frame —
    * (count(bin)+1)/(N+bins), the baseline profile `psiStream` compares
    * live windows against. Returns `bins` doubles (bounded by
    * construction); the only driver-side materialization is this tiny
    * vector, exactly like the k-means centroid matrix.
    */
  def fixedBinShares(df: DataFrame, value: Column, lo: Double, hi: Double,
      bins: Int): Seq[Double] = {
    val counts = df.filter(value.isNotNull)
      .select(fixedBin(value, lo, hi, bins).as("__b"))
      .groupBy("__b").agg(count(lit(1)).as("__n"))
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    val total = counts.values.sum
    (0 until bins).map(b =>
      (counts.getOrElse(b, 0L) + 1.0) / (total + bins.toDouble))
  }

  /** Streaming drift monitor: per tumbling 1 h window, the PSI of the live
    * `value` distribution against a static `baseline` share vector (from
    * [[fixedBinShares]] over reference data). Output: one row per
    * (window, bin) with both shares and the PSI contribution — the
    * window's total PSI is their sum, alertable downstream.
    *
    * ONE stateful aggregation: the fixed bins pivot into `bins` count
    * columns inside the windowed agg (state = bins longs per open window,
    * bounded by the watermark), and shares/contributions explode back to
    * tall rows STATELESSLY afterwards. No chained streaming aggregates,
    * no stream-side join — the baseline rides as literals.
    */
  def psiStream(events: DataFrame, baseline: Seq[Double],
      lo: Double, hi: Double): DataFrame = {
    val bins = baseline.length
    val cnts = (0 until bins).map(b =>
      sum(when(col("__bin") === b, 1L).otherwise(0L)).as(s"__c$b"))
    val total = (0 until bins).map(b => col(s"__c$b")).reduce(_ + _)
    val rows = (0 until bins).map { b =>
      val p = lit(baseline(b))
      val q = (col(s"__c$b") + lit(1.0)) / (total + lit(bins.toDouble))
      struct(lit(b).as("bin"),
        round(p, 6).as("p_base"),
        round(q, 6).as("p_curr"),
        round((p - q) * log(p / q), 6).as("psi_contrib"))
    }
    events.filter(col("value").isNotNull)
      .withColumn("__bin", fixedBin(col("value"), lo, hi, bins))
      .withWatermark("ts", "2 hours")
      .groupBy(window(col("ts"), "1 hour"))
      .agg(cnts.head, cnts.tail: _*)
      .select(col("window.start").as("win_start"), explode(array(rows: _*)).as("__x"))
      .select(col("win_start"), col("__x.bin"), col("__x.p_base"),
        col("__x.p_curr"), col("__x.psi_contrib"))
  }

  /** Streaming conformal coverage monitor — the live half of
    * `MetricsOps.groupConformal`: per-group thresholds τ are FROZEN from a
    * batch calibration run (the frozen-model discipline of
    * [[qualityGateStream]]), and the stream reports per-window empirical
    * coverage P(score ≤ τ_g). Coverage drifting below 1−α is the
    * canonical "recalibrate" alarm — conformal validity assumes
    * exchangeability with the calibration slice, which live drift breaks.
    *
    * Stateless per row (one map lookup + one comparison) plus one
    * watermarked windowed aggregate: state is ≤ |groups| cells per open
    * window regardless of traffic. Groups without a calibration τ are
    * ungated and dropped (no threshold contract to monitor).
    */
  case class MedInterval(stay_id: Long, itemid: Long, start_h: Long,
      stop_h: Long)
  case class MedMaskState(stops: List[Long])
  case class MedActive(stay_id: Long, itemid: Long, bucket: Long, active: Int)

  /** Stateful streaming twin of
    * `api.TimeSeriesGenerator.activeMedSignal`: the LIVE med-active mask
    * over the fixed bucket grid. State is one nB-slot stop-bucket array
    * per (stay, drug) — O(keys × grid), never O(events); each micro-batch
    * folds its intervals into the per-bucket MAX stop and re-emits the
    * full revised mask for the key (a revision stream — downstream keeps
    * the latest row per (stay, drug, bucket), which then equals the batch
    * mask over all intervals seen, however the input was batched).
    *
    * Interval rows arrive WINDOW-PREPARED (`shiftClipIntervals` upstream:
    * start ≥ 0, stop ≥ 0), mirroring the batch composition; starts beyond
    * the grid are ignored, stops past the top keep the drug active
    * through the last bucket. The forward-fill is POSITIONAL, not a
    * running max — bucket i reads the latest DEFINED bucket ≤ i (the
    * pandas ffill the reference applies to stop_time,
    * `data_generation_icu.py:497-501`), so a short refill after a long
    * infusion ends the signal early; spec-pinned.
    */
  def medActiveStream(intervals: Dataset[MedInterval], includeH: Int,
      bucketH: Int): Dataset[MedActive] = {
    import intervals.sparkSession.implicits._
    val nB = includeH / bucketH
    intervals
      .groupByKey(e => (e.stay_id, e.itemid))
      .flatMapGroupsWithState[MedMaskState, MedActive](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (key: (Long, Long), it: Iterator[MedInterval],
            state: GroupState[MedMaskState]) =>
          val stops = state.getOption.map(_.stops.toArray)
            .getOrElse(Array.fill(nB)(-1L)) // -1 = no interval starts here
          it.foreach { e =>
            if (e.start_h >= 0 && e.start_h < includeH) {
              val b = (e.start_h / bucketH).toInt
              val sb = (e.stop_h + bucketH - 1) / bucketH
              if (sb > stops(b)) stops(b) = sb
            }
          }
          state.update(MedMaskState(stops.toList))
          var ff = -1L
          var defined = false
          (0 until nB).iterator.map { i =>
            if (stops(i) >= 0) { ff = stops(i); defined = true }
            MedActive(key._1, key._2, i.toLong,
              if (defined && ff > i) 1 else 0)
          }
      }
  }

  def conformalCoverageStream(events: DataFrame, group: Column,
      score: Column, ts: String, taus: Map[String, Double],
      horizon: String, windowDur: String): DataFrame = {
    val tmap = typedLit(taus)
    events.filter(score.isNotNull)
      .select(col(ts).as("__ts"), group.cast("string").as("grp"),
        score.cast("double").as("__s"))
      .withColumn("__tau", try_element_at(tmap, col("grp")))
      .filter(col("__tau").isNotNull)
      .withWatermark("__ts", horizon)
      .groupBy(window(col("__ts"), windowDur).as("w"), col("grp"))
      .agg(count(lit(1)).as("n"),
        sum(when(col("__s") <= col("__tau"), 1L).otherwise(0L))
          .as("n_covered"))
      .select(col("w.start").as("win_start"), col("grp"), col("n"),
        col("n_covered"),
        round(col("n_covered").cast("double") / col("n").cast("double"), 6)
          .as("coverage"))
  }
}
