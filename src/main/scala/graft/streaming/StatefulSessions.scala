package graft.streaming

import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
import org.apache.spark.sql.{Dataset, SparkSession}

/** Custom streaming state via `flatMapGroupsWithState`: per-key state
  * that survives across micro-batches — the engine's stateful-operator
  * surface (SURVEY.md §2.9 extension; no analogue exists in the reference).
  *
  * Each operator's state is bounded per key, so a 1000-executor cluster
  * holds total state O(distinct keys), partitioned by the grouping key —
  * the shape that scales; unbounded per-key buffers would not.
  */
object StatefulSessions {

  final case class TypedEvent(user_id: Long, event_id: Long,
                              ts_micros: Long, event_type: String)
  final case class PatternHit(user_id: Long, start_event_id: Long,
                              start_ts_micros: Long)

  /** Streaming CONSECUTIVE-pattern matcher — the stateful twin of
    * [[graft.operators.Analytics.sequenceMatch]]: per user, carry only
    * the last `pattern.length − 1` events across micro-batches and emit
    * a hit whenever a gap-free run completes the pattern.
    *
    * State is bounded at k−1 events per user regardless of history — the
    * property that makes MATCH_RECOGNIZE-style detection streamable. A
    * hit's last element is always from the CURRENT batch (the carried
    * suffix is shorter than k), so nothing double-emits across batches.
    * In-batch events sort by (ts, event_id); batches are assumed
    * event-time-ordered per key (the replay's file order — a production
    * deployment puts a watermark-sorted buffer in front, same as any
    * order-sensitive stateful op). */
  def matchPattern(pattern: Seq[String])(
      userId: Long, events: Iterator[TypedEvent],
      state: GroupState[Seq[TypedEvent]]): Iterator[PatternHit] = {
    val k = pattern.length
    val batch = events.toArray.sortBy(e => (e.ts_micros, e.event_id))
    val seq = state.getOption.getOrElse(Seq.empty) ++ batch
    val hits = seq.sliding(k).collect {
      case w if w.length == k && w.map(_.event_type) == pattern =>
        PatternHit(userId, w.head.event_id, w.head.ts_micros)
    }.toVector
    state.update(seq.takeRight(k - 1))
    hits.iterator
  }

  /** Wire the pattern matcher over a (possibly streaming) typed Dataset. */
  def patternHits(spark: SparkSession, events: Dataset[TypedEvent],
                  pattern: Seq[String]): Dataset[PatternHit] = {
    import spark.implicits._
    require(pattern.size >= 2, "pattern needs at least 2 steps")
    events.groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout)(
        matchPattern(pattern))
  }

  // ───────────────────────── streaming retention ─────────────────────────

  final case class RetEvent(user_id: Long, ts: java.sql.Timestamp)
  /** Per-user retention state: the Monday epoch-day of the first-seen week
    * plus the set of week offsets already emitted — bounded by the
    * retention horizon (horizonDays/7 small ints per user), and evicted
    * outright by event-time timeout once the watermark passes the user's
    * last activity + horizon. */
  final case class RetState(first_week_days: Int, emitted: Seq[Int])
  /** One NEW (user, cohort, offset) cell — or, with `week_offset == -1`,
    * an eviction marker emitted when the user's state times out (filtered
    * from results; specs use it to prove state really gets bounded). */
  final case class RetCell(user_id: Long, cohort_week_days: Int, week_offset: Int)

  /** Monday-midnight week truncation as an epoch-day number — the JVM twin
    * of `date_trunc('week', ts)` under a UTC session. Epoch day 0
    * (1970-01-01) was a Thursday, so the most recent Monday on-or-before
    * day `e` is `e − ((e + 3) mod 7)`. */
  private[streaming] def mondayOf(tsMillis: Long): Int = {
    val e = Math.floorDiv(tsMillis, 86400000L).toInt
    e - Math.floorMod(e + 3, 7)
  }

  /** Stateful retention cells: per user, emit each (cohort_week,
    * week_offset) grid cell the FIRST time that user is active in that
    * week — exactly-once per cell, so a downstream `count` of cells equals
    * the batch grid's `count_distinct(user_id)`. The first batch that
    * contains a user fixes their cohort week (the replay feeds
    * event-time-ordered batches, so no earlier event can arrive later —
    * the same ordering contract as [[matchPattern]]).
    *
    * State is evicted by EVENT-TIME TIMEOUT at last activity + horizon:
    * total state is O(users active within the horizon), not O(all users
    * ever) — the bound that makes per-entity streaming state survive an
    * unbounded stream. A timed-out user re-appearing later would start a
    * new cohort; the horizon is the declared semantics boundary, not a
    * shortcut. */
  def retentionCells(horizonDays: Int)(
      userId: Long, events: Iterator[RetEvent],
      state: GroupState[RetState]): Iterator[RetCell] = {
    if (state.hasTimedOut) {
      state.remove()
      Iterator.single(RetCell(userId, -1, -1))
    } else {
      val weeks = events.map(e => (mondayOf(e.ts.getTime), e.ts.getTime)).toArray
      val maxTs = weeks.iterator.map(_._2).max
      val prev = state.getOption
      val first = prev.map(_.first_week_days)
        .getOrElse(weeks.iterator.map(_._1).min)
      val already = prev.map(_.emitted.toSet).getOrElse(Set.empty[Int])
      val fresh = weeks.iterator.map(w => (w._1 - first) / 7)
        .filter(_ >= 0).toSet.diff(already).toSeq.sorted
      state.update(RetState(first, (already ++ fresh).toSeq))
      state.setTimeoutTimestamp(maxTs + horizonDays * 86400000L)
      fresh.iterator.map(RetCell(userId, first, _))
    }
  }

  /** Wire the retention-cell emitter over a watermarked typed Dataset. */
  def retentionStream(spark: SparkSession, events: Dataset[RetEvent],
                      horizonDays: Int = 90): Dataset[RetCell] = {
    import spark.implicits._
    events.groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.EventTimeTimeout)(
        retentionCells(horizonDays))
  }

  // ───────────────────────── streaming anomalies ─────────────────────────

  /** One event's type, time and exact cents: the input of the anomaly,
    * CUSUM and gap-fill folds. */
  final case class CentsEvent(event_type: String, ts: java.sql.Timestamp,
                              cents: Long)
  /** Per-event-type anomaly state: `open` accumulates cent totals for days
    * the watermark has not yet sealed (at most watermark-delay + 1 days),
    * `trail` carries the last `trailing − 1` SEALED (epoch_day, cents)
    * observations — the z-score baseline. Both are O(trailing) entries per
    * key, so total state is O(event types × trailing), unconditionally
    * bounded. */
  final case class AnomState(open: Seq[(Int, Long)], trail: Seq[(Int, Long)])
  final case class AnomRow(event_type: String, day: String, day_value: Double,
                           z_score: Double, is_anomaly: Boolean)

  /** Streaming trailing-window z-score anomalies — the stateful twin of
    * [[graft.operators.Analytics.dailyAnomalies]]: per event type, each
    * day's cent total is sealed once the watermark passes the end of the
    * day, scored against the trailing `trailing`-day baseline of sealed
    * days (observed days only — a sparse key's missing days age out by the
    * day-valued range, exactly like the batch RANGE frame), and emitted
    * exactly once.
    *
    * A day with data is sealed by the NEXT invocation that sees the
    * watermark past it — either new rows for the key or the event-time
    * timeout this function re-arms at the earliest open day's end, so keys
    * with no further traffic still flush when the watermark advances.
    *
    * Determinism: cent totals are exact longs (the per-event
    * `decimal(18,2) × 100` projection sums associatively in any arrival
    * order), and the double formula below is operation-for-operation the
    * batch plan's, so streamed z-scores EQUAL the batch query's bit for
    * bit — the parity the spec and the shared anom1 oracle pin. */
  def anomalyCells(trailing: Int, zThreshold: Double)(
      eventType: String, events: Iterator[CentsEvent],
      state: GroupState[AnomState]): Iterator[AnomRow] = {
    val prev = state.getOption.getOrElse(AnomState(Nil, Nil))
    val open = scala.collection.mutable.Map[Int, Long](prev.open: _*)
    if (!state.hasTimedOut)
      events.foreach { e =>
        val d = Math.floorDiv(e.ts.getTime, 86400000L).toInt
        open(d) = open.getOrElse(d, 0L) + e.cents
      }
    // a day is sealed once no event of that day can still arrive: last
    // possible ts = day end − 1ms < watermark  ⇔  epoch_day < wmDay
    val wmDay = Math.floorDiv(state.getCurrentWatermarkMs, 86400000L).toInt
    val sealedNow = open.keys.filter(_ < wmDay).toSeq.sorted
    var trail = prev.trail
    val out = Vector.newBuilder[AnomRow]
    for (d <- sealedNow) {
      val cents = open.remove(d).get
      val base = trail.filter(t => t._1 >= d - (trailing - 1) && t._1 < d)
      val n = base.length + 1
      val s1 = base.iterator.map(_._2).sum + cents
      val s2 = base.iterator.map(t => t._2 * t._2).sum + cents * cents
      val nD = n.toDouble; val s1D = s1.toDouble; val s2D = s2.toDouble
      val mean = s1D / nD
      val variance = (s2D - s1D * s1D / nD) / (nD - 1)
      val zr =
        if (n > 1 && variance > 0)
          math.floor((cents.toDouble - mean) / math.sqrt(variance) * 10000 + 0.5) / 10000
        else 0.0
      out += AnomRow(eventType,
        java.time.LocalDate.ofEpochDay(d.toLong).toString,
        cents.toDouble / 100, zr, math.abs(zr) > zThreshold)
      trail = (trail :+ (d, cents)).filter(_._1 >= d - (trailing - 2))
    }
    state.update(AnomState(open.toSeq.sortBy(_._1), trail))
    // re-arm at the earliest open day's end so the flush happens even if
    // this key never receives another row ((minOpen+1)·day > watermark
    // always holds — minOpen ≥ wmDay); with nothing open, no timer: the
    // trail waits O(trailing entries) for the key's next active day
    if (open.nonEmpty)
      state.setTimeoutTimestamp((open.keys.min + 1).toLong * 86400000L)
    out.result().iterator
  }

  /** Wire the anomaly scorer over a watermarked typed Dataset. */
  def anomalyStream(spark: SparkSession, events: Dataset[CentsEvent],
                    trailing: Int = 7,
                    zThreshold: Double = 2.0): Dataset[AnomRow] = {
    import spark.implicits._
    events.groupByKey(_.event_type)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.EventTimeTimeout)(
        anomalyCells(trailing, zThreshold))
  }

  // ───────────────────────── streaming CUSUM drift ─────────────────────────

  /** Per-key CUSUM state: unsealed day totals (watermark-delay bounded)
    * plus the 4-scalar chart core — warmup progress (n, sum) and the two
    * one-sided statistics in W·cents units. O(open days) while sealing,
    * O(1) at rest. */
  final case class CusumState(open: Seq[(Int, Long)], warm_n: Int,
                              warm_sum: Long, s_up: Long, s_dn: Long)
  final case class CusumRow(event_type: String, day: String, revenue: Double,
                            cusum_up: Double, cusum_dn: Double,
                            alarm_up: Boolean, alarm_dn: Boolean,
                            is_warmup: Boolean)

  /** Streaming CUSUM cells — the stateful twin of
    * [[graft.operators.Analytics.cusumWarmup]]: each day the watermark
    * seals either feeds the warmup target (first `warmDays` days, flagged
    * zero rows) or advances the exact-integer recurrences
    * S = max(0, S + z), T = max(0, T − z) with z = W·cents − S_warm and
    * emits its chart row exactly once, in day order. Day totals are
    * order-insensitive cent longs and the recurrence consumes each sealed
    * day exactly once, so the streamed rows equal the batch fold digit
    * for digit. Timers re-arm at the earliest open day's end (quiet keys
    * still flush); at rest the state is four scalars per event type. */
  def cusumCells(warmDays: Int)(
      eventType: String, events: Iterator[CentsEvent],
      state: GroupState[CusumState]): Iterator[CusumRow] = {
    val prev = state.getOption.getOrElse(CusumState(Nil, 0, 0L, 0L, 0L))
    val open = scala.collection.mutable.Map[Int, Long](prev.open: _*)
    if (!state.hasTimedOut)
      events.foreach { e =>
        val d = Math.floorDiv(e.ts.getTime, 86400000L).toInt
        open(d) = open.getOrElse(d, 0L) + e.cents
      }
    val wmDay = Math.floorDiv(state.getCurrentWatermarkMs, 86400000L).toInt
    val sealedNow = open.keys.filter(_ < wmDay).toSeq.sorted
    var wn = prev.warm_n; var ws = prev.warm_sum
    var su = prev.s_up; var sd = prev.s_dn
    val out = Vector.newBuilder[CusumRow]
    for (d <- sealedNow) {
      val cents = open.remove(d).get
      val dayStr = java.time.LocalDate.ofEpochDay(d.toLong).toString
      if (wn < warmDays) {
        wn += 1; ws += cents
        out += CusumRow(eventType, dayStr, cents.toDouble / 100,
          0.0, 0.0, alarm_up = false, alarm_dn = false, is_warmup = true)
      } else {
        val z = warmDays.toLong * cents - ws
        su = math.max(0L, su + z); sd = math.max(0L, sd - z)
        def ratio(s: Long) =
          if (ws != 0) math.floor(s.toDouble / ws * 1e6 + 0.5) / 1e6 else 0.0
        val (ru, rd) = (ratio(su), ratio(sd))
        out += CusumRow(eventType, dayStr, cents.toDouble / 100,
          ru, rd, alarm_up = ru > 1.0, alarm_dn = rd > 1.0, is_warmup = false)
      }
    }
    state.update(CusumState(open.toSeq.sortBy(_._1), wn, ws, su, sd))
    if (open.nonEmpty)
      state.setTimeoutTimestamp((open.keys.min + 1).toLong * 86400000L)
    out.result().iterator
  }

  /** Wire the CUSUM chart over a watermarked typed Dataset. */
  def cusumStream(spark: SparkSession, events: Dataset[CentsEvent],
                  warmDays: Int = 10): Dataset[CusumRow] = {
    import spark.implicits._
    events.groupByKey(_.event_type)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.EventTimeTimeout)(
        cusumCells(warmDays))
  }

  // ───────────────────────── streaming Holt smoothing ─────────────────────────

  final case class HoltEvent(ts: java.sql.Timestamp, cents: Long)
  /** Global Holt state: `open` accumulates cent totals for unsealed days
    * (watermark-delay bounded); once two days have sealed the whole model
    * is the (level, trend) pair plus the sealed-day count — O(1) at rest.
    * `pending_*` buffers the FIRST sealed day, whose emitted row needs
    * y_2 for the classic b_1 = y_2 − y_1 init. */
  final case class HoltState(open: Seq[(Int, Long)], sealed_n: Int,
                             pending_day: Int, pending_cents: Long,
                             level: Double, trend: Double)
  final case class HoltRow(day: String, revenue: Double, level: Double,
                           trend: Double, forecast: Double)

  /** Streaming Holt linear smoothing — the stateful twin of hw1
    * ([[graft.operators.Analytics.holtLinearDaily]]): each day the
    * watermark seals updates (level, trend) by the SAME snapped
    * recurrence and emits its row exactly once, in day order, with the
    * one-step-ahead forecast made before the update. Day totals are
    * order-insensitive cent longs, and the recurrence consumes each
    * sealed day exactly once — so the streamed rows equal the batch fold
    * digit for digit (the driver gate runs hw1's oracle against them).
    *
    * The group key is a constant: the model is one global (level, trend)
    * pair, the same calendar-bounded state the batch fold collects. At
    * scale the day totals would pre-aggregate upstream (the windowed-agg
    * shape); the state itself never grows past open-day count + 4
    * scalars. Timer re-arms at the earliest open day's end, st12-style,
    * so the tail flushes without new data. */
  def holtCells(alpha: Double, beta: Double)(
      key: String, events: Iterator[HoltEvent],
      state: GroupState[HoltState]): Iterator[HoltRow] = {
    val prev = state.getOption.getOrElse(
      HoltState(Nil, 0, Int.MinValue, 0L, 0.0, 0.0))
    val open = scala.collection.mutable.Map[Int, Long](prev.open: _*)
    if (!state.hasTimedOut)
      events.foreach { e =>
        val d = Math.floorDiv(e.ts.getTime, 86400000L).toInt
        open(d) = open.getOrElse(d, 0L) + e.cents
      }
    val wmDay = Math.floorDiv(state.getCurrentWatermarkMs, 86400000L).toInt
    val sealedNow = open.keys.filter(_ < wmDay).toSeq.sorted
    def r6(x: Double) = math.floor(x * 1000000.0 + 0.5) / 1000000.0
    def dayStr(d: Int) = java.time.LocalDate.ofEpochDay(d.toLong).toString
    var n = prev.sealed_n
    var pd = prev.pending_day; var pc = prev.pending_cents
    var level = prev.level; var trend = prev.trend
    val out = Vector.newBuilder[HoltRow]
    def step(d: Int, cents: Long): Unit = {
      val y = cents.toDouble / 100
      val f = r6(level + trend)
      val lNew = r6(alpha * y + (1 - alpha) * (level + trend))
      val bNew = r6(beta * (lNew - level) + (1 - beta) * trend)
      level = lNew; trend = bNew
      out += HoltRow(dayStr(d), y, level, trend, f)
    }
    for (d <- sealedNow) {
      val cents = open.remove(d).get
      if (n == 0) { pd = d; pc = cents }
      else if (n == 1) {
        val y1 = pc.toDouble / 100
        level = r6(y1); trend = r6(cents.toDouble / 100 - y1)
        out += HoltRow(dayStr(pd), y1, level, trend, 0.0)
        step(d, cents)
      } else step(d, cents)
      n += 1
    }
    state.update(HoltState(open.toSeq.sortBy(_._1), n, pd, pc, level, trend))
    if (open.nonEmpty)
      state.setTimeoutTimestamp((open.keys.min + 1).toLong * 86400000L)
    out.result().iterator
  }

  /** Wire the Holt smoother over a watermarked typed Dataset. */
  def holtStream(spark: SparkSession, events: Dataset[HoltEvent],
                 alpha: Double = 0.5, beta: Double = 0.25): Dataset[HoltRow] = {
    import spark.implicits._
    events.groupByKey(_ => "all")
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.EventTimeTimeout)(
        holtCells(alpha, beta))
  }

  // ───────────────────────── streaming gap fill ─────────────────────────

  /** Per-key LOCF state: the last EMITTED day + its carried cent value,
    * the last activity time (drives eviction), and the open (day, n,
    * cents) totals the watermark has not yet sealed — O(open days) per
    * key, bounded by the watermark delay. */
  final case class GapState(last_day: Int, last_cents: Long, last_ms: Long,
                            open: Seq[(Int, Long, Long)])
  /** One sealed (key, day) row, emitted exactly once in day order:
    * an observation day carries its totals, an interior gap day carries
    * zeros + the LOCF value. Days outside [first obs, last obs] are NEVER
    * emitted here — leading/trailing spine alignment is deterministic
    * from these cells and happens on the (spine-sized) result, not in
    * per-key state. */
  final case class GapCell(event_type: String, day: Int, n_events: Long,
                           cents: Long, locf_cents: Long)

  /** Streaming LOCF gap fill — the stateful twin of ts1
    * ([[graft.operators.Analytics.gapFillDailySegmented]]): per event
    * type, every day between the key's first and last observation emits
    * exactly once when the watermark seals it — observation days with
    * their exact cent totals (order-insensitive longs, the anom1
    * discipline), interior gap days with zeros and the carried value.
    * Emission is capped at the key's LAST OPEN OBSERVATION, so a
    * far-future sentinel flushes the real span without spewing trailing
    * gap rows; the timer re-arms at the earliest open day's end, so
    * quiet keys still flush.
    *
    * Once a key's open days drain, its state shrinks to the 3-scalar
    * LOCF core (last day, last cents, last activity) and the timer is
    * simply not re-armed — the core is NEVER evicted. That is the
    * semantics, not a leak: LOCF carries across arbitrarily long
    * silences (evicting after a horizon would restart the carried value
    * at 0 and skip the silent days' gap rows — breaking the exact ts1
    * parity on any span longer than the horizon), and the key space is
    * the event-type vocabulary, inherently bounded. Total state:
    * O(keys × open days) while sealing, O(keys) at rest. */
  def gapFillCells(
      eventType: String, events: Iterator[CentsEvent],
      state: GroupState[GapState]): Iterator[GapCell] = {
    val prev = state.getOption
    val open = scala.collection.mutable.Map[Int, (Long, Long)](
      prev.map(_.open.map(t => t._1 -> ((t._2, t._3)))).getOrElse(Nil).toSeq: _*)
    var lastMs = prev.map(_.last_ms).getOrElse(Long.MinValue)
    if (!state.hasTimedOut)
      events.foreach { e =>
        val d = Math.floorDiv(e.ts.getTime, 86400000L).toInt
        val (n, c) = open.getOrElse(d, (0L, 0L))
        open(d) = (n + 1, c + e.cents)
        lastMs = math.max(lastMs, e.ts.getTime)
      }
    val wmDay = Math.floorDiv(state.getCurrentWatermarkMs, 86400000L).toInt
    var last = prev.map(_.last_day).filter(_ > Int.MinValue)
    var locf = prev.map(_.last_cents).getOrElse(0L)
    val out = Vector.newBuilder[GapCell]
    if (open.nonEmpty) {
      val sealTo = math.min(wmDay - 1, open.keys.max)
      var d = last.map(_ + 1).getOrElse(open.keys.min)
      while (d <= sealTo) {
        open.remove(d) match {
          case Some((n, c)) =>
            locf = c; out += GapCell(eventType, d, n, c, c)
          case None =>
            out += GapCell(eventType, d, 0L, 0L, locf)
        }
        last = Some(d)
        d += 1
      }
    }
    state.update(GapState(last.getOrElse(Int.MinValue), locf, lastMs,
      open.toSeq.map(t => (t._1, t._2._1, t._2._2)).sortBy(_._1)))
    if (open.nonEmpty)
      state.setTimeoutTimestamp((open.keys.min + 1).toLong * 86400000L)
    // open empty: no timer — the LOCF core rests until the key's next data
    out.result().iterator
  }

  /** Wire the gap-fill emitter over a watermarked typed Dataset. */
  def gapFillStream(spark: SparkSession, events: Dataset[CentsEvent]): Dataset[GapCell] = {
    import spark.implicits._
    events.groupByKey(_.event_type)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.EventTimeTimeout)(
        gapFillCells)
  }

  // ─────────────────────── streaming time-to-convert ───────────────────────

  final case class TtcEvent(user_id: Long, ts: java.sql.Timestamp,
                            event_id: Long, event_type: String)
  /** Per-user funnel state: the first-`from` event time plus a `done`
    * marker. The state must OUTLIVE the conversion (until the horizon
    * timer evicts it): removing it at emit time would let a later `from`
    * event of the same user re-open the funnel and double-emit, breaking
    * the one-row-per-user contract the batch grid aggregates over. */
  final case class TtcState(first_view_us: Long, done: Boolean)
  /** One per-user funnel outcome, emitted exactly once: `delta_us` is the
    * first-view → first-subsequent-purchase delay in micros, or −1 for a
    * user whose horizon expired unconverted. */
  final case class TtcCell(user_id: Long, dow: Long, delta_us: Long)

  private def epochUsOf(ts: java.sql.Timestamp): Long =
    ts.getTime * 1000L + (ts.getNanos / 1000L) % 1000L

  /** Weekday of a micros instant as epoch-day mod 7 — the JVM twin of the
    * batch `pmod(datediff(to_date(t1), '1970-01-01'), 7)` under UTC. */
  private def dowOf(us: Long): Long =
    Math.floorMod(Math.floorDiv(us, 86400000000L), 7L)

  /** Stateful time-to-convert — the streaming twin of
    * [[graft.operators.Analytics.timeToConvert]]'s per-user leg: a user's
    * state opens at their first `from` event and closes EXACTLY once,
    * either at the first later `to` event (convert: emit the micros delta —
    * arrival is event-time ordered across batches and (ts, event_id)-sorted
    * within one, so the first qualifying `to` seen IS the minimum) or when
    * the event-time timer at first-view + horizon fires (no-convert: emit
    * −1). The horizon is the finite-replay stand-in for the batch query's
    * unbounded lookahead — the caller sizes it past the data end, so a
    * conversion can never land after its user already emitted −1.
    *
    * State is ONE long per open user, removed on either exit path: total
    * state O(users inside the horizon), the bound that lets the same
    * operator run against an unbounded clickstream where funnel1's batch
    * self-join cannot. */
  def ttcCells(from: String, to: String, horizonUs: Long)(
      userId: Long, events: Iterator[TtcEvent],
      state: GroupState[TtcState]): Iterator[TtcCell] = {
    if (state.hasTimedOut) {
      val s = state.get
      state.remove()
      if (s.done) Iterator.empty
      else Iterator.single(TtcCell(userId, dowOf(s.first_view_us), -1L))
    } else if (state.getOption.exists(_.done)) {
      // Spark clears a key's timer on every invocation with data, so a
      // converted user who keeps producing events would otherwise lose the
      // horizon timer and hold the done marker forever. Re-arm it (clamped
      // to the watermark — setTimeoutTimestamp rejects earlier instants);
      // the state itself must survive until the horizon so a later `from`
      // event cannot re-open the funnel and double-emit.
      val fv = state.get.first_view_us
      state.setTimeoutTimestamp(
        math.max(fv / 1000L + horizonUs / 1000L, state.getCurrentWatermarkMs))
      Iterator.empty
    } else {
      val sorted = events.toArray.sortBy(e => (epochUsOf(e.ts), e.event_id))
      var firstView = state.getOption.map(_.first_view_us)
      var hit: Option[TtcCell] = None
      for (e <- sorted if hit.isEmpty) {
        val t = epochUsOf(e.ts)
        if (e.event_type == from && firstView.isEmpty)
          firstView = Some(t)
        else if (e.event_type == to && firstView.exists(t > _))
          hit = Some(TtcCell(userId, dowOf(firstView.get), t - firstView.get))
      }
      firstView.foreach { fv =>
        state.update(TtcState(fv, done = hit.isDefined))
        // clamped like the done branch: a LATE first-stage event (FMGWS
        // does not drop below-watermark rows for us) can put fv + horizon
        // behind the watermark, and an unclamped set would throw and kill
        // the query
        state.setTimeoutTimestamp(
          math.max(fv / 1000L + horizonUs / 1000L, state.getCurrentWatermarkMs))
      }
      hit.iterator
    }
  }

  /** Wire the time-to-convert emitter over a watermarked typed Dataset. */
  def ttcStream(spark: SparkSession, events: Dataset[TtcEvent],
                horizonUs: Long, from: String = "view",
                to: String = "purchase"): Dataset[TtcCell] = {
    import spark.implicits._
    events.groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.EventTimeTimeout)(
        ttcCells(from, to, horizonUs))
  }
}
