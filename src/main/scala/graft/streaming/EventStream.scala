package graft.streaming

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.sql.{Column, DataFrame, SparkSession}

/** Structured Streaming over the `events` table.
  *
  * The reference has no streams (SURVEY.md §2.9); this is the engine's
  * event-time extension: `readStream` → watermark → tumbling window →
  * `writeStream`, with batch parity enforced by the DuckDB oracle (the
  * streaming query's result must hash-match the batch window aggregation).
  *
  * `events.ts` has shipped as both int64 TIMESTAMP(NANOS) and plain
  * `timestamp[us]` across fixture regenerations, so every replay PROBES the
  * parquet footer and derives its read schema + conversions from a
  * [[TsCodec]] — the streaming twin of the schema-adaptive batch path in
  * [[graft.Tables.events]]. Nothing below assumes the physical encoding.
  *
  * Every replay stages and drains through [[Replay]]; what stays here is
  * each replay's stream transform and the post-processing of its result.
  */
object EventStream {

  /** State-partition count for the fixture replays (guide §2.2: size
    * partitions to the data, here the STATE volume). A stateful streaming
    * stage runs one state-store instance per shuffle partition per
    * micro-batch, and every instance pays load+commit I/O to the
    * checkpoint dir each batch — with day-grain keys the fixtures carry
    * a few thousand state rows, so inheriting the session's scan-sized
    * `spark.sql.shuffle.partitions` (32 on the bench) made the replays
    * state-store-I/O-bound: `Tool profile` measured st16/st17 at ~100 s of
    * task time for ~4 s of useful work, and the 32→4 A/B cut wall ~2×
    * (OPTIMIZATION_r15.md). Results are partition-count independent
    * (hash-partitioned state, order-free folds), which the batch-parity
    * oracles pin at every SF.
    *
    * DERIVED, not constant (round-16: the round-15 constant-4 default was
    * fixture-tuned — VERDICT r15 item 3/7): one partition per
    * million candidate state rows, floored at 1 and CAPPED at the session
    * default — LoopConf.sizedParts' discipline. `stateRows` is an upper
    * bound on the replay's state keys (its input row count, which the
    * [[Replay]] stager reads from the parquet footer or its bounds agg at
    * no extra job), so a production deployment whose stream carries
    * 10⁹+ keys runs at exactly its session default, while the fixture
    * replays stop paying 32 state-store instances of load+commit I/O per
    * micro-batch for a few thousand keys. */
  private[streaming] def statePartitions(spark: SparkSession,
                                         stateRows: Long): Int = {
    val session = spark.sessionState.conf.numShufflePartitions
    math.max(1L, math.min(stateRows / 1000000L + 1L, session.toLong)).toInt
  }

  /** Run `body` (the start + drain of ONE [[Replay]]) with
    * `spark.sql.shuffle.partitions` sized to the replay's state rather
    * than the session's scan default, restoring the session value after.
    * The conf must stay set until `processAllAvailable` returns: Spark
    * pins the value into the stream's OffsetSeqMetadata when the query
    * starts and plans every micro-batch with it. */
  private[streaming] def withStateSizedShuffle[T](spark: SparkSession,
      stateRows: Long)(body: => T): T =
    graft.util.LoopConf.withShuffleParts(spark, statePartitions(spark, stateRows))(body)

  /** The events fixture under `sfDir`, its probed [[TsCodec]], and the
    * [[Replay]] layouts its replays stage. */
  private[streaming] final class Fixture(spark: SparkSession, sfDir: String) {
    val file = s"$sfDir/events.parquet"
    val codec: TsCodec = codecFor(spark, file)
    def raw: DataFrame = spark.read.schema(codec.rawSchema).parquet(file)
    /** The fixture copied `copies` times: one micro-batch. */
    def copied(copies: Int = 1): Replay.Layout =
      Replay.Copied(file, raw, codec.tsMicros, copies)
    /** The fixture, then the shared sentinel: one user −1 row of each of
      * `types`, 400 days past the data end. */
    def thenSentinel(types: String*): Replay.Layout =
      Replay.Copied(file, raw, codec.tsMicros,
        sentinel = Some(sentinel(types, (_, _) => 400L * DayUs)))
    /** Three time ranges, then one user −1 `sentinelType` row
      * `offsetUs(t0, t1)` past the data end: the caller states the offset,
      * because a fixed one is a latent bug for span-derived horizons (a
      * +400d sentinel silently under-shoots a span+1d timer once the
      * fixture spans > 399 days, and the unfired timers' rows go missing). */
    def ranged(sentinelType: String)(offsetUs: (Long, Long) => Long): Replay.Layout =
      Replay.Ranged(raw, codec.tsMicros, Some(sentinel(Seq(sentinelType), offsetUs)))
    /** The staged batches as a stream with `ts` normalized to TimestampType. */
    def stream(st: Replay.Staged): DataFrame =
      st.read(spark).withColumn("ts", codec.tsTimestamp)
    /** (event_type, ts, cents) per event, watermarked at 0 s: the input
      * of the anomaly, CUSUM and gap-fill folds. */
    def centsEvents(st: Replay.Staged): org.apache.spark.sql.Dataset[StatefulSessions.CentsEvent] = {
      import spark.implicits._
      stream(st).withWatermark("ts", "0 seconds")
        .select(col("event_type"), col("ts"), cents.as("cents"))
        .as[StatefulSessions.CentsEvent]
    }
    // sentinel rows carry epoch micros in `ts`, encoded into the fixture's
    // raw type so the source dir stays single-schema
    private def sentinel(types: Seq[String], offsetUs: (Long, Long) => Long): Replay.Sentinel =
      (t0, t1) => {
        import spark.implicits._
        types.zipWithIndex
          .map { case (t, i) => (-1L - i, t1 + offsetUs(t0, t1), -1L, t, 0.0, "{}") }
          .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
          .withColumn("ts", codec.microsToRaw(col("ts")))
      }
  }

  private val DayUs = 86400L * 1000000L

  /** The last data day (`yyyy-MM-dd`) of a staged replay: the trim bound
    * for a sentinel's own far-future cells. */
  private def lastDay(st: Replay.Staged): String =
    java.time.LocalDate.ofEpochDay(Math.floorDiv(st.hi, DayUs)).toString

  /** Exact cents of `value`: the `decimal(18,2) × 100` projection makes
    * totals exact longs in any arrival order. */
  private val cents: Column = (col("value").cast("decimal(18,2)") * 100).cast("long")

  /** Replay the fixture TWICE through the streaming dedup (two copies of
    * the parquet in the source dir → every event arrives duplicated) and
    * return the deduped rows: the result must equal the batch table
    * exactly, which is the stream/batch parity contract for stateful
    * dedup. Single micro-batch, so no duplicate outlives the state. */
  def runDedupOverFixture(spark: SparkSession, sfDir: String): DataFrame = {
    val fx = new Fixture(spark, sfDir)
    Replay.toMemory(spark, "DedupStream", fx.copied(copies = 2))(st =>
      dedupStream(fx.stream(st)))._1
  }

  /** Purchases joined to the same user's clicks within the preceding
    * `windowMinutes`, each side its own read of `side`. Both sides carry
    * watermarks and the condition bounds event-time distance, so Spark
    * can expire buffered state: rows older than (watermark − window) can
    * never match again. */
  private def purchaseClickJoin(side: => DataFrame, windowMinutes: Int,
                                joinType: String): DataFrame = {
    def pick(eventType: String, prefix: String) =
      side.filter(col("event_type") === eventType)
        .select(col("event_id").as(s"${prefix}_id"),
          col("user_id").as(s"${prefix}_user"), col("ts").as(s"${prefix}_ts"))
        .withWatermark(s"${prefix}_ts", "0 seconds")
    pick("purchase", "p").join(pick("click", "c"),
      col("p_user") === col("c_user") &&
        col("c_ts") >= col("p_ts") - expr(s"INTERVAL $windowMinutes MINUTES") &&
        col("c_ts") <= col("p_ts"),
      joinType)
  }

  /** Stream-stream INTERVAL JOIN — the attribution shape as a continuous
    * computation. Replayed over the fixture it must equal the equivalent
    * batch range-join row-for-row (the DuckDB oracle). */
  def runIntervalJoinOverFixture(spark: SparkSession, sfDir: String,
                                 windowMinutes: Int = 10): DataFrame = {
    val fx = new Fixture(spark, sfDir)
    Replay.toMemory(spark, "JoinStream", fx.copied())(st =>
      purchaseClickJoin(fx.stream(st), windowMinutes, "inner"))._1
  }

  /** Stream-stream LEFT OUTER interval join — st4's attribution shape
    * plus the outer-join semantics streaming makes hard: an unmatched
    * purchase emits its null row only once the watermark proves no
    * in-window click can still arrive (state eviction time), never
    * speculatively.
    *
    * Exact batch parity needs the watermark to pass EVERY purchase, and
    * a file stream's watermark stops at the last batch's max event time —
    * so the sentinel pair (user −1, both event types, filtered back out of
    * the result) advances both sides' watermarks past the real data,
    * which flushes every buffered outer row — the same trick a production
    * pipeline plays with source heartbeats. */
  def runLeftOuterJoinOverFixture(spark: SparkSession, sfDir: String,
                                  windowMinutes: Int = 10): DataFrame = {
    val fx = new Fixture(spark, sfDir)
    Replay.toMemory(spark, "LojStream", fx.thenSentinel("click", "purchase"))(st =>
      purchaseClickJoin(fx.stream(st), windowMinutes, "left_outer"))._1
      .filter(col("p_user") =!= -1)
      .select(col("p_id"), col("p_user"),
        date_format(col("p_ts"), "yyyy-MM-dd HH:mm:ss").as("p_ts"),
        col("c_id"))
  }

  /** Replay the fixture through the stateful streaming pattern matcher
    * ([[StatefulSessions.patternHits]]); exact parity with the batch
    * `sequenceMatch` is the contract. */
  def runPatternOverFixture(spark: SparkSession, sfDir: String,
                            pattern: Seq[String]): DataFrame = {
    import spark.implicits._
    val fx = new Fixture(spark, sfDir)
    Replay.toMemory(spark, "PatternStream", fx.copied()) { st =>
      StatefulSessions.patternHits(spark, st.read(spark)
        .select(col("user_id"), col("event_id"),
          fx.codec.tsMicros.as("ts_micros"), col("event_type"))
        .as[StatefulSessions.TypedEvent], pattern)
    }._1.select(col("user_id"),
      col("start_event_id"),
      date_format(timestamp_micros(col("start_ts_micros")),
        "yyyy-MM-dd HH:mm:ss").as("start_ts"))
  }

  /** Streaming retention cohorts — the stateful twin of
    * [[graft.operators.Analytics.retentionCohorts]]: per-user state emits
    * each (cohort_week, week_offset) cell exactly once
    * ([[StatefulSessions.retentionCells]]), and the retention grid is the
    * count of emitted cells — exact batch parity (the ret1 oracle).
    *
    * The replay is genuinely multi-batch AND watermark-driven: per-user
    * state carries across the three time ranges, so cohort assignment
    * (first batch containing the user) is stable; the sentinel then
    * advances the watermark past every user's last activity + horizon,
    * firing the EventTimeTimeout for ALL real users — the state-eviction
    * leg runs in the replay itself, not just in theory. Eviction markers
    * (week_offset −1) and the sentinel are filtered from the grid; the
    * spec counts them to prove eviction fired. */
  def runRetentionOverFixture(spark: SparkSession, sfDir: String,
                              horizonDays: Int = 90): DataFrame = {
    import spark.implicits._
    val fx = new Fixture(spark, sfDir)
    // eviction timers sit at last-activity + horizon; last activity ≤ t1,
    // so horizon + 1 day past the data end fires every one of them
    val layout = fx.ranged("click")((_, _) => (horizonDays + 1).toLong * DayUs)
    Replay.toMemory(spark, "RetentionStream", layout) { st =>
      StatefulSessions.retentionStream(spark, fx.stream(st)
        .withWatermark("ts", "0 seconds")
        .select(col("user_id"), col("ts"))
        .as[StatefulSessions.RetEvent], horizonDays)
    }._1
  }

  /** Streaming TIME-TO-CONVERT — the stateful twin of funnel2
    * ([[graft.operators.Analytics.timeToConvert]]): per-user funnel state
    * ([[StatefulSessions.ttcCells]]) emits one outcome cell per started
    * user exactly once — at the first qualifying purchase, or at the
    * first-view + horizon event-time timer for non-converters — and the
    * weekday grid over those cells runs through the SAME
    * `timeToConvertGrid` plan as the batch query, so the contract is hash
    * parity with funnel2's oracle.
    *
    * State really carries across the time ranges (a user can view in
    * batch 0 and purchase in batch 2), and the sentinel fires the
    * no-convert leg in the replay itself. The horizon is sized past the
    * data end (span + 1 day), so no user can emit −1 while their
    * conversion is still in flight — which is exactly the batch query's
    * unbounded-lookahead semantics on a finite fixture. */
  def runTimeToConvertOverFixture(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val fx = new Fixture(spark, sfDir)
    // no-convert timers sit at first-view + (span + 1 day); first view
    // ≤ t1, so span + 2 days past the data end clears every timer at ANY
    // fixture span (a fixed +400d sentinel silently under-shoots the
    // span-derived horizon once the fixture spans > 399 days)
    val layout = fx.ranged("click")((t0, t1) => (t1 - t0) + 2 * DayUs)
    val (cells, _) = Replay.toMemory(spark, "TtcStream", layout) { st =>
      val horizonUs = (st.hi - st.lo) + DayUs // past the data end for every user
      StatefulSessions.ttcStream(spark, fx.stream(st)
        .withWatermark("ts", "0 seconds")
        .select(col("user_id"), col("ts"), col("event_id"), col("event_type"))
        .as[StatefulSessions.TtcEvent], horizonUs)
    }
    val perUser = cells.filter(col("user_id") >= 0)
      .select(col("dow"),
        when(col("delta_us") >= 0, col("delta_us")).as("delta_us"))
    graft.operators.Analytics.timeToConvertGrid(perUser)
  }

  /** Streaming GAP FILL — the stateful twin of ts1
    * ([[graft.operators.Analytics.gapFillDailySegmented]]): per event
    * type, [[StatefulSessions.gapFillCells]] emits each day of the key's
    * observed span exactly once as the watermark seals it (exact cent
    * totals on observation days, zeros + LOCF on interior gaps), and the
    * global spine alignment — leading zeros from the corpus start,
    * trailing LOCF rows to the corpus end — is synthesized
    * deterministically from the emitted cells on the (days × types)-sized
    * result. Exact hash parity with ts1's oracle is the contract.
    *
    * The sentinel carries its own event type (`__sentinel__`), NOT a real
    * one: keyed-by-type state would otherwise absorb the far-future row
    * as a real observation and stretch that key's span by 400 days. */
  def runGapFillOverFixture(spark: SparkSession, sfDir: String): DataFrame = {
    val fx = new Fixture(spark, sfDir)
    // flush timers sit at (earliest open day + 1 day); 2 days past the
    // data end clears them all — day-granular bounds, not span-derived
    val layout = fx.ranged("__sentinel__")((_, _) => 2 * DayUs)
    val (cells, st) = Replay.toMemory(spark, "GapFillStream", layout)(st =>
      StatefulSessions.gapFillStream(spark, fx.centsEvents(st)))
    val emitted = cells.filter(col("event_type") =!= "__sentinel__")
    // global spine alignment: the corpus bounds are epoch days of the
    // fixture's min/max ts (the same bounds the batch spine derives)
    val d0 = Math.floorDiv(st.lo, DayUs).toInt
    val d1 = Math.floorDiv(st.hi, DayUs).toInt
    val byType = emitted.groupBy(col("event_type"))
      .agg(min(col("day")).as("fd"), max(col("day")).as("ld"),
        max_by(col("locf_cents"), col("day")).as("last_locf"))
    val leading = byType.filter(col("fd") > d0)
      .select(col("event_type"),
        explode(sequence(lit(d0), col("fd") - 1)).as("day"),
        lit(0L).as("n_events"), lit(0L).as("cents"), lit(0L).as("locf_cents"))
    val trailing = byType.filter(col("ld") < d1)
      .select(col("event_type"),
        explode(sequence(col("ld") + 1, lit(d1))).as("day"),
        lit(0L).as("n_events"), lit(0L).as("cents"),
        col("last_locf").as("locf_cents"))
    emitted.select(col("event_type"), col("day"), col("n_events"),
        col("cents"), col("locf_cents"))
      .unionByName(leading).unionByName(trailing)
      .select(col("event_type"),
        date_format(date_add(lit(java.sql.Date.valueOf("1970-01-01")), col("day")),
          "yyyy-MM-dd").as("day"),
        col("n_events"),
        (col("cents").cast("double") / 100).as("sum_value"),
        (col("locf_cents").cast("double") / 100).as("last_seen_value"))
  }

  /** Streaming rolling `days`-day distinct active users — the stateful twin
    * of [[graft.operators.Analytics.rollingActiveUsers]] (the WAU curve as
    * a continuous computation). Two chained stateful operators, both
    * watermark-bounded:
    *
    *   1. each event explodes into the `days` window-start dates it keeps
    *      active, and `dropDuplicates(user, w_day)` reduces that stream to
    *      first-touch-per-(user, window) — state is one entry per live
    *      (user, window) pair, evicted as the watermark passes;
    *   2. an append-mode 1-day-window count over the deduped pairs equals
    *      the batch `count_distinct(user)` exactly (duplicates are gone).
    *
    * The watermark delay must be ≥ the window span: an event on day d still
    * contributes to the window starting d+(days−1), so a window may only
    * finalize once the watermark proves no event in its lookback can still
    * arrive — delay < span would drop cross-batch contributions (undercount),
    * which the exact-parity oracle would catch.
    *
    * Replay: three TIME-RANGE batches (st9's shape, so dedup state really
    * carries across micro-batches) + a far-future sentinel batch (user −1,
    * filtered after the watermark node) that flushes the tail windows. */
  def runRollingActiveOverFixture(spark: SparkSession, sfDir: String,
                                  days: Int = 7): DataFrame = {
    val fx = new Fixture(spark, sfDir)
    // the w_day_ts watermark lags by `days` and real window-starts reach
    // day(t1) + (days − 1): day-granular bounds, so 3·days + 3 past the
    // data end seals every real window at any fixture span
    val layout = fx.ranged("click")((_, _) => (3L * days + 3) * DayUs)
    // the sentinel must FLOW THROUGH the stateful operators — a pre-watermark
    // filter on the event-time column would remove it before the watermark
    // node ever observes it and the tail windows would never finalize
    // (observed: the last `delay − span + 1` days went missing). Sentinel
    // windows and past-the-data-end partials are trimmed on the RESULT,
    // st9-style, where they can no longer affect watermark arithmetic.
    val (counts, st) = Replay.toMemory(spark, "RollingStream", layout) { st =>
      fx.stream(st)
        .withColumn("w_day_ts", explode(sequence(
          date_trunc("DAY", col("ts")),
          date_trunc("DAY", col("ts")) + expr(s"INTERVAL ${days - 1} DAYS"),
          expr("INTERVAL 1 DAY"))))
        .withWatermark("w_day_ts", s"$days days")
        .select(col("user_id"), col("w_day_ts"))
        .dropDuplicates("user_id", "w_day_ts")
        .groupBy(window(col("w_day_ts"), "1 day"))
        .agg(count(lit(1)).as("n_active"),
          max(col("user_id")).as("max_user"))
        .select(date_format(col("window.start"), "yyyy-MM-dd").as("day"),
          col("n_active"), col("max_user"))
    }
    // trim: sentinel-only windows (max_user < 0) and partial windows past
    // the data end — the batch operator excludes both by construction
    counts.filter(col("day") <= lit(lastDay(st)) && col("max_user") >= 0)
      .select(col("day"), col("n_active"))
  }

  /** The retention grid from the emitted cells (cells are exactly-once per
    * (user, cohort, offset), so a plain count equals the batch grid's
    * count_distinct) — split out so specs can also look at the raw cells. */
  def retentionGrid(cells: DataFrame): DataFrame =
    cells.filter(col("week_offset") >= 0 && col("user_id") >= 0)
      .groupBy(col("cohort_week_days"), col("week_offset"))
      .agg(count(lit(1)).as("n_active"))
      .select(
        date_format(timestamp_seconds(col("cohort_week_days").cast("long") * 86400L),
          "yyyy-MM-dd").as("cohort_week"),
        col("week_offset").cast("long").as("week_offset"),
        col("n_active"))

  /** Streaming ANOMALY DETECTION — the stateful twin of anom1
    * ([[graft.operators.Analytics.dailyAnomalies]]): the time ranges
    * stream through [[StatefulSessions.anomalyStream]]; each (event_type,
    * day) z-score is emitted exactly once, when the watermark seals the
    * day. Cent totals are exact longs in any arrival order, and the
    * scorer's double formula is the batch plan's — so the result
    * hash-matches anom1's oracle (exact stream/batch parity, not a
    * tolerance gate). The sentinel flushes every key's tail days; its own
    * never-sealed far-future day is trimmed by the `day ≤ dmax` filter. */
  def runAnomalyOverFixture(spark: SparkSession, sfDir: String): DataFrame = {
    val fx = new Fixture(spark, sfDir)
    // day-seal timers re-arm at (earliest open day + 1 day); 2 + trailing
    // days past the data end clears every key's tail — day-granular, not
    // span-derived
    val (scored, st) = Replay.toMemory(spark, "AnomalyStream",
      fx.ranged("click")((_, _) => 30L * DayUs))(st =>
      StatefulSessions.anomalyStream(spark, fx.centsEvents(st)))
    scored.filter(col("day") <= lit(lastDay(st)))
  }

  /** Streaming CUSUM drift chart over the fixture — st17: per-type daily
    * revenue streamed through [[StatefulSessions.cusumStream]], the
    * deployable monitoring-time form of cusum1 (warmup days fix the
    * target mean; the batch full-series mean is retrospective knowledge a
    * monitor cannot have). Day totals are order-insensitive cent longs
    * and each sealed day advances the exact-integer recurrence once, so
    * rows equal [[graft.operators.Analytics.cusumWarmup]] digit for
    * digit. Sentinel flushes the tail; its unsealed far-future day never
    * emits, `day ≤ dmax` trims belt-and-braces. */
  def runCusumOverFixture(spark: SparkSession, sfDir: String,
                          warmDays: Int = 10): DataFrame = {
    val fx = new Fixture(spark, sfDir)
    val (charted, st) = Replay.toMemory(spark, "CusumStream",
      fx.ranged("click")((_, _) => 30L * DayUs))(st =>
      StatefulSessions.cusumStream(spark, fx.centsEvents(st), warmDays))
    charted.filter(col("day") <= lit(lastDay(st)))
  }

  /** Streaming Holt forecaster over the fixture — st16: total daily
    * revenue streamed through [[StatefulSessions.holtStream]] with a
    * 0-second watermark and a far-future sentinel flushing the tail;
    * rows equal hw1's batch fold digit for digit (same oracle). The
    * sentinel's own (unsealed) day never emits; the `day <= dmax` trim
    * is belt and braces, st12-style. */
  def runHoltOverFixture(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val fx = new Fixture(spark, sfDir)
    val (smoothed, st) = Replay.toMemory(spark, "HoltStream",
      fx.ranged("click")((_, _) => 30L * DayUs)) { st =>
      StatefulSessions.holtStream(spark, fx.stream(st)
        .withWatermark("ts", "0 seconds")
        .select(col("ts"), cents.as("cents"))
        .as[StatefulSessions.HoltEvent])
    }
    smoothed.filter(col("day") <= lit(lastDay(st)))
  }

  /** Streaming SKETCH PRODUCTION — each day's window finalizes into a
    * mergeable HLL sketch blob of its distinct users (plus the estimate),
    * the lambda-architecture-free shape: the stream writes fixed-size
    * daily blobs, and any later rollup (dashboard, backfill, month/year
    * grain) MERGES blobs instead of replaying the stream — hll1's
    * one-data-pass economics, fed continuously.
    *
    * HLL register state is order-insensitive (max of hashes), so the
    * streamed estimates equal a batch build over the same days exactly —
    * the spec pins that, and the driver gate compares against exact
    * distinct counts. The sentinel (user −1) flushes the last open
    * window; its own far-future cell is trimmed on the result, st9-style. */
  def runDailySketchOverFixture(spark: SparkSession, sfDir: String,
                                lgK: Int = 12): DataFrame = {
    val fx = new Fixture(spark, sfDir)
    val (daily, st) = Replay.toMemory(spark, "SketchStream", fx.thenSentinel("click")) { st =>
      fx.stream(st)
        .withWatermark("ts", "0 seconds")
        .groupBy(window(col("ts"), "1 day"))
        .agg(hll_sketch_agg(col("user_id"), lit(lgK)).as("sk"))
        .select(date_format(col("window.start"), "yyyy-MM-dd").as("day"),
          col("sk"), hll_sketch_estimate(col("sk")).as("approx_users"))
    }
    daily.filter(col("day") <= lit(lastDay(st)))
  }

  /** Stream-STATIC join: every streaming micro-batch broadcast-joins the
    * static dimension (re-read per batch by Spark if the source supports
    * it; no state, no watermark needed — the static side never late-
    * arrives). The lookup carries the reference's default-on-miss
    * semantics (spacex.js:24,32): an unmatched FK enriches to 'Unknown'
    * instead of dropping or nulling. The streaming-vs-batch contract is
    * exact row parity with the batch left join, which is what the driver
    * oracle replays.
    *
    * The broadcast hint is part of this operator's CONTRACT: the dim here
    * is a lookup slice that must fit in executor memory (the streaming
    * planner has no AQE to re-decide per batch). For a dim that scales
    * with the fact (10⁸+ rows) the right tool is a shuffled stream-static
    * join — drop the hint at the call site, not here. */
  def enrichStream(stream: DataFrame, dim: DataFrame): DataFrame = {
    val d = dim.select(col("c_custkey"), trim(col("c_name")).as("c_name"))
    stream
      .join(broadcast(d), stream("user_id") === d("c_custkey"), "left")
      .select(col("event_id"), col("user_id"),
        coalesce(col("c_name"), lit("Unknown")).as("customer_name"),
        col("event_type"), col("value"))
  }

  /** Replay the fixture through the stream-static enrich against a
    * RESTRICTED dim slice (so real misses exercise the default path). */
  def runEnrichOverFixture(spark: SparkSession, sfDir: String): DataFrame = {
    val fx = new Fixture(spark, sfDir)
    Replay.toMemory(spark, "EnrichStream", fx.copied())(st =>
      enrichStream(st.read(spark),
        graft.Tables.customer(spark, sfDir).filter(col("c_custkey") < 100)))._1
  }

  /** PROBED encoding of one events fixture's `ts` column — the streaming
    * twin of [[graft.Tables.eventsTsType]]'s schema-adaptive branch. A file
    * stream needs an explicit schema, and round 6 proved why it must be
    * DERIVED, not assumed: with `ts` pinned to LongType, a regenerated
    * `timestamp[us]` fixture read its raw micros AS nanos — ÷1000 landed
    * every event in ~January 1970 and 11 streaming queries returned
    * plausible-shaped wrong answers with `schema_match` still green.
    *
    * Everything type-dependent goes through here: the read schema, the
    * normalize-to-TimestampType column, the epoch-micros projection for
    * split/sentinel arithmetic, and the sentinel encoder — which writes
    * sentinel files in the SAME physical type as the data file, so a mixed
    * srcDir can never exist. [[graft.Tables.eventsTsType]] rejects any type
    * outside {int64-nanos, timestamp, timestamp_ntz} loudly, which is the
    * drift guard: the next encoding change fails at probe time in every
    * mode instead of corrupting event time. */
  private[streaming] final case class TsCodec(tsType: DataType) {
    /** Explicit read schema for (batch or stream) reads over this fixture. */
    def rawSchema: StructType = StructType(Seq(
      StructField("event_id", LongType), StructField("ts", tsType),
      StructField("user_id", LongType), StructField("event_type", StringType),
      StructField("value", DoubleType), StructField("props", StringType)))
    /** Raw `ts` → session TimestampType at exact microsecond precision
      * (integer `div` on the nanos leg; UTC session makes the NTZ cast the
      * identity on the underlying micros). */
    def tsTimestamp: Column = tsType match {
      case LongType => timestamp_micros(expr("ts div 1000"))
      case TimestampNTZType => col("ts").cast(TimestampType)
      case _ => col("ts")
    }
    /** Raw `ts` → epoch micros as a long (for min/max/range-split math). */
    def tsMicros: Column = tsType match {
      case LongType => expr("ts div 1000")
      case _ => unix_micros(col("ts").cast(TimestampType))
    }
    /** Epoch-micros long column → the fixture's RAW representation, for
      * sentinel rows that must coexist with the data file under one read
      * schema. */
    def microsToRaw(us: Column): Column = tsType match {
      case LongType => us * lit(1000L)
      case t => timestamp_micros(us).cast(t)
    }
  }

  /** Probe the codec for a fixture (or staged) events parquet. */
  private[streaming] def codecFor(spark: SparkSession, path: String): TsCodec =
    TsCodec(graft.Tables.eventsTsType(spark, path))

  /** Tumbling-window counts as an unbounded streaming transformation —
    * watermark bounds state so a year-long stream holds only ~1 window of
    * per-key state per watermark delay. Expects `ts` already normalized to
    * TimestampType (ingest, via [[TsCodec.tsTimestamp]], owns the physical
    * encoding — transforms never see it). */
  def windowedAgg(stream: DataFrame, width: String = "1 day",
                  watermark: String = "1 hour"): DataFrame =
    stream
      .withWatermark("ts", watermark)
      .groupBy(window(col("ts"), width).as("w"), col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        sum(col("value").cast("decimal(18,2)")).cast("double").as("sum_value"))
      .select(col("w.start").as("window_start"), col("event_type"),
        col("n_events"), col("sum_value"))

  /** Streaming exact dedup: `dropDuplicates` keyed on event_id with a
    * watermark bounding the dedup state — the streaming twin of
    * [[graft.operators.Dedup.exact]]. State held per key is one timestamp;
    * keys older than the watermark are evicted, so state is O(events within
    * the watermark window), not O(stream history). Expects `ts` already
    * normalized to TimestampType (ingest owns the physical encoding). */
  def dedupStream(stream: DataFrame, watermark: String = "1 hour"): DataFrame =
    stream
      .withWatermark("ts", watermark)
      .dropDuplicates("event_id")

  /** Run the streaming window aggregation over the fixture synchronously
    * to completion and return the result table. Complete output mode: the
    * fixture is a finite replay, every window must surface for the oracle.
    *
    * One micro-batch, so the measured time is the aggregation itself, not
    * micro-batch scheduling overhead (per-batch checkpoint + planning
    * dominated the round-1 st1 number and made it the noisiest headline
    * query). A real deployment paces triggers by arrival; a finite replay
    * has no reason to. */
  def runWindowedOverFixture(spark: SparkSession, sfDir: String): DataFrame = {
    val fx = new Fixture(spark, sfDir)
    Replay.toMemory(spark, "WindowsStream", fx.copied(), "complete")(st =>
      windowedAgg(fx.stream(st)))._1
  }

  /** Streaming OHLC bars — the windowed-aggregation twin of
    * [[graft.operators.Analytics.weeklyOhlc]]: each 7-day event-time
    * window (epoch-aligned, so the buckets equal the batch operator's
    * floor(epoch_day/7) weeks exactly) finalizes one bar per event type
    * with open/close = `min_by`/`max_by` on the (ts, event_id) struct —
    * ORDER-INSENSITIVE aggregates, which is the whole point: however the
    * replay slices into micro-batches, the per-window argmin/argmax are
    * the same rows the batch row_number picks, so the contract is exact
    * row parity with the ohlc1 oracle (the driver replays it).
    *
    * State per open window is six scalars per (type, week) — O(types ×
    * open windows), evicted by the watermark; the far-future sentinel
    * flushes the last open week, and its own week is trimmed st9-style.
    * Append mode: each bar emits exactly once, when its window seals. */
  def runOhlcOverFixture(spark: SparkSession, sfDir: String): DataFrame = {
    val fx = new Fixture(spark, sfDir)
    val (bars, st) = Replay.toMemory(spark, "OhlcStream", fx.thenSentinel("click")) { st =>
      fx.stream(st)
        .withWatermark("ts", "0 seconds")
        .withColumn("cents", cents)
        .groupBy(col("event_type"), window(col("ts"), "7 days").as("w"))
        .agg(
          count(lit(1)).as("n_events"),
          min_by(col("cents"), struct(col("ts"), col("event_id"))).as("open_c"),
          max(col("cents")).as("high_c"),
          min(col("cents")).as("low_c"),
          max_by(col("cents"), struct(col("ts"), col("event_id"))).as("close_c"),
          sum(col("cents").cast("decimal(19,0)")).as("total_c"))
        .select(col("event_type"),
          date_format(col("w.start"), "yyyy-MM-dd").as("week_start"),
          col("n_events"),
          (col("open_c").cast("double") / 100).as("open"),
          (col("high_c").cast("double") / 100).as("high"),
          (col("low_c").cast("double") / 100).as("low"),
          (col("close_c").cast("double") / 100).as("close"),
          (col("total_c").cast("double") / 100).as("total"),
          col("w.start").as("wstart"))
    }
    bars.filter(col("wstart") <= timestamp_micros(lit(st.hi))) // trim the sentinel's own week
      .drop("wstart")
  }

  /** Streaming CDC merge — the `foreachBatch` lake-MERGE sink pattern:
    * every micro-batch folds into a latest-per-user state table by
    * (ts, event_id)-max. The fixture is staged as THREE round-robin files
    * ([[Replay.Spread]]: one `repartition(3)` write, no bounds job, no
    * mtime pin), one per micro-batch, so the merge really runs across
    * multiple micro-batches.
    *
    * The merge — top-1-per-key over (state ∪ batch) — is associative and
    * commutative across batches, so ANY split of the stream into batches
    * (and any arrival order) converges to the global per-user argmax the
    * batch oracle computes. That, not the plumbing, is the contract, and
    * it is why this replay alone skips the ordered stager.
    *
    * State here is an in-memory checkpointed frame (per-user rows —
    * fixture-sized); at 100 TB the same foreachBatch body MERGEs into a
    * keyed lake table (the u5 upsert shape: one shuffle per batch on the
    * merge key, costed by batch size + touched keys, never by stream
    * history). */
  def runCdcMergeOverFixture(spark: SparkSession, sfDir: String): DataFrame = {
    val fx = new Fixture(spark, sfDir)
    val mergeOrder = Seq("ts" -> false, "event_id" -> false)
    var state = spark.createDataFrame(
      new java.util.ArrayList[org.apache.spark.sql.Row](),
      StructType(Seq(
        StructField("user_id", LongType), StructField("ts", TimestampType),
        StructField("event_id", LongType), StructField("event_type", StringType))))
    Replay.fold(spark, "CdcStream", Replay.Spread(fx.file, fx.raw, 3))(st =>
      fx.stream(st).select(col("user_id"), col("ts"), col("event_id"), col("event_type"))
    ) { batch =>
      val latest = graft.plans.TopKPerKey(batch, Seq("user_id"), mergeOrder, 1)
      state = graft.plans.TopKPerKey(state.unionByName(latest),
        Seq("user_id"), mergeOrder, 1).localCheckpoint()
    }
    state.select(col("user_id"), col("event_type"),
      date_format(col("ts"), "yyyy-MM-dd HH:mm:ss").as("last_ts"))
  }
}
