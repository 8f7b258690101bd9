package graft.streaming

import graft.{SparkTestBase, Tables}
import graft.operators.Windows

class EventStreamSpec extends SparkTestBase {

  test("streaming windowed aggregation equals the batch twin (parity)") {
    val batch = Windows.tumbling(Tables.events(spark, sf0001))
    val streamed = EventStream.runWindowedOverFixture(spark, sf0001)
    assertSameRows(batch, streamed)
  }

  test("replays run state-sized shuffle partitions and restore the session conf") {
    // r15 optimization + r16 derivation: a replay's stateful stages run
    // at a partition count DERIVED from the replay's input volume
    // (1/1M rows, floor 1, capped at the session default — LoopConf's
    // discipline), NOT the session's scan-sized
    // spark.sql.shuffle.partitions — and the session value is restored
    // afterwards (Bench re-sets its default per query; Verify relies on
    // the restore). Parity of results at the smaller count is what every
    // assertSameRows in this suite now exercises.
    val key = "spark.sql.shuffle.partitions"
    val before = spark.conf.get(key)
    var seen: String = null
    EventStream.withStateSizedShuffle(spark, 1000L) { seen = spark.conf.get(key) }
    assert(seen == EventStream.statePartitions(spark, 1000L).toString)
    assert(spark.conf.get(key) == before)
    // restore also on failure inside the scope
    intercept[RuntimeException] {
      EventStream.withStateSizedShuffle(spark, 1000L) { throw new RuntimeException("x") }
    }
    assert(spark.conf.get(key) == before)
  }

  test("statePartitions derives from state volume, capped at the session default") {
    val session = spark.sessionState.conf.numShufflePartitions
    // tiny state → 1 partition (floor); linear in millions of rows;
    // huge state → exactly the session default (the cap: the derivation
    // can only shrink toward the data, never starve a 100 TB stream)
    assert(EventStream.statePartitions(spark, 0L) == 1)
    assert(EventStream.statePartitions(spark, 999999L) == 1)
    assert(EventStream.statePartitions(spark, 5000000L) ==
      math.min(6, session))
    assert(EventStream.statePartitions(spark, Long.MaxValue / 2) == session)
  }

  test("streaming CDC merge converges to the batch per-user argmax") {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts").desc, col("event_id").desc)
    val batch = Tables.events(spark, sf0001)
      .withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
      .select(col("user_id"), col("event_type"),
        date_format(col("ts"), "yyyy-MM-dd HH:mm:ss").as("last_ts"))
    val merged = EventStream.runCdcMergeOverFixture(spark, sf0001)
    assertSameRows(batch, merged)
  }

  test("streaming pattern matcher equals the batch sequenceMatch (parity)") {
    val batch = graft.operators.Analytics.sequenceMatch(
      Tables.events(spark, sf0001), Seq("view", "click", "purchase"))
    val streamed = EventStream.runPatternOverFixture(spark, sf0001,
      Seq("view", "click", "purchase"))
    assertSameRows(batch, streamed)
  }

  test("streaming LEFT OUTER interval join equals the batch left join, nulls included") {
    import org.apache.spark.sql.functions._
    val ev = Tables.events(spark, sf0001)
    val p = ev.filter(col("event_type") === "purchase")
      .select(col("event_id").as("p_id"), col("user_id").as("p_user"), col("ts").as("pts"))
    val c = ev.filter(col("event_type") === "click")
      .select(col("event_id").as("c_id"), col("user_id").as("c_user"), col("ts").as("cts"))
    val batch = p.join(c,
        col("p_user") === col("c_user") &&
          col("cts") >= col("pts") - expr("INTERVAL 10 MINUTES") &&
          col("cts") <= col("pts"), "left_outer")
      .select(col("p_id"), col("p_user"),
        date_format(col("pts"), "yyyy-MM-dd HH:mm:ss").as("p_ts"), col("c_id"))
    val streamed = EventStream.runLeftOuterJoinOverFixture(spark, sf0001)
    assertSameRows(batch, streamed)
    // the interesting rows are the UNMATCHED ones — watermark-proven nulls
    assert(streamed.filter(col("c_id").isNull).count() > 0,
      "expected watermark-flushed outer rows")
  }

  test("streaming retention equals the batch cohort grid, and state evicts") {
    import org.apache.spark.sql.functions._
    val cells = EventStream.runRetentionOverFixture(spark, sf0001)
    val streamed = EventStream.retentionGrid(cells)
    val batch = graft.operators.Analytics.retentionCohorts(Tables.events(spark, sf0001))
    assertSameRows(batch, streamed)
    // the sentinel advanced the watermark past last activity + horizon for
    // every real user: each must have fired its EventTimeTimeout exactly
    // once (the −1 eviction marker) — bounded state, demonstrated in-replay
    val users = Tables.events(spark, sf0001)
      .select(col("user_id")).distinct().count()
    val evictions = cells.filter(col("week_offset") === -1 && col("user_id") >= 0).count()
    assert(evictions == users, s"evictions $evictions != users $users")
  }

  test("streaming rolling active users equals the batch WAU curve") {
    import org.apache.spark.sql.functions._
    // chained dedup → window-count across a time-split multi-batch replay:
    // exact parity proves the watermark delay (= window span) loses no
    // cross-batch contribution and the dedup emits each (user, day) once
    val streamed = EventStream.runRollingActiveOverFixture(spark, sf0001)
    val batch = graft.operators.Analytics.rollingActiveUsers(Tables.events(spark, sf0001))
    assertSameRows(batch, streamed)
    assert(streamed.count() > 0)
  }

  test("streaming daily HLL sketches equal a batch build, and their blobs merge") {
    import org.apache.spark.sql.functions._
    // HLL register state is order-insensitive, so per-day estimates from
    // the replay must EQUAL a batch sketch over the same data — and the
    // all-time rollup must come from merging the streamed blobs alone
    val daily = EventStream.runDailySketchOverFixture(spark, sf0001)
    val ev = Tables.events(spark, sf0001)
      .select(to_date(col("ts")).as("day"), col("user_id"))
    val batch = ev.groupBy(col("day"))
      .agg(hll_sketch_estimate(hll_sketch_agg(col("user_id"), lit(12)))
        .as("approx_users"))
      .select(date_format(col("day"), "yyyy-MM-dd").as("day"), col("approx_users"))
    assertSameRows(daily.select(col("day"), col("approx_users")), batch)
    val merged = daily
      .agg(hll_sketch_estimate(hll_union_agg(col("sk"), lit(false))))
      .head.getLong(0)
    val exactTotal = ev.select(col("user_id")).distinct().count()
    assert(math.abs(merged - exactTotal).toDouble / exactTotal <= 0.05,
      s"rollup estimate $merged vs exact $exactTotal")
  }

  test("streaming anomaly z-scores equal the batch dailyAnomalies (exact parity)") {
    val streamed = EventStream.runAnomalyOverFixture(spark, sf0001)
    val batch = graft.operators.Analytics.dailyAnomalies(Tables.events(spark, sf0001))
    // bit-for-bit: the scorer replays the batch plan's double ops, so this
    // is row equality on doubles, not a tolerance gate
    assertSameRows(batch, streamed)
  }

  test("streaming CUSUM chart equals the batch cusumWarmup (exact parity)") {
    val streamed = EventStream.runCusumOverFixture(spark, sf0001)
    val batch = graft.operators.Analytics.cusumWarmup(Tables.events(spark, sf0001))
    // the cells advance the same exact-integer recurrence the batch
    // prefix closed form computes, so this is row equality on doubles,
    // not a tolerance gate
    assertSameRows(batch, streamed)
  }

  test("streaming Holt forecaster equals the batch holtLinearDaily (exact parity)") {
    val streamed = EventStream.runHoltOverFixture(spark, sf0001)
    val batch = graft.operators.Analytics.holtLinearDaily(Tables.events(spark, sf0001))
    // the cells replay the batch fold's snapped recurrence on sealed day
    // totals, so this is row equality on doubles, not a tolerance gate
    assertSameRows(batch, streamed)
  }

  test("streaming weekly OHLC equals the batch weeklyOhlc (exact parity)") {
    val streamed = EventStream.runOhlcOverFixture(spark, sf0001)
    val batch = graft.operators.Analytics.weeklyOhlc(Tables.events(spark, sf0001))
    // min_by/max_by on (ts, event_id) pick the same rows the batch
    // row_number picks, so this is row equality on doubles
    assertSameRows(batch, streamed)
  }

  test("streaming time-to-convert equals the batch funnel2 grid (exact parity)") {
    val streamed = EventStream.runTimeToConvertOverFixture(spark, sf0001)
    val batch = graft.operators.Analytics.timeToConvert(Tables.events(spark, sf0001))
    // the cells feed the batch timeToConvertGrid plan itself, so this is
    // row equality incl. the interpolated percentiles, not a tolerance gate
    assertSameRows(batch, streamed)
  }

  test("streaming gap fill equals the batch LOCF grid (exact parity)") {
    val streamed = EventStream.runGapFillOverFixture(spark, sf0001)
    val batch = graft.operators.Analytics.gapFillDailySegmented(Tables.events(spark, sf0001))
    // cent totals are order-insensitive longs and /100 doubles equal the
    // batch decimal casts bit for bit, so this is row equality
    assertSameRows(batch, streamed)
  }

  test("streaming time-to-convert runs unchanged on the RocksDB state store") {
    // TtcState is one long + a boolean; the off-heap round-trip must
    // preserve the done marker (its loss would double-emit) and the
    // micros (their corruption would shift the percentile grid)
    val prev = spark.conf.getOption("spark.sql.streaming.stateStore.providerClass")
    SessionStream.useRocksDbStateStore(spark)
    try {
      val streamed = EventStream.runTimeToConvertOverFixture(spark, sf0001)
      val batch = graft.operators.Analytics.timeToConvert(Tables.events(spark, sf0001))
      assertSameRows(batch, streamed)
    } finally {
      prev match {
        case Some(v) => spark.conf.set("spark.sql.streaming.stateStore.providerClass", v)
        case None => spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
      }
    }
  }

  test("streaming gap fill runs unchanged on the RocksDB state store") {
    // GapState carries Seq[(Int, Long, Long)] — the tuple-in-Seq encoder
    // must round-trip the off-heap store byte-for-byte for parity to hold
    val prev = spark.conf.getOption("spark.sql.streaming.stateStore.providerClass")
    SessionStream.useRocksDbStateStore(spark)
    try {
      val streamed = EventStream.runGapFillOverFixture(spark, sf0001)
      val batch = graft.operators.Analytics.gapFillDailySegmented(Tables.events(spark, sf0001))
      assertSameRows(batch, streamed)
    } finally {
      prev match {
        case Some(v) => spark.conf.set("spark.sql.streaming.stateStore.providerClass", v)
        case None => spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
      }
    }
  }

  test("streaming anomaly runs unchanged on the RocksDB state store") {
    // AnomState holds Seq[(Int, Long)] tuples — the tuple-in-Seq encoder
    // must round-trip the off-heap store byte-for-byte for parity to hold
    val prev = spark.conf.getOption("spark.sql.streaming.stateStore.providerClass")
    SessionStream.useRocksDbStateStore(spark)
    try {
      val streamed = EventStream.runAnomalyOverFixture(spark, sf0001)
      val batch = graft.operators.Analytics.dailyAnomalies(Tables.events(spark, sf0001))
      assertSameRows(batch, streamed)
    } finally {
      prev match {
        case Some(v) => spark.conf.set("spark.sql.streaming.stateStore.providerClass", v)
        case None => spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
      }
      spark.conf.unset(
        "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled")
    }
  }

  test("streaming retention runs unchanged on the RocksDB state store") {
    // the 100 TB configuration: per-user retention state off-heap — the
    // RetState encoder (ints + Seq[Int]) must round-trip RocksDB too
    val prev = spark.conf.getOption("spark.sql.streaming.stateStore.providerClass")
    SessionStream.useRocksDbStateStore(spark)
    try {
      val streamed = EventStream.retentionGrid(
        EventStream.runRetentionOverFixture(spark, sf0001))
      val batch = graft.operators.Analytics.retentionCohorts(Tables.events(spark, sf0001))
      assertSameRows(batch, streamed)
    } finally {
      prev match {
        case Some(v) => spark.conf.set("spark.sql.streaming.stateStore.providerClass", v)
        case None => spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
      }
      spark.conf.unset(
        "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled")
    }
  }
}
