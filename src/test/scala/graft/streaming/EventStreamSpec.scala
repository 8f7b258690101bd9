package graft.streaming

import graft.{SparkTestBase, Tables}
import graft.operators.Windows
import graft.util.Fs
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.TimestampNTZType

import java.nio.file.{Files, Path, Paths}
import java.nio.file.attribute.FileTime

class EventStreamSpec extends SparkTestBase {
  import scala.jdk.CollectionConverters._

  test("streaming windowed aggregation equals the batch twin (parity)") {
    val batch = Windows.tumbling(Tables.events(spark, sf0001))
    val streamed = EventStream.runWindowedOverFixture(spark, sf0001)
    assertSameRows(batch, streamed)
  }

  test("a memory-sink replay drops its view and its rows stay readable") {
    val streamed = EventStream.runWindowedOverFixture(spark, sf0001)
    val views = spark.catalog.listTables().collect().map(_.name)
    assert(!views.exists(_.startsWith("graft_stream_")), views.mkString(", "))
    assertSameRows(Windows.tumbling(Tables.events(spark, sf0001)), streamed)
  }

  /** The staged data files under `dir`, oldest first. */
  private def stagedFiles(dir: Path): Seq[Path] = {
    val walk = Files.walk(dir)
    try walk.iterator.asScala.filter { f =>
      val n = f.getFileName.toString
      n.endsWith(".parquet") && !n.startsWith(".")
    }.toVector.sortBy(Files.getLastModifiedTime(_).toMillis)
    finally walk.close()
  }

  test("the stager gives both layouts strictly ascending mtimes, sentinel last") {
    val fx = new EventStream.Fixture(spark, sf0001)
    Seq(fx.thenSentinel("click") -> 2, fx.ranged("click")((_, _) => 86400000000L) -> 4)
      .foreach { case (layout, batches) =>
        withTempDir("graft-stager-spec") { dir =>
          assert(Replay.stage(layout, dir, "SpecStream").batches == batches)
          // one data file per batch, each strictly newer than the last
          val files = stagedFiles(dir)
          assert(files.size == batches, files.mkString(", "))
          val mtimes = files.map(Files.getLastModifiedTime(_).toMillis)
          assert(mtimes.zip(mtimes.tail).forall { case (a, b) => a < b }, mtimes)
          // the newest file is the sentinel batch: user −1 rows only
          assert(files.last.getParent.getFileName.toString == s"b${batches - 1}")
          val sentinel = spark.read.schema(fx.codec.rawSchema).parquet(files.last.toString)
          assert(sentinel.count() == 1 && sentinel.filter(col("user_id") =!= -1).isEmpty)
        }
      }
  }

  test("the stager fails loudly when the filesystem loses the mtime order") {
    // a one-hour mtime tick: of four batches 60 s apart, at least two
    // adjacent ones land on the same tick
    val fx = new EventStream.Fixture(spark, sf0001)
    withTempDir("graft-stager-spec") { dir =>
      val e = intercept[IllegalArgumentException](
        Replay.stage(fx.ranged("click")((_, _) => 86400000000L), dir, "SpecStream",
          (f, ms) => Files.setLastModifiedTime(f, FileTime.fromMillis(ms / 3600000L * 3600000L))))
      assert(e.getMessage.contains("SpecStream") && e.getMessage.contains("mtime order"),
        e.getMessage)
    }
  }

  test("an empty events file fails a time-range replay naming the stream, not an NPE") {
    import spark.implicits._
    withTempDir("graft-empty-events") { dir =>
      Seq.empty[(Long, java.sql.Timestamp, Long, String, Double, String)]
        .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
        .withColumn("ts", col("ts").cast(TimestampNTZType))
        .coalesce(1).write.parquet(dir.resolve("write").toString)
      val part = Fs.listDir(dir.resolve("write")).find(_.toString.endsWith(".parquet")).get
      Files.copy(part, dir.resolve("events.parquet"))
      val e = intercept[IllegalArgumentException](
        EventStream.runAnomalyOverFixture(spark, dir.toString))
      assert(e.getMessage.contains("AnomalyStream"), e.getMessage)
    }
  }

  test("a replay that fails inside foreachBatch leaves no temp dir and restores the conf") {
    import spark.implicits._
    val key = "spark.sql.shuffle.partitions"
    val before = spark.conf.get(key)
    def streamDirs(): Set[String] =
      Fs.listDir(Paths.get(System.getProperty("java.io.tmpdir")))
        .map(_.getFileName.toString).filter(_.startsWith("graft-stream-")).toSet
    val dirsBefore = streamDirs()
    val ts = java.sql.Timestamp.valueOf("2024-01-01 00:00:00")
    val fetches = (1L to 30L).map(i => (i, ts, s"https://a.example.com/p/$i"))
      .toDF("page_id", "ts", "url")
    val e = intercept[Exception](FrontierStream.runFrontierOverFixture(spark, fetches,
      _ => throw new IllegalStateException("onBatch failed")))
    assert(Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
      .exists(t => String.valueOf(t.getMessage).contains("onBatch failed")), e)
    assert((streamDirs() -- dirsBefore).isEmpty, streamDirs() -- dirsBefore)
    assert(spark.conf.get(key) == before)
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
