package graft.streaming

import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
import org.apache.spark.sql.{Dataset, SparkSession}
import java.sql.Timestamp

/** Event-time streaming sessionizer: sessions close when the WATERMARK
  * passes their gap boundary, not when more data happens to arrive —
  * `flatMapGroupsWithState` with `EventTimeTimeout`.
  *
  * Per-key state is one open session (4 numbers); closed sessions are
  * emitted exactly once, either when a same-key event lands beyond the gap
  * or when the timeout fires. This is the operator shape for "sessionize an
  * unbounded 100 TB/day clickstream": state size is O(active users), output
  * is append-only.
  */
object SessionStream {

  final case class SessEvent(user_id: Long, ts: Timestamp, value: Double)
  final case class OpenSession(startUs: Long, lastUs: Long, n: Long, sum: Double)
  final case class ClosedSession(
      user_id: Long, session_start: Timestamp, n_events: Long, sum_value: Double)

  /** Exact event-time micros of a Timestamp: `getTime` already carries the
    * millisecond part of the nanos, so only the sub-ms remainder is added.
    * Gap comparisons MUST run at microsecond precision — the fixture's
    * timestamps all have sub-second components, and a batch engine
    * comparing `epoch_us` diffs would split differently than millisecond
    * arithmetic for gaps within 1 ms of the boundary. */
  private def epochUs(ts: Timestamp): Long =
    ts.getTime * 1000L + (ts.getNanos / 1000L) % 1000L

  def update(gapMs: Long)(
      userId: Long, events: Iterator[SessEvent],
      state: GroupState[OpenSession]): Iterator[ClosedSession] = {
    val gapUs = gapMs * 1000L
    def close(s: OpenSession) =
      ClosedSession(userId, new Timestamp(s.startUs / 1000L), s.n, s.sum)

    if (state.hasTimedOut) {
      val closed = state.getOption.map(close).toIterator
      state.remove()
      closed
    } else {
      val sorted = events.toIndexedSeq.sortBy(e => epochUs(e.ts))
      var open = state.getOption
      val closed = IndexedSeq.newBuilder[ClosedSession]
      sorted.foreach { e =>
        val t = epochUs(e.ts)
        open match {
          case Some(s) if t - s.lastUs < gapUs =>
            open = Some(OpenSession(s.startUs, math.max(s.lastUs, t), s.n + 1, s.sum + e.value))
          case Some(s) =>
            closed += close(s)
            open = Some(OpenSession(t, t, 1, e.value))
          case None =>
            open = Some(OpenSession(t, t, 1, e.value))
        }
      }
      open.foreach { s =>
        state.update(s)
        // timeout in ms, strictly AFTER last+gap (ceil) so the timeout can
        // never close a session an in-gap event should still join
        state.setTimeoutTimestamp(s.lastUs / 1000L + gapMs + 1L)
      }
      closed.result().iterator
    }
  }

  /** Wire over a (streaming) Dataset with an event-time watermark. */
  def closedSessions(spark: SparkSession, events: Dataset[SessEvent],
                     gapMinutes: Int = 30,
                     watermarkDelay: String = "10 seconds"): Dataset[ClosedSession] = {
    import spark.implicits._
    events.withWatermark("ts", watermarkDelay)
      .groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.EventTimeTimeout)(
        update(gapMinutes * 60000L))
  }

  /** Replay the events fixture through the stateful sessionizer and return
    * every closed session — the batch-parity harness for the `w3` oracle.
    *
    * The mechanics of finishing a finite replay with event-time timeouts:
    * a far-future SENTINEL event lands in a second micro-batch
    * (`maxFilesPerTrigger=1`, file mtimes force the order), pushing the
    * watermark past every real session's gap boundary; Spark then runs a
    * no-data batch in which all remaining open sessions time out and emit.
    * The sentinel user (-1) is filtered from the result. Watermark delay 0:
    * the replay is in-order within its single real batch. */
  def runOverFixture(spark: SparkSession, sfDir: String,
                     gapMinutes: Int = 30): org.apache.spark.sql.DataFrame =
    EventStream.withStateSizedShuffle(spark,
      graft.Tables.parquetRowCount(spark, s"$sfDir/events.parquet")) {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.types._
    import java.nio.file.{Files, Paths, StandardCopyOption}
    import spark.implicits._

    val srcDir = Files.createTempDirectory("graft-stream-sessions")
    val eventsFile = srcDir.resolve("a_events.parquet")
    Files.copy(Paths.get(s"$sfDir/events.parquet"), eventsFile,
      StandardCopyOption.REPLACE_EXISTING)
    // probed, never assumed: the fixture's ts encoding has drifted between
    // int64 TIMESTAMP(NANOS) and timestamp[us] across regenerations
    val codec = EventStream.codecFor(spark, eventsFile.toString)
    // sentinel: one far-future event in its own file, strictly later mtime,
    // written in the SAME physical ts type as the data file
    val sentinelDir = Files.createTempDirectory("graft-sentinel")
    val farFutureMicros = 4102444800L * 1000000L // 2100-01-01, micros
    Seq((-1L, farFutureMicros, -1L, "sentinel", 0.0, "{}"))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .withColumn("ts", codec.microsToRaw(col("ts")))
      .coalesce(1).write.mode("overwrite").parquet(sentinelDir.toString)
    val part = Files.list(sentinelDir).toArray.map(_.toString)
      .find(_.endsWith(".parquet")).get
    val sentinelFile = srcDir.resolve("z_sentinel.parquet")
    Files.copy(Paths.get(part), sentinelFile)
    Files.setLastModifiedTime(eventsFile,
      java.nio.file.attribute.FileTime.fromMillis(System.currentTimeMillis() - 60000))
    Files.setLastModifiedTime(sentinelFile,
      java.nio.file.attribute.FileTime.fromMillis(System.currentTimeMillis()))

    val stream = spark.readStream.schema(codec.rawSchema)
      .option("maxFilesPerTrigger", "1").parquet(srcDir.toString)
      .withColumn("ts", codec.tsTimestamp)
      .select(col("user_id"), col("ts"), col("value")).as[SessEvent]
    val queryName = EventStream.scopedQueryName("graft_stream_sessions")
    val q = closedSessions(spark, stream, gapMinutes, watermarkDelay = "0 seconds")
      .writeStream.outputMode("append").format("memory").queryName(queryName).start()
    try q.processAllAvailable() finally {
      q.stop()
      graft.util.Fs.rmTree(srcDir)
      graft.util.Fs.rmTree(sentinelDir)
    }
    spark.table(queryName).filter(col("user_id") >= 0)
  }

  /** Point the session's state store at RocksDB — the unbounded-clickstream
    * configuration: per-key session state lives off-heap and spills to
    * local disk, so executor heap no longer bounds the number of concurrent
    * open sessions (the HDFS-backed default keeps every key's state in an
    * in-memory map per partition). Changelog checkpointing keeps commit
    * cost proportional to the delta, not the store size. Takes effect for
    * queries STARTED after the call. */
  def useRocksDbStateStore(spark: SparkSession): Unit = {
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    spark.conf.set(
      "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled", "true")
  }
}
