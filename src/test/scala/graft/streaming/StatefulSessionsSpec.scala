package graft.streaming

import graft.SparkTestBase
import graft.streaming.StatefulSessions.{CentsEvent, AnomState, anomalyCells}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

class StatefulSessionsSpec extends SparkTestBase {

  test("matchPattern: hits span batches once, state stays bounded at k-1") {
    import StatefulSessions.{TypedEvent, matchPattern}
    import org.apache.spark.sql.streaming.TestGroupState
    import org.apache.spark.api.java.Optional
    val pat = Seq("a", "b", "c")
    def ev(id: Long, ts: Long, t: String) = TypedEvent(1L, id, ts, t)
    def mkState(prev: Option[Seq[TypedEvent]], batchMs: Long) =
      TestGroupState.create[Seq[TypedEvent]](
        prev.map(Optional.of[Seq[TypedEvent]]).getOrElse(Optional.empty()),
        org.apache.spark.sql.streaming.GroupStateTimeout.NoTimeout,
        batchMs, Optional.empty[Long](), hasTimedOut = false)
    // batch 1 ends mid-pattern: no hit, suffix carried
    val s1 = mkState(None, 1000L)
    val h1 = matchPattern(pat)(1L, Iterator(ev(1, 1, "a"), ev(2, 2, "b")), s1).toSeq
    assert(h1.isEmpty && s1.get.map(_.event_id) == Seq(1L, 2L))
    // batch 2 completes it: ONE hit, anchored at the batch-1 event
    val s2 = mkState(Some(s1.get), 2000L)
    val h2 = matchPattern(pat)(1L, Iterator(ev(3, 3, "c")), s2).toSeq
    assert(h2.map(_.start_event_id) == Seq(1L))
    assert(s2.get.length == 2, "state bounded at k-1")
    // batch 3: nothing new completes -> no re-emission of the old hit
    val s3 = mkState(Some(s2.get), 3000L)
    assert(matchPattern(pat)(1L, Iterator(ev(4, 4, "a")), s3).isEmpty)
  }

  test("anomalyCells: days seal on watermark, timeout flushes a quiet key, trail stays bounded") {
    import org.apache.spark.sql.streaming.TestGroupState
    import org.apache.spark.api.java.Optional
    val dayMs = 86400000L
    def ev(day: Int, cents: Long) =
      CentsEvent("click", new java.sql.Timestamp(day * dayMs + 3600000L), cents)
    def mkState(prev: Option[AnomState], wmMs: Long, timedOut: Boolean) =
      TestGroupState.create[AnomState](
        prev.map(Optional.of[AnomState]).getOrElse(Optional.empty()),
        org.apache.spark.sql.streaming.GroupStateTimeout.EventTimeTimeout,
        1000L, Optional.of(wmMs), hasTimedOut = timedOut)
    val f = anomalyCells(7, 2.0) _
    // batch 1: watermark 0 — nothing seals, totals accumulate in open state
    val s1 = mkState(None, 0L, timedOut = false)
    val o1 = f("click", Iterator(ev(100, 100), ev(100, 50), ev(101, 300)), s1).toSeq
    assert(o1.isEmpty)
    assert(s1.get.open.toMap == Map(100 -> 150L, 101 -> 300L))
    assert(s1.getTimeoutTimestampMs.get() == 101L * dayMs,
      "timer armed at the earliest open day's end")
    // batch 2: watermark passes day 101 — days 100 and 101 seal in order
    val s2 = mkState(Some(s1.get), 102L * dayMs, timedOut = false)
    val o2 = f("click", Iterator(ev(102, 10)), s2).toSeq
    assert(o2.map(r => (r.day, r.day_value, r.z_score)) == Seq(
      ("1970-04-11", 1.5, 0.0), // first day: n = 1, no variance -> z = 0
      ("1970-04-12", 3.0, 0.7071))) // (300-225)/sqrt(11250), floor-rounded
    assert(s2.get.open.toMap == Map(102 -> 10L))
    assert(s2.get.trail.length <= 6, "trail bounded at trailing-1 entries")
    // batch 3: no new data — the EVENT-TIME TIMEOUT flushes day 102
    val s3 = mkState(Some(s2.get), 1000L * dayMs, timedOut = true)
    val o3 = f("click", Iterator.empty, s3).toSeq
    assert(o3.map(_.day) == Seq("1970-04-13"))
    assert(s3.get.open.isEmpty)
  }

  test("ttcCells: a chatty converted user re-arms the horizon timer, never double-emits") {
    import StatefulSessions.{TtcCell, TtcEvent, TtcState, ttcCells}
    import org.apache.spark.sql.streaming.TestGroupState
    import org.apache.spark.api.java.Optional
    def ev(id: Long, ms: Long, t: String) = TtcEvent(1L, new java.sql.Timestamp(ms), id, t)
    def mkState(prev: Option[TtcState], wmMs: Long, timedOut: Boolean) =
      TestGroupState.create[TtcState](
        prev.map(Optional.of[TtcState]).getOrElse(Optional.empty()),
        org.apache.spark.sql.streaming.GroupStateTimeout.EventTimeTimeout,
        1000L, Optional.of(wmMs), hasTimedOut = timedOut)
    val horizonUs = 10000000L // 10 s
    val f = ttcCells("view", "purchase", horizonUs) _
    // batch 1: view at 1 s, purchase at 2 s -> one cell, done state, timer at fv+horizon
    val s1 = mkState(None, 0L, timedOut = false)
    val o1 = f(1L, Iterator(ev(1, 1000L, "view"), ev(2, 2000L, "purchase")), s1).toSeq
    assert(o1 == Seq(TtcCell(1L, 0L, 1000000L))) // epoch day 0 -> dow 0
    assert(s1.get == TtcState(1000000L, done = true))
    assert(s1.getTimeoutTimestampMs.get() == 11000L)
    // batch 2: the user keeps producing events after converting. Spark cleared
    // the timer on invocation; the done branch must RE-ARM it (the leak fixed
    // here) and must not re-open the funnel on a fresh view+purchase pair.
    val s2 = mkState(Some(s1.get), 3000L, timedOut = false)
    val o2 = f(1L, Iterator(ev(3, 4000L, "view"), ev(4, 5000L, "purchase")), s2).toSeq
    assert(o2.isEmpty, "a converted user never emits a second cell")
    assert(s2.get == TtcState(1000000L, done = true), "done marker survives")
    assert(s2.getTimeoutTimestampMs.get() == 11000L, "horizon timer re-armed")
    // batch 2b: data arriving AFTER the horizon already passed the watermark —
    // the re-arm clamps to the watermark instead of throwing
    val s2b = mkState(Some(s1.get), 20000L, timedOut = false)
    assert(f(1L, Iterator(ev(5, 20500L, "click")), s2b).isEmpty)
    assert(s2b.getTimeoutTimestampMs.get() == 20000L, "clamped to watermark")
    // batch 3: horizon timer fires -> state evicted, done user emits nothing
    val s3 = mkState(Some(s2.get), 12000L, timedOut = true)
    assert(f(1L, Iterator.empty, s3).isEmpty)
    assert(s3.isRemoved, "state evicted on the horizon exit path")
    // LATE first-stage event (flatMapGroupsWithState does not drop
    // below-watermark rows): a fresh view whose horizon already trails the
    // watermark must clamp its timer instead of throwing and killing the
    // query
    val sLate = mkState(None, 20000L, timedOut = false)
    assert(f(1L, Iterator(ev(9, 1000L, "view")), sLate).isEmpty)
    assert(sLate.get == TtcState(1000000L, done = false))
    assert(sLate.getTimeoutTimestampMs.get() == 20000L,
      "open-arm timer clamped to the watermark")
  }

  test("ttc stream end-to-end: chatty converted user's state evicts at the horizon") {
    // integration twin of the TestGroupState test above: pins SPARK's
    // actual timer semantics (a data invocation clears the key's timer;
    // the done branch must re-arm it) by watching the state-store row
    // count of a real query — before the re-arm fix, the converted
    // user's row survived the horizon forever
    implicit val sql = spark.sqlContext
    import StatefulSessions.{TtcCell, TtcEvent}
    import spark.implicits._
    def ev(user: Long, id: Long, ms: Long, t: String) =
      TtcEvent(user, new java.sql.Timestamp(ms), id, t)
    val source = MemoryStream[TtcEvent]
    val cells = StatefulSessions.ttcStream(spark,
      source.toDS().withWatermark("ts", "0 seconds"), horizonUs = 10000000L)
    val q = cells.writeStream.outputMode("append").format("memory")
      .queryName("ttc_evict").start()
    def stateRows: Long = q.lastProgress.stateOperators.map(_.numRowsTotal).sum
    try {
      // batch 1: user 1 converts (view@1s -> purchase@2s); timer armed
      source.addData(ev(1, 1, 1000, "view"), ev(1, 2, 2000, "purchase"))
      q.processAllAvailable()
      assert(stateRows == 1L, "converted user holds the done marker")
      // batch 2: the user keeps clicking AFTER converting — Spark clears
      // the timer for the data call; the done branch re-arms it
      source.addData(ev(1, 3, 3000, "click"))
      q.processAllAvailable()
      assert(stateRows == 1L)
      // batch 3: another user's event drives the watermark past the
      // horizon (11 s); batch 4 lets the timer fire
      source.addData(ev(2, 4, 20000, "view"))
      q.processAllAvailable()
      source.addData(ev(2, 5, 21000, "click"))
      q.processAllAvailable()
      assert(stateRows == 1L,
        s"user 1's done marker must be evicted at the horizon (got $stateRows rows)")
      // and no second cell was ever emitted for user 1
      val out = spark.table("ttc_evict").as[TtcCell].collect()
      assert(out.count(_.user_id == 1L) == 1, out.mkString(", "))
    } finally q.stop()
  }

  test("batch Dataset runs through the same stateful transformation") {
    import StatefulSessions.TypedEvent
    import spark.implicits._
    val ds = Seq(TypedEvent(7, 1, 10, "a"), TypedEvent(7, 2, 20, "b"),
      TypedEvent(7, 3, 30, "a"), TypedEvent(7, 4, 40, "b")).toDS()
    val got = StatefulSessions.patternHits(spark, ds, Seq("a", "b")).collect()
    assert(got.map(_.start_event_id).sorted.toSeq == Seq(1L, 3L))
  }
}
