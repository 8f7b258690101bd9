package graft.util

import org.apache.spark.scheduler.{GraftStageInfoAccess, SparkListener,
  SparkListenerStageSubmitted}
import org.apache.spark.sql.SparkSession

/** MEASURED shuffle accounting: how many distinct shuffles a piece of
  * work actually paid, counted from the scheduler, not read off a plan
  * string. This is the observable behind COST.md's per-stage "bills":
  * a static `explain` undercounts work that runs during DataFrame
  * CONSTRUCTION (eager `localCheckpoint` stage boundaries, the CC
  * fixpoint's per-round actions) and overcounts exchanges AQE reuses —
  * the scheduler's stage stream sees exactly what executed.
  *
  * Counting rule: a stage with `shuffleDepId = Some(id)` is the map
  * stage WRITING shuffle `id` (via [[GraftStageInfoAccess]] — the field
  * is `private[spark]`); distinct ids = shuffles paid. A reused
  * exchange (same shuffle id — AQE stage reuse, skipped stages) is
  * counted once: reuse is precisely "not paying again". Broadcast
  * exchanges create no shuffle dependency and are deliberately out of
  * scope — the bills this pins are the corpus-sized byte streams, and a
  * broadcast's cost is its (bounded, asserted-elsewhere) build side. */
object ShuffleBill {
  /** Run `body` and return the number of distinct shuffles its jobs
    * submitted map stages for. All jobs have completed when `body`
    * returns; only event delivery can lag, so the listener bus is
    * drained before the count is read. */
  def measure(spark: SparkSession)(body: => Unit): Int = {
    val ids = java.util.concurrent.ConcurrentHashMap.newKeySet[Int]()
    val listener = new SparkListener {
      override def onStageSubmitted(ev: SparkListenerStageSubmitted): Unit =
        GraftStageInfoAccess.shuffleDepId(ev.stageInfo).foreach(ids.add(_))
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      body
      GraftStageInfoAccess.drainListenerBus(spark.sparkContext)
      ids.size
    } finally spark.sparkContext.removeSparkListener(listener)
  }
}
