package org.apache.spark.scheduler

import org.apache.spark.SparkContext

/** Accessors for two `private[spark]` scheduler members, and nothing else
  * is re-exported:
  *   - [[StageInfo.shuffleDepId]]: the id of the shuffle a submitted
  *     stage exists to WRITE (None for result stages).
  *     graft.util.ShuffleBill counts distinct ids to measure how many
  *     shuffles a query actually paid — the public alternatives all
  *     mismeasure: stage−job arithmetic breaks under AQE (each
  *     materialized query stage is its own job), and
  *     shuffle-write-metrics filtering drops legitimately empty shuffles.
  *   - `LiveListenerBus.waitUntilEmpty`: the listener bus is
  *     asynchronous, and its public API has no drain hook. A job's stage
  *     and task events are posted before its action returns, so draining
  *     the bus after the action delivers every one of them to a listener. */
object GraftStageInfoAccess {
  def shuffleDepId(si: StageInfo): Option[Int] = si.shuffleDepId

  def drainListenerBus(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
