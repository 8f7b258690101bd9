package graft.util

import org.apache.spark.sql.SparkSession

/** Shuffle sizing for driver-side iteration loops (guide §2 "make
  * partitioning scale-adaptive rather than a constant tuned for either
  * local mode or the cluster").
  *
  * An iterative graph/clustering operator checkpoints per round, so every
  * round is its own action planned under `spark.sql.shuffle.partitions` —
  * the SCAN-sized session default (the bench pins it to the core count; a
  * cluster pins it to thousands). The loop's state frames are node/edge
  * bounded and usually orders of magnitude smaller than the corpus, so the
  * session default buys nothing per round but map-output bookkeeping, AQE
  * re-planning and task-launch overhead — measured on the sf0.1 graph
  * family: the same queries run ~15-20% faster with loop shuffles sized to
  * the loop state (1-8 partitions) than at the session's 32.
  *
  * [[sizedParts]] derives the round partition count from the MEASURED loop
  * state (the row count of the already-checkpointed edge/state frame — a
  * sub-ms job on in-memory blocks, amortized over every round it sizes):
  * one partition per million state rows, floored at 1 and capped at the
  * session default, so at production scale (state rows >> 10⁶ × session
  * partitions) this is exactly the session default — the cap means the
  * setting can only shrink toward the data, never starve a big loop.
  *
  * [[withShuffleParts]] scopes the conf around the loop and restores the
  * session value after (the streaming replays' state-sizing discipline,
  * EventStream.withStateSizedShuffle) — plans built inside the scope but
  * executed after it (the operator's RETURNED frame) still plan at the
  * session default, because `spark.sql.shuffle.partitions` is read at
  * action planning time, not DataFrame construction time. */
object LoopConf {
  /** Row count of an already-materialized (checkpointed) or scan-only
    * frame WITHOUT a shuffle: per-partition counts fold at the driver, so
    * the probe never shows up in a measured shuffle bill (ssp1's pinned
    * bill caught the DataFrame-count form adding one exchange) and pays
    * no InternalRow→Row conversion. */
  def rowsOf(df: org.apache.spark.sql.DataFrame): Long =
    df.queryExecution.toRdd.count()

  /** Rows per loop-shuffle partition: compact keyed state (two longs per
    * row ≈ 16-50 B) at 1M rows/partition lands in the tens-of-MB band —
    * guide §2.2's "fewer, larger reduce partitions" for frames this
    * narrow. */
  private val RowsPerPart = 1000000L

  def sizedParts(spark: SparkSession, stateRows: Long): Int = {
    val session = spark.sessionState.conf.numShufflePartitions
    math.max(1L, math.min(stateRows / RowsPerPart + 1L, session.toLong)).toInt
  }

  /** CONCURRENCY CONTRACT (ADVICE r15): this mutates the session's
    * `spark.sql.shuffle.partitions` for the scope's duration, so any query
    * planned CONCURRENTLY on the same SparkSession inherits the shrunk
    * value, and two overlapping scopes restore stale values. Every caller
    * in this repo (graph loops, CC fixpoint, Lloyd, streaming replays) runs
    * its loop on the single driver thread of a Bench/Verify-style harness —
    * the engine's execution model is one query at a time per session. A
    * deployment that submits concurrent jobs from driver threads must give
    * each thread its own session (`spark.newSession()` shares state but has
    * its own conf) before calling these operators. */
  def withShuffleParts[T](spark: SparkSession, parts: Int)(body: => T): T = {
    val key = "spark.sql.shuffle.partitions"
    val prev = spark.conf.get(key)
    spark.conf.set(key, parts.toString)
    try body finally spark.conf.set(key, prev)
  }
}
