package perfbench

import java.util.concurrent.{CountDownLatch, TimeUnit}

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.QueryPlanningTracker
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** Span recorder for the traced passes, built only from Spark's public
  * listener interfaces. Spans stay in memory and are written out with the
  * run artifact.
  *
  * Attribution: the harness names the running operation before it starts
  * ([[begin]]) and drains the listener bus after it ends ([[end]]) by
  * running a tagged sentinel job and waiting for its end event. The
  * SparkListener and the QueryExecutionListener sit on Spark's shared
  * listener queue, which delivers events in posting order, so every event
  * processed between two drains belongs to the operation between them.
  * Streaming progress events travel on their own queue; they are attributed
  * afterwards by their trigger timestamp. */
final class Tracer(spark: SparkSession) {
  import Tracer._

  private val sc: SparkContext = spark.sparkContext
  @volatile private var current: String = Idle
  @volatile private var drainLatch: CountDownLatch = new CountDownLatch(0)

  private val jobs = ArrayBuffer.empty[Map[String, Any]]
  private val stages = ArrayBuffer.empty[Map[String, Any]]
  private val queries = ArrayBuffer.empty[Map[String, Any]]
  private val blocks = ArrayBuffer.empty[Map[String, Any]]
  private val progress = ArrayBuffer.empty[Map[String, Any]]

  private val jobStart = scala.collection.mutable.Map.empty[Int, (String, Long, Seq[Int])]
  private val stageTasks = scala.collection.mutable.Map.empty[(Int, Int), ArrayBuffer[TaskStat]]

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
      val tag = Option(e.properties).map(_.getProperty(TagKey)).orNull
      jobStart(e.jobId) = (if (tag == null) current else tag, e.time, e.stageIds)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
      jobStart.remove(e.jobId).foreach { case (op, start, stageIds) =>
        if (op == Drain) drainLatch.countDown()
        else jobs += Map("op" -> op, "job" -> e.jobId, "start_ms" -> start,
          "end_ms" -> e.time, "stages" -> stageIds)
      }
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
      val m = e.taskMetrics
      if (m != null && current != Drain) {
        val info = e.taskInfo
        val run = m.executorRunTime
        // scheduler delay as the Spark UI defines it: task wall not spent
        // deserialising, running, serialising or fetching the result
        val delay = math.max(0L, info.duration - run - m.executorDeserializeTime -
          m.resultSerializationTime - (if (info.gettingResult) info.finishTime - info.gettingResultTime else 0L))
        stageTasks.getOrElseUpdate((e.stageId, e.stageAttemptId), ArrayBuffer.empty) +=
          TaskStat(run, m.executorCpuTime, m.jvmGCTime, delay,
            m.shuffleWriteMetrics.bytesWritten, m.shuffleReadMetrics.totalBytesRead,
            m.shuffleReadMetrics.fetchWaitTime, m.diskBytesSpilled)
      }
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
      val si = e.stageInfo
      val ts = stageTasks.remove((si.stageId, si.attemptNumber())).getOrElse(ArrayBuffer.empty)
      if (current != Drain && ts.nonEmpty) {
        val runs = ts.map(_.runMs).sorted
        stages += Map("op" -> current, "stage" -> si.stageId,
          "start_ms" -> si.submissionTime.getOrElse(0L),
          "end_ms" -> si.completionTime.getOrElse(0L),
          "tasks" -> ts.size, "task_ms" -> runs.sum,
          "task_max_ms" -> runs.last, "task_median_ms" -> runs(runs.size / 2),
          "cpu_ns" -> ts.map(_.cpuNs).sum, "gc_ms" -> ts.map(_.gcMs).sum,
          "sched_delay_ms" -> ts.map(_.delayMs).sum,
          "shuffle_write_bytes" -> ts.map(_.shuffleWrite).sum,
          "shuffle_read_bytes" -> ts.map(_.shuffleRead).sum,
          "fetch_wait_ms" -> ts.map(_.fetchWaitMs).sum,
          "spill_bytes" -> ts.map(_.spill).sum)
      }
    }
    override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = synchronized {
      val b = e.blockUpdatedInfo
      val bytes = b.memSize + b.diskSize
      if (current != Drain && b.blockId.isRDD && b.storageLevel.isValid && bytes > 0)
        blocks += Map("op" -> current, "rdd" -> b.blockId.asRDDId.get.rddId, "bytes" -> bytes)
    }
  }

  private val queryListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      record(qe)
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
      record(qe)
  }

  private def record(qe: QueryExecution): Unit = synchronized {
    if (current == Drain) return
    val phases = qe.tracker.phases
    def phaseMs(p: String): Long = phases.get(p).map(_.durationMs).getOrElse(0L)
    val ruleNs = qe.tracker.rules.collect {
      case (name, s) if name.contains(PlansRule) => s.totalTimeNs
    }.sum
    val scans = ScanWalk.scans(qe)
    def scanMetric(k: String): Long = scans.flatMap(_.metrics.get(k)).map(_.value).sum
    queries += Map("op" -> current,
      "start_ms" -> (if (phases.isEmpty) 0L else phases.values.map(_.startTimeMs).min),
      "end_ms" -> (if (phases.isEmpty) 0L else phases.values.map(_.endTimeMs).max),
      "analysis_ms" -> phaseMs(QueryPlanningTracker.ANALYSIS),
      "optimization_ms" -> phaseMs(QueryPlanningTracker.OPTIMIZATION),
      "planning_ms" -> phaseMs(QueryPlanningTracker.PLANNING),
      "plans_rule_ns" -> ruleNs,
      "scan_files" -> scanMetric("numFiles"), "scan_bytes" -> scanMetric("filesSize"),
      "scan_rows" -> scanMetric("numOutputRows"), "scan_time_ms" -> scanMetric("scanTime"))
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = synchronized {
      val p = e.progress
      progress += Map("ts_ms" -> java.time.Instant.parse(p.timestamp).toEpochMilli,
        "batch" -> p.batchId,
        "trigger_ms" -> Option(p.durationMs.get("triggerExecution")).map(_.longValue).getOrElse(0L))
    }
  }

  def attach(): Unit = {
    sc.addSparkListener(sparkListener)
    spark.listenerManager.register(queryListener)
    spark.streams.addListener(streamListener)
  }

  def detach(): Unit = {
    sc.removeSparkListener(sparkListener)
    spark.listenerManager.unregister(queryListener)
    spark.streams.removeListener(streamListener)
  }

  /** Name the operation whose events follow. */
  def begin(op: String): Unit = {
    current = op
    sc.setLocalProperty(TagKey, op)
  }

  /** Wait until every event the finished operation posted is processed. */
  def end(): Unit = {
    current = Drain
    drainLatch = new CountDownLatch(1)
    sc.setLocalProperty(TagKey, Drain)
    sc.parallelize(Seq(1), 1).count()
    if (!drainLatch.await(60, TimeUnit.SECONDS))
      throw new IllegalStateException("listener bus did not drain within 60 s")
    sc.setLocalProperty(TagKey, null)
    current = Idle
  }

  def spans: Map[String, Any] = synchronized {
    Map("jobs" -> jobs.toList, "stages" -> stages.toList, "queries" -> queries.toList,
      "blocks" -> blocks.toList, "streaming" -> progress.toList)
  }
}

object Tracer {
  val TagKey = "perfbench.op"
  val Drain = "__drain__"
  val Idle = "__idle__"
  /** The program's own Catalyst rule, timed from the planning tracker. */
  val PlansRule = "PushableKeyCast"

  private final case class TaskStat(runMs: Long, cpuNs: Long, gcMs: Long, delayMs: Long,
      shuffleWrite: Long, shuffleRead: Long, fetchWaitMs: Long, spill: Long)
}

/** File scans of an executed plan, looking through adaptive query stages
  * and subqueries. */
private object ScanWalk extends AdaptiveSparkPlanHelper {
  def scans(qe: QueryExecution): Seq[FileSourceScanExec] =
    try collectWithSubqueries(qe.executedPlan) { case s: FileSourceScanExec => s }
    catch { case _: Exception => Nil }
}
