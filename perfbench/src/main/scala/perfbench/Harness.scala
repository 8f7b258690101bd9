package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}
import javax.management.{Notification, NotificationEmitter, NotificationListener}

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import com.sun.management.GarbageCollectionNotificationInfo
import javax.management.openmbean.CompositeData
import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.{SparkEntry, Tables}
import graft.etl.{Load, Pipeline}

/** How an operation's result leaves the program. */
sealed trait Sink
/** Driven to completion and discarded, as `graft.Bench` does. */
case object Noop extends Sink
/** `Load.csv`, the reference app's export. */
case object Csv extends Sink
/** `Load.partitionedParquet` on `column`, then `Load.compact`. */
final case class Lake(column: String) extends Sink

final case class Op(name: String, sink: Sink = Noop)

/** `nominalPassS` is the warm pass wall on the reference machine (4 vCPU
  * shared VM); it turns the `--seconds` window into a fixed pass count. */
final case class Workload(name: String, ops: Seq[Op], viaPipeline: Boolean,
    nominalPassS: Double) {
  /** Warm passes in a `seconds` window. The count is fixed by the window,
    * not by how fast the passes happen to run: the JIT is still warming
    * over these passes, so a median over a varying count would drift with
    * the count. Traced runs round up to whole untraced/traced quartets. */
  def warmPasses(seconds: Double, traced: Boolean): Int = {
    val n = math.max(2, math.round(seconds / nominalPassS).toInt)
    if (traced) 4 * ((n + 3) / 4) else n
  }
}

object Workloads {
  val all: Map[String, Workload] = Seq(
    Workload("etl_pipeline", Seq(
      Op("e1_users_pipeline", Csv), Op("q1_pricing_summary"),
      Op("q3_shipping_priority"), Op("scd1_history", Lake("event_type"))),
      viaPipeline = true, nominalPassS = 2.2),
    Workload("iterative", Seq(
      Op("pr1_pagerank"), Op("st6_stream_cdc")), viaPipeline = false, nominalPassS = 3.0),
  ).map(w => w.name -> w).toMap
}

/** One benchmark run of one workload in one JVM: set-up, a cold
  * first pass, warm passes for the measured window, then the untimed output
  * pass the output check reads. Writes `artifact.json` into `--out`; the
  * metrics are derived from it by `run.py`.
  *
  * Closed loop, one client: each operation is submitted only after the
  * previous one completed. */
object Harness {
  /** The session confs `graft.Bench` sets; `spark.ui.enabled` aside, these
    * are what makes the measured program the one the bench measures. */
  def benchConfs(cores: Int): Seq[(String, String)] = Seq(
    "spark.sql.shuffle.partitions" -> cores.toString,
    "spark.sql.session.timeZone" -> "UTC",
    "spark.sql.adaptive.enabled" -> "true",
    "spark.sql.legacy.parquet.nanosAsLong" -> "true",
    "spark.ui.enabled" -> "false")

  def session(cores: Int, work: Path): SparkSession = {
    val b = SparkSession.builder().master(s"local[$cores]")
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .config("spark.local.dir", work.resolve("spark-local").toString)
    val spark = benchConfs(cores).foldLeft(b) { case (b, (k, v)) => b.config(k, v) }.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark.experimental.extraOptimizations = Seq(graft.plans.PushableKeyCast)
    spark.experimental.extraStrategies = Seq(graft.plans.TopKPerKeyStrategy)
    spark
  }

  def main(args: Array[String]): Unit = {
    val mainStart = System.nanoTime()
    val opt = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = Workloads.all(opt("workload"))
    val inputs = opt("inputs")
    val out = Paths.get(opt("out"))
    val seconds = opt("seconds").toDouble
    val traced = opt("trace") == "1"
    val cores = opt("cores").toInt
    Files.createDirectories(out)

    // set-up, timed from main to the first timed operation
    val s0 = System.nanoTime()
    val spark = session(cores, out)
    val s1 = System.nanoTime()
    Tables.ensureBucketed(spark, inputs)
    val s2 = System.nanoTime()
    val setup = Map("setup_s" -> secs(mainStart, s2), "session_s" -> secs(s0, s1),
      "bucketed_s" -> secs(s1, s2))
    System.err.println(f"[perfbench] setup ${secs(mainStart, s2)}%.3f s")
    val confs = (benchConfs(cores).map(_._1) ++ Seq("spark.master")).map(k =>
      k -> spark.conf.get(k)).toMap ++ Map(
      "extraOptimizations" -> spark.experimental.extraOptimizations.map(_.ruleName).mkString(","),
      "extraStrategies" -> spark.experimental.extraStrategies.map(_.getClass.getName).mkString(","))

    val tracer = if (traced) Some(new Tracer(spark)) else None
    val heap = new HeapWatch
    val passes = ArrayBuffer.empty[Map[String, Any]]
    // A pass's wall is the sum of its operations' walls: the harness's
    // untimed work between operations (the GC, the tracer's drain) is not
    // the program's and stays out of it.
    def pass(kind: String, withTrace: Boolean): Unit = {
      if (withTrace) tracer.foreach(_.attach())
      val ops = workload.ops.map(op => runOp(spark, workload, op, inputs, out, cores,
        if (withTrace) tracer else None, s"${passes.size}:${op.name}"))
      if (withTrace) tracer.foreach(_.detach())
      passes += Map("index" -> passes.size, "kind" -> kind, "traced" -> withTrace,
        "wall_s" -> ops.map(_("wall_s").asInstanceOf[Double]).sum, "ops" -> ops)
    }

    heap.start()
    pass("first", withTrace = traced)
    // warm passes for the measured window. A traced run orders its warm
    // passes untraced, traced, traced, untraced (repeated), so a drift
    // that is linear in time (the JIT still warming) cancels out of the
    // traced/untraced comparison.
    for (k <- 0 until workload.warmPasses(seconds, traced))
      pass("warm", withTrace = traced && (k % 4 == 1 || k % 4 == 2))
    heap.stop()

    val check = checkPass(spark, workload, inputs, out)
    val artifact = Map(
      "workload" -> workload.name, "inputs" -> inputs, "cores" -> cores,
      "seconds" -> seconds, "traced" -> traced, "confs" -> confs,
      "setup" -> setup, "passes" -> passes.toList,
      "live_heap_peak_bytes" -> heap.peak,
      "check" -> check,
      "spans" -> tracer.map(_.spans).getOrElse(Map.empty))
    new ObjectMapper().registerModule(DefaultScalaModule)
      .writeValue(out.resolve("artifact.json").toFile, artifact)
    spark.stop()
  }

  private def secs(t0: Long, t1: Long): Double = (t1 - t0) / 1e9

  /** One timed operation. The GC before it keeps earlier garbage out of its
    * time, as `graft.Bench` does. */
  def runOp(spark: SparkSession, w: Workload, op: Op, inputs: String, out: Path,
      cores: Int, tracer: Option[Tracer], tag: String): Map[String, Any] = {
    import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
    import org.apache.spark.metrics.source.CodegenMetrics
    System.gc()
    tracer.foreach(_.begin(tag))
    val sinkDir = out.resolve("sinks").resolve(op.name).toString
    val compile0 = CodeGenerator.compileTime
    val classes0 = CodegenMetrics.METRIC_SOURCE_CODE_SIZE.getCount
    val startMs = System.currentTimeMillis()
    val t0 = System.nanoTime()
    var t1, t2, t3 = t0
    var stageS = 0.0
    var error: String = null
    try {
      val pipeline = if (w.viaPipeline) Some(new Pipeline(spark)) else None
      val build = SparkEntry.queries(op.name)
      val df = pipeline match {
        case Some(p) => p.stage(op.name, build(spark, inputs))
        case None => build(spark, inputs)
      }
      t1 = System.nanoTime()
      op.sink match {
        case Noop => df.write.format("noop").mode("overwrite").save()
        case Csv => Load.csv(df, sinkDir)
        case Lake(col) => Load.partitionedParquet(df, sinkDir, col)
      }
      t2 = System.nanoTime()
      op.sink match {
        case Lake(_) => Load.compact(spark, sinkDir, cores)
        case _ =>
      }
      t3 = System.nanoTime()
      pipeline.foreach(p => stageS = p.finish().map(_.durationSec).sum)
    } catch {
      case e: Throwable =>
        error = s"${e.getClass.getName}: ${e.getMessage}".take(500)
        System.err.println(s"[perfbench] $tag FAILED: $error")
    }
    val t4 = System.nanoTime()
    val endMs = System.currentTimeMillis()
    val compileNs = CodeGenerator.compileTime - compile0
    val classes = CodegenMetrics.METRIC_SOURCE_CODE_SIZE.getCount - classes0
    tracer.foreach(_.end())
    System.err.println(f"[perfbench] $tag ${secs(t0, t4)}%.3f s")
    val (outBytes, outFiles) =
      if (op.sink == Noop || error != null) (0L, 0L) else dataFiles(Paths.get(sinkDir))
    Map("op" -> op.name, "tag" -> tag, "wall_s" -> secs(t0, t4),
      "build_s" -> secs(t0, t1), "sink" -> op.sink.toString,
      "load_s" -> (if (op.sink == Noop) 0.0 else secs(t1, t2)),
      "compact_s" -> secs(t2, t3), "stage_s" -> stageS,
      "load_output_bytes" -> outBytes, "load_files" -> outFiles,
      "start_ms" -> startMs, "build_end_ms" -> (startMs + (t1 - t0) / 1000000L),
      "end_ms" -> endMs, "codegen_compile_s" -> compileNs / 1e9,
      "codegen_classes" -> classes, "error" -> error)
  }

  /** Bytes and count of the data files a sink wrote (no metadata files). */
  private def dataFiles(dir: Path): (Long, Long) = {
    if (!Files.exists(dir)) return (0L, 0L)
    val s = Files.walk(dir)
    try {
      val files = s.iterator.asScala.filter(p => Files.isRegularFile(p) && {
        val n = p.getFileName.toString
        !n.startsWith(".") && !n.startsWith("_")
      }).toList
      (files.map(Files.size).sum, files.size.toLong)
    } finally s.close()
  }

  /** Untimed: every op's result as parquet, plus the oracle SQL that
    * `run.py` checks them against. */
  def checkPass(spark: SparkSession, w: Workload, inputs: String, out: Path): Map[String, Any] = {
    val names = w.ops.map(_.name)
    val dir = out.resolve("check")
    val results = names.map { name =>
      val error = try {
        SparkEntry.queries(name)(spark, inputs).write.mode("overwrite")
          .parquet(dir.resolve(name).toString)
        null
      } catch { case e: Throwable => s"${e.getClass.getName}: ${e.getMessage}".take(500) }
      name -> Map("error" -> error, "oracle" -> SparkEntry.oracleSql.getOrElse(name, null))
    }
    Map("dir" -> dir.toString, "ops" -> results.toMap)
  }
}

/** Largest heap occupancy right after a full collection while watching,
  * from the collectors' MXBean notifications: the `System.gc()` before each
  * op and any full collection the program causes itself. Young and mixed
  * collections are left out: after them the old generation still holds
  * unreachable objects, so their occupancy depends on when the last old
  * collection ran, not on what the program keeps live. */
final class HeapWatch extends NotificationListener {
  @volatile private var watching = false
  @volatile var peak: Long = 0L
  private val beans = ManagementFactory.getGarbageCollectorMXBeans.asScala.collect {
    case e: NotificationEmitter => e
  }

  override def handleNotification(n: Notification, handback: Any): Unit =
    if (watching && n.getType == GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
      val info = GarbageCollectionNotificationInfo.from(n.getUserData.asInstanceOf[CompositeData])
      if (info.getGcAction == "end of major GC") record(info)
    }

  private def record(info: GarbageCollectionNotificationInfo): Unit = {
    val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == java.lang.management.MemoryType.HEAP).map(_.getName).toSet
    val used = info.getGcInfo.getMemoryUsageAfterGc.asScala
      .collect { case (pool, u) if heapPools(pool) => u.getUsed }.sum
    synchronized { peak = math.max(peak, used) }
  }

  def start(): Unit = { beans.foreach(_.addNotificationListener(this, null, null)); watching = true }
  def stop(): Unit = { watching = false; beans.foreach(_.removeNotificationListener(this)) }
}
