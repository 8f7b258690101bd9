package graft

import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.FormattedMode
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import java.nio.file.{Files, Paths}
import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}
import scala.jdk.CollectionConverters._

/** Dev tools on the bench session, over queries on SPARK_GRAFT_SF_DIR:
  *
  *  - `show <names>`: print up to 50 result rows of each.
  *  - `explain [names]`: write `explain("formatted")` plus the final AQE
  *    plan of each to SPARK_GRAFT_PLAN_DIR (default docs/plans), the
  *    evidence behind SCALE.md; no names dumps the bench rows and the
  *    ship-line compositions.
  *  - `time <names>`: warm-up, then SPARK_GRAFT_REPS (default 3) timed
  *    runs, each printed as `TIME <name> <sec>`.
  *  - `profile <names>`: warm-up, then one timed run with a listener;
  *    prints the execution shape as `PROFILE <name> wall=… jobs=… …`
  *    and one `JOB` line per job, named by the action that owns it.
  *    "Scheduling/barrier-bound" reads as wall >> taskTime/cores with
  *    many jobs, "compute-bound" as taskTime ≈ wall × cores.
  *
  * Names are a comma list (or several arguments) of registered queries;
  * an unknown name fails before any run. */
object Tool {
  private val usage = "usage: graft.Tool <show|explain|time|profile> [names]"

  def main(args: Array[String]): Unit = {
    val cmd = args.headOption.getOrElse(sys.error(usage))
    require(Set("show", "explain", "time", "profile")(cmd), usage)
    val sel = Bench.nameFilter(args.drop(1).mkString(","))
    val names = sel.map(Bench.inOrder).getOrElse {
      require(cmd == "explain", s"$cmd needs query names; $usage")
      (Queries.benchNames ++ Queries.shipLineNames).distinct
    }
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = Bench.envSession()
    cmd match {
      case "show" => names.foreach { name =>
        println(s"=== $name ===")
        SparkEntry.queries(name)(spark, sfDir).show(50, truncate = false)
      }
      case "explain" => explain(spark, names, sfDir)
      case "time" =>
        val reps = sys.env.getOrElse("SPARK_GRAFT_REPS", "3").toInt
        names.foreach { name =>
          Bench.warm(spark, name)
          (1 to reps).foreach { _ =>
            println(f"TIME $name ${Bench.timed(spark, name, sfDir)}%.3f")
          }
        }
      case "profile" => names.foreach { name =>
        Bench.warm(spark, name)
        profile(spark, name, sfDir)
      }
    }
    spark.stop()
  }

  private def explain(spark: SparkSession,
                      names: Seq[String], sfDir: String): Unit = {
    val outDir = Paths.get(sys.env.getOrElse("SPARK_GRAFT_PLAN_DIR", "docs/plans"))
    Files.createDirectories(outDir)
    names.foreach { name =>
      // ship-line compositions materialize stage boundaries with eager
      // localCheckpoint, so their stage exchanges run at CONSTRUCTION
      // time and never appear in the final static plan — the committed
      // dump carries the MEASURED bill (distinct shuffles executed,
      // scheduler-counted) alongside the plan text
      var df: DataFrame = null
      val bill = graft.util.ShuffleBill.measure(spark) {
        df = SparkEntry.queries(name)(spark, sfDir)
        Bench.noop(df) // finalize AQE
      }
      val billLine =
        if (Queries.shipLineNames.contains(name))
          s"== measured shuffle bill (distinct shuffles executed, incl. stage materialization) ==\n$bill\n"
        else ""
      val formatted = df.queryExecution.explainString(FormattedMode)
      val adaptive = df.queryExecution.executedPlan.toString
      // giant inline literals (e.g. a serialized Bloom filter rendered as
      // hex) would bloat a dump to MBs without adding plan information —
      // elide anything a reader wouldn't scan anyway
      val elided = s"$billLine== explain(formatted), $sfDir ==\n$formatted\n== executed (AQE final) ==\n$adaptive\n"
        .linesIterator.map { l =>
          if (l.length <= 800) l
          else l.take(800) + s"… [${l.length - 800} chars elided]"
        }.mkString("\n")
      Files.writeString(outDir.resolve(s"$name.txt"), elided)
      println(s"PLAN $name written")
    }
  }

  private class Acc extends SparkListener {
    val jobs = new ConcurrentLinkedQueue[SparkListenerJobStart]
    val executions = new ConcurrentHashMap[Long, String]
    val stages = new AtomicInteger
    val tasks = new AtomicInteger
    val taskTimeMs = new AtomicLong
    val shufReadB = new AtomicLong
    val shufWriteB = new AtomicLong
    val inputB = new AtomicLong
    val gcMs = new AtomicLong
    override def onJobStart(j: SparkListenerJobStart): Unit = jobs.add(j)
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case x: SparkListenerSQLExecutionStart =>
        executions.put(x.executionId, x.description)
      case _ =>
    }
    override def onStageCompleted(s: SparkListenerStageCompleted): Unit =
      stages.incrementAndGet()
    override def onTaskEnd(t: SparkListenerTaskEnd): Unit = {
      tasks.incrementAndGet()
      val m = t.taskMetrics
      if (m != null) {
        taskTimeMs.addAndGet(m.executorRunTime)
        gcMs.addAndGet(m.jvmGCTime)
        shufReadB.addAndGet(m.shuffleReadMetrics.totalBytesRead)
        shufWriteB.addAndGet(m.shuffleWriteMetrics.bytesWritten)
        inputB.addAndGet(m.inputMetrics.bytesRead)
      }
    }
  }

  private def profile(spark: SparkSession,
                      name: String, sfDir: String): Unit = {
    val acc = new Acc
    spark.sparkContext.addSparkListener(acc)
    val wall = Bench.timed(spark, name, sfDir)
    val startMs = System.currentTimeMillis() - (wall * 1e3).toLong
    GraftStageInfoAccess.drainListenerBus(spark.sparkContext)
    spark.sparkContext.removeSparkListener(acc)
    val jobs = acc.jobs.asScala.toSeq
    println(f"PROFILE $name wall=$wall%.3f jobs=${jobs.size}" +
      f" stages=${acc.stages.get} tasks=${acc.tasks.get}" +
      f" taskTime=${acc.taskTimeMs.get / 1e3}%.2f gc=${acc.gcMs.get / 1e3}%.2f" +
      f" shufRead=${acc.shufReadB.get / 1e6}%.1fMB" +
      f" shufWrite=${acc.shufWriteB.get / 1e6}%.1fMB" +
      f" input=${acc.inputB.get / 1e6}%.1fMB")
    // each job's start offset + owner: the action of its SQL execution
    // (AQE submits stage jobs from a pool thread, so their own call site
    // names the pool, not the action); the stage name otherwise
    jobs.zipWithIndex.foreach { case (j, i) =>
      val owner = Option(j.properties)
        .flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
        .flatMap(id => Option(acc.executions.get(id.toLong)))
        .orElse(j.stageInfos.lastOption.map(_.name)).getOrElse("?")
      println(f"JOB ${i + 1}%3d +${(j.time - startMs) / 1e3}%.2fs" +
        f" stages=${j.stageInfos.size} $owner")
    }
  }
}
