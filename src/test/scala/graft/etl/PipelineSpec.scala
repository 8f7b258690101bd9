package graft.etl

import graft.{SparkTestBase, Tables}
import org.apache.spark.sql.functions._

class PipelineSpec extends SparkTestBase {

  test("staged run: row metrics ride the terminal action via observe()") {
    val p = new Pipeline(spark)
    val extracted = p.stage("extract", Tables.customer(spark, sf0001))
    val transformed = p.stage("transform", extracted.filter(col("c_acctbal") > 0))
    val loaded = p.stage("load", transformed.limit(20))
    loaded.write.format("noop").mode("overwrite").save() // ONE action
    val runs = p.finish()
    assert(runs.map(_.stage) == Seq("extract", "transform", "load"))
    assert(runs.forall(_.status == "done"))
    assert(runs.forall(_.durationSec > 0)) // measured, not the mock 95 s
    assert(runs.head.rows >= runs(1).rows)
    assert(runs(2).rows == 20)
    val log = p.log.collect()
    assert(log.length == 9) // start + composed per stage + done per stage
    assert(log.forall(_.getAs[String]("message").nonEmpty))
  }

  test("metrics come from the single execution, not a recount") {
    // a side-effecting filter proves lineage runs exactly once
    val hits = spark.sparkContext.longAccumulator("pipeline_probe")
    val p = new Pipeline(spark)
    val base = Tables.customer(spark, sf0001).limit(100)
    val probed = p.stage("probe", base.filter(r => { hits.add(1); true }))
    probed.write.format("noop").mode("overwrite").save()
    val runs = p.finish()
    assert(runs.head.rows == 100)
    assert(hits.value == 100, s"lineage executed ${hits.value / 100.0} times")
  }

  test("a stage whose plan never runs reports -1 / unmeasured within maxWaitMs") {
    val p = new Pipeline(spark)
    val ran = p.stage("ran", Tables.customer(spark, sf0001).limit(10))
    p.stage("never1", Tables.customer(spark, sf0001))
    p.stage("never2", Tables.orders(spark, sf0001))
    ran.write.format("noop").mode("overwrite").save()
    val maxWaitMs = 1000L
    val t0 = System.nanoTime()
    val runs = p.finish(maxWaitMs)
    val waitedMs = (System.nanoTime() - t0) / 1000000L
    assert(runs.map(r => (r.stage, r.status, r.rows)) == Seq(
      ("ran", "done", 10L), ("never1", "unmeasured", -1L), ("never2", "unmeasured", -1L)))
    // one shared deadline: two never-run stages cost one maxWaitMs, not two
    assert(waitedMs < 2 * maxWaitMs, s"waited $waitedMs ms")
  }
}
