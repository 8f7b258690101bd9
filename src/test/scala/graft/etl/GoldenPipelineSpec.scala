package graft.etl

import graft.{Queries, SparkTestBase, Tables}
import org.apache.spark.sql.functions._

/** End-to-end golden test (SURVEY.md §5.2 item 4): the full E1 pipeline on
  * sf0.001 through the staged runner, written to parquet + CSV, with the
  * checked-in expected aggregates. */
class GoldenPipelineSpec extends SparkTestBase {

  test("E1 staged run: extract → transform → metrics → sinks, golden aggregates") { withTempDir("graft-golden") { tmp =>
    val p = new Pipeline(spark)
    // one lineage end to end: each stage builds on the previous stage's
    // observed frame, so the single Load action fires every stage metric
    val extracted = p.stage("extract", Tables.customer(spark, sf0001))
    val transformed = p.stage("transform", Queries.e1UsersFrom(
      extracted, Tables.nation(spark, sf0001), Tables.region(spark, sf0001)))
    val out = tmp.toString
    val loadStage = p.stage("load", transformed)
    Load.parquet(loadStage, s"$out/parquet") // the ONE terminal action
    Load.csv(transformed.select("id", "name", "segment", "nation", "region"), s"$out/csv")

    // golden numbers for sf0.001 (seed=42 fixtures — stable by construction)
    assert(p.finish().map(_.rows) == Seq(150L, 139L, 139L))
    val back = spark.read.parquet(s"$out/parquet")
    assert(back.count() == 139)
    val agg = back.agg(
      countDistinct(col("nation")).as("nations"),
      sum(col("acctbal").cast("decimal(18,2)")).cast("double").as("bal")).collect()(0)
    assert(agg.getAs[Long]("nations") == 25)
    val csvBack = spark.read.option("header", "true").option("escape", "\"").csv(s"$out/csv")
    assert(csvBack.count() == 139)
    assert(p.totalDurationSec > 0)
  }}

  test("E4 fallback chain: first non-empty source wins; all-miss is empty") {
    import spark.implicits._
    val primary = Seq((1L, "p")).toDF("key", "src")
    val secondary = Seq((2L, "s")).toDF("key", "src")
    val hit = Extract.pointWithFallback("key", "2", Seq(primary, secondary))
    assert(hit.collect().map(_.getString(1)).toSeq == Seq("s"))
    val miss = Extract.pointWithFallback("key", "99", Seq(primary, secondary))
    assert(miss.isEmpty) // the notFound terminal
  }

  test("K1 API envelope assembles users + metrics + flags + sourceUrl") {
    import spark.implicits._
    val users = Seq(("u1", "Alice")).toDF("id", "name")
    val metrics = Seq((1L, 1L)).toDF("rows_in", "rows_out")
    val env = Load.apiEnvelope(users, metrics, fallbackUsed = false,
      java.time.Instant.parse("2026-01-01T00:00:00Z"),
      sourceUrl = "https://api.example.com/users?results=500")
    assert(env.startsWith("""{"users":[{"""))
    assert(env.contains(""""rows_in":1"""))
    assert(env.contains(""""fallbackUsed":false"""))
    assert(env.contains(""""sourceUrl":"https://api.example.com/users?results=500""""))
    assert(env.contains("2026-01-01T00:00:00Z"))
  }

  test("K1 error envelopes: 405 method guard and 500 with escaped message") {
    val (ms, mb) = Load.methodNotAllowed
    assert(ms == 405 && mb == """{"error":"Method not allowed"}""")
    val (es, eb) = Load.errorEnvelope(500, "boom \"quoted\"\nline2")
    assert(es == 500 && eb == """{"error":"boom \"quoted\"\nline2"}""")
  }
}
