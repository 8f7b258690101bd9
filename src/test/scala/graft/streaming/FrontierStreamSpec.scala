package graft.streaming

import graft.{Queries, SparkTestBase}
import org.apache.spark.sql.functions._

/** st19 batch parity: the streamed crawl frontier must converge to
  * EXACTLY d14's batch canonical-URL dedup over a genuinely multi-batch
  * replay — the per-canonical output is an aggregate lattice, so any
  * batch split must be lossless. */
class FrontierStreamSpec extends SparkTestBase {
  import spark.implicits._

  test("st19 streamed frontier equals d14's batch dedup, multi-batch") {
    val batches = scala.collection.mutable.ArrayBuffer.empty[Long]
    val streamed = Queries.all("st19_stream_frontier")(spark, sf0001)
    // re-run the instrumented path for the multi-batch proof (the
    // registered query cannot thread the callback)
    val ts = java.sql.Timestamp.valueOf("2024-01-01 00:00:00")
    val fetches = (1L to 90L)
      .map(i => (i, ts, s"https://www.Example.com/p/${i % 7}?utm_source=x&ref=r${i % 2}"))
      .toDF("page_id", "ts", "url").localCheckpoint()
    FrontierStream.runFrontierOverFixture(spark, fetches, n => batches += n)
    assert(batches.size >= 2,
      s"replay collapsed to ${batches.size} non-empty micro-batch(es)")
    assert(batches.sum == 90)
    assertSameRows(streamed, Queries.all("d14_url_dedup")(spark, sf0001))
  }

  test("a canonical straddling micro-batches folds losslessly (min/sum/forms)") {
    val t1 = java.sql.Timestamp.valueOf("2024-01-02 00:00:00")
    val t2 = java.sql.Timestamp.valueOf("2024-01-01 00:00:00")
    // page_ids 1 and 100 land in different range batches; both collapse
    // to one canonical — n_fetches must sum across batches, kept/first
    // must take the cross-batch min, raw forms must union-distinct
    val fetches = Seq(
      (1L, t1, "https://A.example.com/x?utm_a=1"),
      (50L, t1, "https://a.example.com/x/"),
      (100L, t2, "https://a.example.com/x?fbclid=q")).toDF("page_id", "ts", "url")
    val got = FrontierStream.runFrontierOverFixture(spark, fetches).collect()
    assert(got.length == 1)
    val r = got.head
    assert(r.getString(0) == "https://a.example.com/x")
    assert(r.getAs[Long]("n_fetches") == 3 && r.getAs[Long]("n_raw_forms") == 3)
    assert(r.getAs[Long]("kept_page_id") == 1)
    assert(r.getAs[java.sql.Timestamp]("first_ts") == t2)
  }

  test("empty input fails with the stream and split column named, not an NPE") {
    val fetches = Seq.empty[(Long, java.sql.Timestamp, String)].toDF("page_id", "ts", "url")
    val e = intercept[IllegalArgumentException](
      FrontierStream.runFrontierOverFixture(spark, fetches))
    assert(e.getMessage.contains("FrontierStream") && e.getMessage.contains("page_id"),
      e.getMessage)
  }
}
