package graft.streaming

import graft.{Queries, SparkTestBase, Tables}
import org.apache.spark.sql.functions._

/** st18 batch parity: the streamed nightly admission must converge to
  * EXACTLY release2's batch waterfall and card, over a genuinely
  * multi-batch replay (VERDICT r14 item 4). */
class ReleaseStreamSpec extends SparkTestBase {

  test("st18 streamed delta release equals release2's batch card, multi-batch") {
    val batches = scala.collection.mutable.ArrayBuffer.empty[Long]
    val docs = Tables.documents(spark, sf0001)
    val baseRel = Queries.standingRelease(docs)
    val delta = docs.filter(col("doc_id") % 10 === 7).localCheckpoint()
    val (seen, admitted, nGateOk) =
      ReleaseStream.runDeltaAdmissionOverFixture(
        spark, delta, baseRel, Queries.releaseGateOk, nG => batches += nG)
    // the replay must actually cross micro-batch boundaries: the three
    // doc_id ranges of a non-degenerate fixture each carry gate survivors
    assert(batches.size >= 2,
      s"replay collapsed to ${batches.size} non-empty micro-batch(es): $batches")
    assert(batches.sum == nGateOk)
    val wf = delta.agg(count(lit(1)).as("n_batch"))
      .withColumn("n_gate_ok", lit(nGateOk))
      .crossJoin(seen.agg(count(lit(1)).as("n_digest_new")))
      .crossJoin(admitted.agg(count(lit(1)).as("n_admitted")))
    val streamed = Queries.releaseCardOf(baseRel, admitted, wf)
    val batch = Queries.all("release2_delta_release")(spark, sf0001)
    assertSameRows(streamed, batch)
  }

  test("st18 registered query returns the same card as release2") {
    assertSameRows(
      Queries.all("st18_stream_release")(spark, sf0001),
      Queries.all("release2_delta_release")(spark, sf0001))
  }

  test("a near-dup straddling micro-batches is still blocked (cross-batch state)") {
    import spark.implicits._
    // two near-identical docs whose ids land in DIFFERENT doc_id-range
    // batches (1 and 900 of a 0..900 span), a clean doc, and an exact
    // duplicate across batches; base holds an unrelated doc. The
    // second-night twin must be blocked by the FIRST night's admit, and
    // the cross-batch exact copy must not count digest-new twice.
    val mk = (id: Long, text: String) => (id, text, "webA")
    val t1 = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    val t1b = "alpha beta gamma delta epsilon zeta eta theta iota lambda"
    val clean = "one two three four five six seven eight nine ten"
    val base = Seq((5000L, "completely different standing corpus row here ok", "webB", 8L))
      .toDF("doc_id", "text", "source", "n_tok")
    val delta = Seq(mk(1L, t1), mk(450L, clean), mk(900L, t1b), mk(901L, clean))
      .toDF("doc_id", "text", "source")
    val (seen, admitted, _) = ReleaseStream.runDeltaAdmissionOverFixture(
      spark, delta, base,
      df => df.select(col("doc_id"), col("text"), col("source"),
        size(split(col("text"), " ")).cast("long").as("n_tok")))
    val seenIds = seen.select("doc_id").collect().map(_.getLong(0)).toSet
    val admittedIds = admitted.select("doc_id").collect().map(_.getLong(0)).toSet
    // 901 duplicates 450's text exactly → digest-dropped despite being in
    // a later batch; 900 is digest-new but near-dup-blocked by batch-1's 1
    assert(seenIds == Set(1L, 450L, 900L), s"digest-new set: $seenIds")
    assert(admittedIds == Set(1L, 450L), s"admitted set: $admittedIds")
  }

  test("empty input fails with the stream and split column named, not an NPE") {
    import spark.implicits._
    val delta = Seq.empty[(Long, String, String)].toDF("doc_id", "text", "source")
    val base = Seq.empty[(Long, String, String, Long)].toDF("doc_id", "text", "source", "n_tok")
    val e = intercept[IllegalArgumentException](
      ReleaseStream.runDeltaAdmissionOverFixture(spark, delta, base, Queries.releaseGateOk))
    assert(e.getMessage.contains("ReleaseStream") && e.getMessage.contains("doc_id"),
      e.getMessage)
  }
}
