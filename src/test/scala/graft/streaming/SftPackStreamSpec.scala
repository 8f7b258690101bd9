package graft.streaming

import graft.{Queries, SparkTestBase}
import org.apache.spark.sql.functions._

/** st20 batch parity: the streamed SFT packer must converge to EXACTLY
  * release3's batch card over a genuinely multi-batch replay — the
  * ord-range split preserves each shard's processing order, so the
  * greedy next-fit fold composes across batches through two longs of
  * per-shard state. */
class SftPackStreamSpec extends SparkTestBase {
  import spark.implicits._

  test("st20 streamed packer equals release3's batch card, multi-batch") {
    val streamed = Queries.all("st20_stream_sft")(spark, sf0001)
    assertSameRows(streamed, Queries.all("release3_sft_release")(spark, sf0001))
  }

  test("an open bin straddling micro-batches keeps filling, crafted") {
    // capacity 10, ONE shard: placement order is by the salted ord hash,
    // and the replay splits the same ord order into range batches — so
    // wherever the split lands, the greedy fold must produce the same
    // bins as the batch packer. Token sizes 6/3/5/4/2: any contiguous
    // order yields bins whose token sums conserve exactly 20.
    val batches = scala.collection.mutable.ArrayBuffer.empty[Long]
    val conv = Seq((1L, 6L, 2L), (2L, 3L, 1L), (3L, 5L, 2L),
        (4L, 4L, 1L), (5L, 2L, 1L))
      .toDF("doc_id", "n_tokens_used", "assistant_tokens")
    val got = SftPackStream.runSftPackOverFixture(spark, conv,
      capacity = 10, shards = 1, salt = "st20-spec", onBatch = n => batches += n)
    assert(batches.size >= 2,
      s"replay collapsed to ${batches.size} non-empty micro-batch(es)")
    assert(batches.sum == 5)
    val r = got.collect()
    assert(r.map(_.getAs[Long]("n_convos")).sum == 5)
    assert(r.map(_.getAs[Long]("n_tokens")).sum == 20L, "token conservation")
    assert(r.map(_.getAs[Long]("n_trainable")).sum == 7L)
    // single-pass reference: the batch packer on the same inputs
    val ref = graft.operators.Sampling.packSequencesNoStraddle(
        conv, col("doc_id"), col("n_tokens_used"),
        capacity = 10, shards = 1, salt = "st20-spec")
      .agg(countDistinct(col("seq_id")).as("n_bins")).head.getLong(0)
    assert(r.map(_.getAs[Long]("n_bins")).sum == ref,
      "streamed bin count must equal the batch packer's")
  }

  test("empty input fails with the stream and split column named, not an NPE") {
    val conv = Seq.empty[(Long, Long, Long)]
      .toDF("doc_id", "n_tokens_used", "assistant_tokens")
    val e = intercept[IllegalArgumentException](
      SftPackStream.runSftPackOverFixture(spark, conv))
    assert(e.getMessage.contains("SftPackStream") && e.getMessage.contains("ord"),
      e.getMessage)
  }
}
