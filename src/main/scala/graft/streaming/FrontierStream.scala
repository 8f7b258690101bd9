package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType, TimestampType}

import graft.operators.Curation
import graft.util.Fs.rmTree

/** ST19 — the STREAMING crawl frontier: d14's URL-canonicalization dedup
  * as a `foreachBatch` job (the st18 discipline applied to the crawl
  * edge of the pipeline). Fetches replay as three page_id-range
  * micro-batches; each batch canonicalizes in-row and MERGES into the
  * standing frontier state. The whole per-canonical output is an
  * aggregate LATTICE — n_fetches a sum, kept_page_id/first_ts mins,
  * n_raw_forms the size of a distinct-form set — so every merge step is
  * associative and commutative, and the converged frontier equals the
  * batch form EXACTLY whatever the batch split. That equality (under
  * d14's own DuckDB oracle) is the contract under test.
  *
  * State at 100 TB: the frontier IS the state a crawler keeps anyway —
  * one aggregate row per canonical URL plus the distinct (canonical,
  * raw-form-digest) pairs; both grow with the URL universe, not with
  * fetch history (re-fetches fold into the sums). In production both
  * frames are the lake table a MERGE targets (st6's scale story);
  * here they are localCheckpoint'ed per the st6/st18 pattern, and raw
  * forms travel as md5 digests so state rows stay ~64 B regardless of
  * URL length. */
object FrontierStream {

  /** Replay `fetches` (page_id, ts, url) as three page_id-range
    * micro-batches and fold each into the frontier state. Returns the
    * converged frontier in [[Curation.urlDedup]]'s exact output schema;
    * `onBatch` fires per non-empty micro-batch (specs count it to prove
    * the replay is genuinely multi-batch). */
  def runFrontierOverFixture(spark: SparkSession, fetches: DataFrame,
                             onBatch: Long => Unit = _ => ()): DataFrame = {
    // the lattice makes the RESULT order-free; the staged batch order
    // keeps onBatch counts stable
    val (srcDir, rows) = EventStream.stageRangeBatches(fetches, "FrontierStream", "page_id")
    EventStream.withStateSizedShuffle(spark, rows) {
    val emptyRel = (schema: StructType) => spark.createDataFrame(
      new java.util.ArrayList[org.apache.spark.sql.Row](), schema)
    var agg = emptyRel(StructType(Seq(
      StructField("canonical_url", StringType),
      StructField("n_fetches", LongType),
      StructField("kept_page_id", LongType),
      StructField("first_ts", TimestampType))))
    var forms = emptyRel(StructType(Seq(
      StructField("canonical_url", StringType),
      StructField("url_digest", StringType))))
    val stream = spark.readStream.schema(fetches.schema)
      .option("maxFilesPerTrigger", "1")
      .option("recursiveFileLookup", "true")
      .parquet(srcDir.toString)
    val q = stream.writeStream
      .foreachBatch { (batch: DataFrame, _: Long) =>
        val canon = batch.select(col("page_id"), col("ts"),
            Curation.canonicalUrl(col("url")).as("canonical_url"),
            md5(col("url")).as("url_digest"))
          .localCheckpoint()
        val n = canon.count()
        if (n > 0) onBatch(n)
        val bAgg = canon.groupBy(col("canonical_url"))
          .agg(count(lit(1)).as("n_fetches"),
            min(col("page_id")).as("kept_page_id"),
            min(col("ts")).as("first_ts"))
        agg = agg.unionByName(bAgg)
          .groupBy(col("canonical_url"))
          .agg(sum(col("n_fetches")).as("n_fetches"),
            min(col("kept_page_id")).as("kept_page_id"),
            min(col("first_ts")).as("first_ts"))
          .localCheckpoint()
        forms = forms
          .unionByName(canon.select(col("canonical_url"), col("url_digest")))
          .distinct().localCheckpoint()
        ()
      }
      .start()
    try q.processAllAvailable() finally { q.stop(); rmTree(srcDir) }
    agg.join(
        forms.groupBy(col("canonical_url"))
          .agg(count(lit(1)).as("n_raw_forms")),
        Seq("canonical_url"))
      .select(col("canonical_url"), col("n_fetches"), col("n_raw_forms"),
        col("kept_page_id"), col("first_ts"))
    }
  }
}
