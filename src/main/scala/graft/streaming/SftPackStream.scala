package graft.streaming

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructField, StructType}

/** ST20 — the STREAMING SFT packer: release3's no-straddle packing +
  * per-shard dataset card as a `foreachBatch` job (the st18/st19
  * discipline applied to the SFT leg of the ship line). Gated
  * conversations replay as three micro-batches split by ORD range — the
  * per-shard processing order [[graft.operators.Sampling.packSequencesNoStraddle]]
  * packs in — so the greedy next-fit fold composes across batches: the
  * only state a shard's packer needs is its OPEN bin (bin id + current
  * fill), two longs per shard, exactly what a streaming loader that packs
  * as data arrives would keep. Per-bin accounting accumulates as an
  * additive lattice (conversation/token/trainable-token sums keyed by
  * (shard, bin)), so the converged card equals release3's batch card
  * EXACTLY and shares its DuckDB oracle VERBATIM — the d14→st19 pattern.
  *
  * Why ord-range batches compose: within a shard the batch packer places
  * documents in (ord, doc_id) order; splitting the replay on ord
  * boundaries keeps every earlier-placed document in an earlier batch, so
  * re-seeding the fold with the carried (open bin, fill) continues the
  * identical placement sequence. A bin left exactly full (fill == cap)
  * carries as-is: the next document overflows it and opens a fresh bin,
  * exactly as the single-pass fold would.
  *
  * State at 100 TB: per-shard packer state is O(shards) longs; the per-bin
  * partials are the manifest the release ships anyway (a lake table the
  * MERGE targets in production — st6's scale story), localCheckpoint'ed
  * here per the st18 pattern. The two driver collects are bounded by
  * `shards` (the packer-state handoff), never by data. */
object SftPackStream {

  /** Replay `conv` (doc_id, n_tokens_used, assistant_tokens) as three
    * ord-range micro-batches, fold each into the standing packer state,
    * and return the per-shard release card in release3's exact schema.
    * `onBatch` fires per non-empty micro-batch (specs count it to prove
    * the replay is genuinely multi-batch). */
  def runSftPackOverFixture(spark: SparkSession, conv: DataFrame,
                            capacity: Int = 128, shards: Int = 4,
                            salt: String = "rel3",
                            onBatch: Long => Unit = _ => ()): DataFrame = {
    require(capacity > 0 && shards > 0, s"bad capacity/shards: $capacity/$shards")
    val cap = capacity.toLong
    val annotated = conv.select(
      graft.operators.Sampling.hashBucket(
        concat(lit(s"$salt-sh:"), col("doc_id").cast("string")), shards)
        .as("shard"),
      graft.operators.Sampling.hashBucket(
        concat(lit(s"$salt-ord:"), col("doc_id").cast("string")), 100000000)
        .as("ord"),
      col("doc_id"),
      least(col("n_tokens_used").cast("long"), lit(cap)).as("eff_tok"),
      col("assistant_tokens").cast("long").as("a_tok"))
    var bins = spark.createDataFrame(
      new java.util.ArrayList[Row](), StructType(Seq(
        StructField("shard", LongType), StructField("seq_id", LongType),
        StructField("n_convos", LongType), StructField("bin_tokens", LongType),
        StructField("trainable", LongType))))
    // per-shard packer state: shard -> (open bin id, open bin fill);
    // read back from the bins lattice after each batch (bounded by
    // `shards` rows — the ONLY driver state this stream keeps)
    var state = Map.empty[Long, (Long, Long)]
    val packedSchema = StructType(Seq(
      StructField("shard", LongType, nullable = false),
      StructField("seq_id", LongType, nullable = false),
      StructField("eff_tok", LongType, nullable = false),
      StructField("a_tok", LongType, nullable = false)))
    // split the replay on ORD boundaries: the per-shard processing order,
    // so each batch is a prefix-extension of every shard's fold — unlike
    // st19's lattice, the packer fold REQUIRES ord-ascending batches
    Replay.fold(spark, "SftPackStream", Replay.Ranged(annotated, col("ord")))(
      _.read(spark)) { batch =>
      val n = batch.count()
      if (n > 0) {
        onBatch(n)
        val seed = state
        val parted = batch
          .select(col("shard"), col("ord"), col("doc_id"),
            col("eff_tok"), col("a_tok"))
          .repartition(col("shard"))
          .sortWithinPartitions(col("shard"), col("ord"), col("doc_id"))
        val packed = parted.rdd.mapPartitions { it =>
          var curShard = Long.MinValue
          var seq = 0L
          var fill = 0L
          it.map { r =>
            val sh = r.getLong(0)
            if (sh != curShard) {
              curShard = sh
              val (s0, f0) = seed.getOrElse(sh, (0L, 0L))
              seq = s0; fill = f0
            }
            val eff = r.getLong(3)
            if (fill + eff > cap) { seq += 1; fill = 0L }
            fill += eff
            Row(sh, seq, eff, r.getLong(4))
          }
        }
        val binPart = spark.createDataFrame(packed, packedSchema)
          .groupBy(col("shard"), col("seq_id"))
          .agg(count(lit(1)).as("n_convos"),
            sum(col("eff_tok")).as("bin_tokens"),
            sum(col("a_tok")).as("trainable"))
        bins = bins.unionByName(binPart)
          .groupBy(col("shard"), col("seq_id"))
          .agg(sum(col("n_convos")).as("n_convos"),
            sum(col("bin_tokens")).as("bin_tokens"),
            sum(col("trainable")).as("trainable"))
          .localCheckpoint()
        // carry each shard's OPEN bin forward: bounded collect
        // (`shards` rows — see the object scaladoc)
        state = bins.groupBy(col("shard"))
          .agg(max(col("seq_id")).as("sq"),
            max_by(col("bin_tokens"), col("seq_id")).as("fill"))
          .collect()
          .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
      }
    }
    bins.groupBy(col("shard"))
      .agg(count(lit(1)).as("n_bins"),
        sum(col("n_convos")).as("n_convos"),
        sum(col("bin_tokens")).as("n_tokens"),
        sum(col("trainable")).as("n_trainable"))
      .select(col("shard"), col("n_bins"), col("n_convos"), col("n_tokens"),
        col("n_trainable"),
        graft.functions.portableRound(
          col("n_trainable").cast("double") / col("n_tokens"), 6)
          .as("trainable_frac"),
        graft.functions.portableRound(
          col("n_tokens").cast("double") / (col("n_bins") * capacity.toDouble), 6)
          .as("mean_fill"))
  }
}
