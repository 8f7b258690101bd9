package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}

import graft.operators.Dedup

/** ST18 — the STREAMING delta release: release2's nightly admission
  * waterfall as a `foreachBatch` streaming job (the st6/st14 batch-parity
  * discipline applied to the ship line). The delta replays as three
  * doc_id-RANGE micro-batches in mtime order; each batch runs
  * gate → exact-digest admission → near-dup admission against the
  * standing release PLUS everything already seen, and the admitted rows
  * append to the release. Batch parity with release2 is exact and is the
  * contract under test:
  *
  *  - exact-digest: release2 keeps the min-doc_id row per digest over the
  *    WHOLE delta, then drops digests already in the release. Under
  *    doc_id-ordered batches, "first batch occurrence wins" IS the
  *    min-doc_id row, and later re-occurrences anti-join away against the
  *    `seen` digests — so the streamed survivor set equals the batch one.
  *  - near-dup: release2 blocks delta doc d on any J≥0.5 neighbor in
  *    (base ∪ {c ∈ digest-new : c_id < d_id}) — note blockers need not be
  *    admitted themselves. The stream reproduces that exactly:
  *    [[Dedup.nearDupAdmission]]'s corpus side carries base ∪ ALL prior
  *    digest-new rows (`seen`, admitted or not), and its within-incoming
  *    arm covers same-batch c_id < d_id; ordered batches make the union
  *    of the two exactly the batch-form blocker set.
  *
  * State at 100 TB: `seen` is the digest-new delta (one night's intake —
  * bounded by the batch, never by stream history; the standing release
  * is a lake table the MERGE targets, exactly st6's scale story), carried
  * here as localCheckpoint'ed frames per the st6 pattern. Nothing
  * already released ever recomputes or reshuffles — the card updates by
  * per-split addition in the caller. */
object ReleaseStream {

  /** Replay `delta` as three doc_id-range micro-batches and run the
    * admission waterfall against `baseRel`. Returns
    * (digest-new rows seen, admitted rows, gate-survivor count);
    * `onBatch` fires once per non-empty micro-batch (specs count it to
    * prove the replay is genuinely multi-batch). */
  def runDeltaAdmissionOverFixture(
      spark: SparkSession, delta: DataFrame, baseRel: DataFrame,
      gateOk: DataFrame => DataFrame,
      onBatch: Long => Unit = _ => ()): (DataFrame, DataFrame, Long) = {
    val emptyRel = (schema: StructType) => spark.createDataFrame(
      new java.util.ArrayList[org.apache.spark.sql.Row](), schema)
    var seen = emptyRel(StructType(Seq(
      StructField("doc_id", LongType), StructField("text", StringType),
      StructField("source", StringType), StructField("n_tok", LongType))))
    var admitted = seen
    var nGateOk = 0L
    val baseDigests = baseRel.select(md5(col("text")).as("digest"))
      .localCheckpoint()
    Replay.fold(spark, "ReleaseStream", Replay.Ranged(delta, col("doc_id")))(
      _.read(spark)) { batch =>
      val g = gateOk(batch).localCheckpoint()
      val nG = g.count()
      if (nG > 0) onBatch(nG)
      nGateOk += nG
      // digest admission: new within batch (min-doc_id rep) AND unseen
      // vs the release and every prior night
      val e = Dedup.exactByDigest(g, col("text"),
          carry = Seq("text", "source", "n_tok"))
        .join(baseDigests.unionByName(
            seen.select(md5(col("text")).as("digest"))),
          Seq("digest"), "left_anti")
        .select(col("doc_id"), col("text"), col("source"), col("n_tok"))
        .localCheckpoint()
      // near-dup admission: corpus side = release ∪ ALL prior digest-new
      // rows (blockers need not be admitted — release2's contract);
      // within-batch earlier ids are nearDupAdmission's incoming arm
      val adm = Dedup.nearDupAdmission(
          e.select(col("doc_id"), col("text")),
          baseRel.select(col("doc_id"), col("text"))
            .unionByName(seen.select(col("doc_id"), col("text"))))
        .filter(col("admitted")).select(col("doc_id"))
      admitted = admitted.unionByName(
        e.join(adm, Seq("doc_id"), "left_semi")).localCheckpoint()
      seen = seen.unionByName(e).localCheckpoint()
    }
    (seen, admitted, nGateOk)
  }
}
