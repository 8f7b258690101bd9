package graft.etl

import graft.functions._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{Column, DataFrame}

/** The reference's Transform-stage operators (SURVEY.md §2.3–§2.8),
  * re-expressed as pure `DataFrame => DataFrame` column pipelines so Catalyst
  * sees one declarative plan per query (pushdown + pruning stay free).
  *
  * Reference semantics cited per op; all citations are file:line into
  * /root/reference/.
  */
object Transform {

  /** F5/J4 — point lookup by key with JS loose `==` string comparison
    * (pages/launch/[id].js:33). Pushdown-friendly: equality on a cast key. */
  def pointLookup(df: DataFrame, keyCol: String, key: String): DataFrame =
    df.filter(keyEq(col(keyCol), key))

  /** J1/J2 — left-outer lookup join with default-on-miss (spacex.js:24,32):
    * broadcast the dimension, coalesce the miss to a default value. */
  def lookupJoin(
      fact: DataFrame, dim: DataFrame,
      factKey: String, dimKey: String,
      picked: Seq[(String, String)],       // (dimCol, outName)
      defaults: Map[String, Column] = Map.empty): DataFrame = {
    val joined = fact.join(broadcast(dim), fact(factKey) === dim(dimKey), "left")
    val kept = fact.columns.map(fact(_)) ++ picked.map { case (c, out) =>
      defaults.get(out).map(d => coalesce(dim(c), d)).getOrElse(dim(c)).as(out)
    }
    joined.select(kept.toIndexedSeq: _*)
  }

  /** U1 — union all, schema-drift tolerant (spacex.js:16). */
  def unionAll(a: DataFrame, b: DataFrame): DataFrame =
    a.unionByName(b, allowMissingColumns = true)

  /** L1 — tail-N (spacex.js:40): the reference keeps the LAST 150 rows of
    * source (chronological) order. Spark has no stable row order, so the
    * implicit order becomes an explicit sort key + deterministic tiebreak. */
  def tailN(df: DataFrame, orderCol: String, tieCol: String, n: Int): DataFrame =
    df.orderBy(col(orderCol).desc, col(tieCol).desc).limit(n)

  /** L2/L3 — head-N for display, made deterministic with an explicit key. */
  def headN(df: DataFrame, orderCol: String, n: Int): DataFrame =
    df.orderBy(col(orderCol)).limit(n)

  /** Upsert / merge-by-key (the lake-table MERGE pattern): rows from
    * `updates` replace same-key rows in `current`; unmatched keys flow
    * through from both sides. Executed as union + top-1-per-key through
    * the [[graft.plans.TopKPerKey]] heap operator — one shuffle on the
    * key, no per-partition sort, which is exactly the compaction shape a
    * daily 100 TB merge needs (requires TopKPerKeyStrategy on the
    * session; pass `ties` as a total order for determinism). */
  def upsert(current: DataFrame, updates: DataFrame,
             key: String, ties: Seq[String] = Seq.empty): DataFrame = {
    val ver = "__graft_upsert_v"
    require(!current.columns.contains(ver) && !updates.columns.contains(ver),
      s"column $ver is reserved by upsert")
    val versioned = current.withColumn(ver, lit(0))
      .unionByName(updates.withColumn(ver, lit(1)))
    graft.plans.TopKPerKey(versioned,
      keys = Seq(key),
      order = (ver -> false) +: ties.map(_ -> true),
      k = 1).drop(ver)
  }

  /** Skew-resistant equi-join: spread each hot key over `salts` sub-keys on
    * the (large, possibly skewed) fact side and replicate the dimension once
    * per salt, so one hot key occupies `salts` shuffle partitions instead of
    * one straggler. AQE's skew-join handles moderate skew automatically;
    * this is the explicit tool for pathological keys at 100 TB.
    * Semantically identical to `fact.join(dim, factKey === dimKey, "inner")`. */
  def saltedJoin(fact: DataFrame, dim: DataFrame,
                 factKey: String, dimKey: String, salts: Int = 8): DataFrame = {
    val saltedFact = fact.withColumn("_salt",
      pmod(xxhash64(monotonically_increasing_id()), lit(salts)).cast("int"))
    val saltedDim = dim.withColumn("_salt",
      explode(sequence(lit(0), lit(salts - 1))))
    saltedFact
      .join(saltedDim,
        saltedFact(factKey) === saltedDim(dimKey) &&
          saltedFact("_salt") === saltedDim("_salt"))
      .drop("_salt")
  }

  /** C15/A5 support — dense stable ingest order over an explicit sort key
    * (monotonically_increasing_id is non-contiguous and partition-dependent,
    * so parity with the oracle needs row_number semantics over a real
    * ordering). NOT `row_number().over(Window.orderBy(...))`: an
    * unpartitioned window is a single-partition global sort — one task owns
    * every row, the classic scale-killer. Instead:
    *
    *   1. range-repartition on the key (partitions are globally ordered,
    *      equal keys land in one partition),
    *   2. per-partition counts → cumulative start offsets (a window over
    *      ONE ROW PER PARTITION — metadata, not data),
    *   3. per-partition `row_number` (parallel: each window group is one
    *      partition) + broadcast-joined offset.
    *
    * The range exchange is materialized once (`localCheckpoint`) so the
    * count pass and the numbering pass see identical partitioning —
    * RangePartitioner samples its bounds, so two independent evaluations
    * are not guaranteed to split identically.
    *
    * Ties on `orderCol` get an arbitrary (but stable within the
    * materialized run) order, exactly like the window formulation it
    * replaces — pass a unique key for full determinism. */
  def withIngestOrder(df: DataFrame, orderCol: String): DataFrame = {
    require(!df.columns.contains("_pid"),
      "column _pid is reserved by withIngestOrder")
    val ranged = df.repartitionByRange(col(orderCol))
      .withColumn("_pid", spark_partition_id())
      .localCheckpoint()
    // one count per partition — numPartitions rows of metadata (same class
    // as an IVF codebook), never the data itself
    val counts = ranged.groupBy(col("_pid")).agg(count(lit(1)).as("_cnt"))
      .collect().map(r => r.getInt(0) -> r.getLong(1)).sortBy(_._1)
    val offsets = counts.map(_._1)
      .zip(counts.scanLeft(0L)(_ + _._2).dropRight(1)).toMap
    ranged
      .withColumn("ingest_order",
        (row_number().over(Window.partitionBy(col("_pid")).orderBy(col(orderCol)))
          + element_at(typedlit(offsets), col("_pid"))).cast("int"))
      .drop("_pid")
  }
}
