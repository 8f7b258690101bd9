package graft.operators

import graft.functions._
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{Column, DataFrame}

/** Multi-dimensional data layout: Z-order (Morton) clustering.
  *
  * Bucketing and range partitioning cluster ONE key; a table queried by two
  * independent selective dimensions (e.g. customer × date needle queries at
  * 100 TB) wants file-level min/max pruning on BOTH. Sorting by the
  * interleaved-bit Morton value places rows that are close in EITHER
  * dimension into the same files, so each file's per-column min/max
  * footer stats span a small rectangle of the key space instead of a full
  * stripe — the scan planner can then drop most files for a predicate on
  * either column (the DeltaLake/Iceberg `ZORDER BY` story, done with plain
  * Spark primitives: rank → bit interleave → range partition + sort).
  *
  * Everything is expression-level (codegen'd shifts/masks); the only
  * shuffles are the two rank windows and the final range exchange — the
  * same costs any global sort pays.
  */
object Layout {

  /** Morton value: interleave the low `bits` bits of two non-negative
    * columns (a even positions, b odd). 16+16 bits fits a signed long. */
  def zValue(a: Column, b: Column, bits: Int = 16): Column =
    (0 until bits).map { i =>
      (shiftright(a, i).bitwiseAND(1).cast("long") * lit(1L << (2 * i))) +
        (shiftright(b, i).bitwiseAND(1).cast("long") * lit(1L << (2 * i + 1)))
    }.reduce(_ + _)

  /** Rewrite `df` in Z-order on two numeric/temporal columns: each column
    * is reduced to a `bits`-bit bin by MONOTONE min–max scaling (the
    * global min/max pair is one tiny aggregate — metadata, like a
    * codebook; no global rank window, no single-partition stage), the
    * Morton value of the two bins is computed per row inside codegen, and
    * the frame is range-partitioned + sorted by it. Row content is
    * untouched (oracle: identity); the LAYOUT is the product.
    *
    * Min–max binning is distribution-sensitive: heavy skew crowds rows
    * into few bins and weakens (never breaks) the clustering. The upgrade
    * path at scale is approximate-quantile boundaries
    * (`percentile_approx`) in place of the linear scale — any monotone
    * binning preserves correctness. */
  def zorderBy(df: DataFrame, c1: String, c2: String, bits: Int = 8): DataFrame = {
    require(!df.columns.exists(Set("_b1", "_b2", "_z")),
      "columns _b1/_b2/_z are reserved by zorderBy")
    val n = (1L << bits) - 1
    val statsRow = df.agg(
      min(col(c1).cast("double")), max(col(c1).cast("double")),
      min(col(c2).cast("double")), max(col(c2).cast("double"))).head()
    // empty input or an all-null clustering column: nothing to lay out
    // (both columns checked — min(c1) can exist while min(c2) is null)
    if ((0 until 4).exists(statsRow.isNullAt)) return df
    val Array(lo1, hi1, lo2, hi2) =
      (0 until 4).map(statsRow.getDouble).toArray
    def bin(c: String, lo: Double, hi: Double): Column =
      if (hi <= lo) lit(0L)
      else least(floor((col(c).cast("double") - lit(lo)) / lit(hi - lo) * n), lit(n))
        .cast("long")
    val z = df
      .withColumn("_b1", bin(c1, lo1, hi1))
      .withColumn("_b2", bin(c2, lo2, hi2))
      .withColumn("_z", zValue(col("_b1"), col("_b2"), bits))
    z.repartitionByRange(col("_z"))
      .sortWithinPartitions(col("_z"))
      .drop("_b1", "_b2", "_z")
  }

  /** Small-file compaction planner: assign each data file to an output
    * bin so consecutive files pack ~`targetBytes` per bin, planned AS A
    * QUERY over the table's file manifest (`part`, `file_id`, `bytes`).
    * At 100 TB a manifest is millions of rows — the plan must be a
    * dataframe computation, not a driver loop over a file listing. Files
    * bin in (partition, file_id) order by running byte sum:
    * `bin = floor(bytes_before_this_file / targetBytes)` — the classic
    * sorted running-sum packing (each bin lands in [target, target+max
    * file); a rewrite job then merges each bin with one task). The window
    * partitions by the table partition, so files NEVER merge across
    * partition boundaries (compaction must preserve partition pruning),
    * and no stage is a global sort. */
  def compactionPlan(manifest: DataFrame, targetBytes: Long): DataFrame = {
    require(targetBytes > 0, "targetBytes must be positive")
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("part")).orderBy(col("file_id"))
    manifest
      .withColumn("_cum_before", sum(col("bytes")).over(w) - col("bytes"))
      .select(col("part"), col("file_id"), col("bytes"),
        floor(col("_cum_before").cast("double") / targetBytes)
          .cast("long").as("bin"))
  }

  /** Zone-map (file-footer min/max) statistics for a simulated file
    * layout, plus the scan verdict of a range predicate against them —
    * the data-skipping arithmetic every lakehouse reader runs before
    * touching a byte. Rows are laid out in `(orderCol, tieCol)` order and
    * cut into `rowsPerFile` files; each file's min/max of `statCol` is
    * its zone map; a file is `scanned` iff its [min, max] overlaps
    * [lo, hi]. Running it twice — once ordered by the predicate column,
    * once in natural order — quantifies exactly what clustering buys:
    * the clustered layout scans O(selectivity) of the files, the natural
    * one scans nearly all of them.
    *
    * Scale shape: the global ordering is WRITE-time work (COST.md rule 2 —
    * a range-partitioned sort paid once per rewrite, exactly like
    * [[zorderBy]]); the fixture-sized `row_number` stands in for the
    * range partitioner's file cut. The zone-map table itself is
    * files-sized (corpus/rowsPerFile), and predicate evaluation against
    * it is the planner-side metadata scan — that metadata table being
    * small IS the operator's point. */
  def zoneMapStats(df: DataFrame, orderCol: Column, tieCol: Column,
                   statCol: Column, rowsPerFile: Int, layoutName: String,
                   lo: Double, hi: Double): DataFrame = {
    require(rowsPerFile > 0, s"rowsPerFile must be positive, got $rowsPerFile")
    require(lo <= hi, s"empty predicate range [$lo, $hi]")
    import org.apache.spark.sql.expressions.Window
    val w = Window.orderBy(col("_o").asc, col("_t").asc)
    df.select(statCol.cast("double").as("_s"), orderCol.as("_o"), tieCol.as("_t"))
      .withColumn("file_id",
        floor((row_number().over(w) - 1) / lit(rowsPerFile.toDouble)).cast("long"))
      .groupBy(col("file_id"))
      .agg(count(lit(1)).as("n_rows"),
        min(col("_s")).as("min_stat"), max(col("_s")).as("max_stat"))
      .select(lit(layoutName).as("layout"), col("file_id"), col("n_rows"),
        col("min_stat"), col("max_stat"),
        (col("max_stat") >= lo && col("min_stat") <= hi).as("scanned"))
  }

  /** Per-file Bloom-filter skipping index — the EQUALITY-predicate
    * companion to [[zoneMapStats]]: a zone map prunes range predicates on
    * the layout's sort key, but a point lookup on an UNCLUSTERED key
    * (customer id in a price-sorted table) matches every file's min/max.
    * A per-file Bloom of that key (k deterministic md5 hash positions in
    * an m-bit space — the parquet `bloom_filter` footer story) lets the
    * planner skip any file whose filter cannot contain the probe.
    *
    * Per simulated file (same row_number/rowsPerFile layout contract as
    * zoneMapStats): row and distinct-key counts, the Bloom's set-bit
    * cardinality, and for a fixed probe set both the Bloom verdict
    * ("might contain any probe") and ground truth ("does contain") —
    * zero false negatives by construction (spec-pinned), false
    * positives bounded by the fill ratio.
    *
    * Shape: the bit table is id-only ((file, bit) pairs, ≤ m per file
    * after dedup) and the probe side is a constant-sized literal set, so
    * every join past the window is metadata work; at 100 TB file ids
    * come from the real manifest and the same frame shapes hold. */
  def bloomSkipStats(df: DataFrame, keyCol: Column, orderCol: Column,
                     rowsPerFile: Int, bits: Int, hashes: Int,
                     probes: Seq[Long]): DataFrame = {
    require(rowsPerFile > 0, s"rowsPerFile must be positive, got $rowsPerFile")
    require(bits > 0 && hashes > 0, s"need positive bits/hashes")
    require(probes.nonEmpty, "need at least one probe key")
    import org.apache.spark.sql.expressions.Window
    val w = Window.orderBy(col("_o").asc)
    def bitOf(j: Int, c: Column): Column =
      graft.operators.Sampling.hashBucket(
        concat(lit(s"bf$j:"), c.cast("string")), bits)
    val files = df.select(keyCol.cast("long").as("k"), orderCol.as("_o"))
      .withColumn("file_id",
        floor((row_number().over(w) - 1) / lit(rowsPerFile.toDouble)).cast("long"))
    // the per-file key dictionary feeds both the bit table and the stats
    // fold — checkpoint it so the layout window runs once (at real scale
    // this materialization IS the per-file key dictionary the index
    // builder writes, typically orders of magnitude below row count)
    val fileKeys = files.groupBy(col("file_id"), col("k"))
      .agg(count(lit(1)).as("cnt"))
      .localCheckpoint()
    val fb = fileKeys.select(col("file_id"),
      explode(array((0 until hashes).map(j => bitOf(j, col("k"))): _*)).as("bit"))
      .distinct()
      .localCheckpoint()
    val spark = df.sparkSession
    import spark.implicits._
    val pr = probes.toDF("p")
    val pb = pr.select(col("p"),
      explode(array((0 until hashes).map(j => bitOf(j, col("p"))): _*)).as("bit"))
      .distinct()
    val need = pb.groupBy(col("p")).agg(count(lit(1)).as("need"))
    val pass = fb.join(broadcast(pb), "bit")
      .groupBy(col("file_id"), col("p")).agg(count(lit(1)).as("got"))
      .join(broadcast(need), "p").filter(col("got") === col("need"))
    val np = pass.groupBy(col("file_id")).agg(count(lit(1)).as("n_probe_pass"))
    val bs = fb.groupBy(col("file_id")).agg(count(lit(1)).as("bits_set"))
    // ground truth folds into the stats pass via literal membership —
    // no extra corpus-deriving join
    fileKeys.groupBy(col("file_id"))
      .agg(sum(col("cnt")).cast("long").as("n_rows"),
        count(lit(1)).as("n_keys"),
        sum(when(col("k").isin(probes: _*), 1L).otherwise(0L))
          .as("n_probe_true"))
      .join(bs, Seq("file_id"), "left")
      .join(np, Seq("file_id"), "left")
      .select(col("file_id"), col("n_rows"), col("n_keys"),
        coalesce(col("bits_set"), lit(0L)).as("bits_set"),
        coalesce(col("n_probe_pass"), lit(0L)).as("n_probe_pass"),
        coalesce(col("n_probe_true"), lit(0L)).as("n_probe_true"),
        (coalesce(col("n_probe_pass"), lit(0L)) > 0).as("scanned_bloom"),
        (coalesce(col("n_probe_true"), lit(0L)) > 0).as("scanned_true"))
  }

  /** Clustering diagnostic: per output-partition min/max extent of a
    * column, as a fraction of its global extent — the stand-in for file
    * footer min/max stats. Mean extent ≈ 1/√P for a z-ordered 2-dim
    * layout vs ≈ 1 for an unclustered one. */
  private[graft] def meanExtent(df: DataFrame, c: String): Double = {
    val parts = df
      .select(spark_partition_id().as("p"), col(c).cast("double").as("v"))
      .groupBy(col("p")).agg(min("v").as("lo"), max("v").as("hi"))
    val row = parts
      .agg(avg(col("hi") - col("lo")).as("mean_span"),
        (max("hi") - min("lo")).as("global"))
      .head()
    require(!row.isNullAt(0) && !row.isNullAt(1),
      s"meanExtent($c): no non-null values to measure")
    val (span, global) = (row.getDouble(0), row.getDouble(1))
    // constant column: every partition trivially spans the (zero-width)
    // global extent — report 1 (unclustered), not NaN
    if (global == 0.0) 1.0 else span / global
  }

  /** Join-key skew audit: the one-row distribution profile of rows-per-key
    * that decides, BEFORE a 100 TB join runs, whether it needs salting —
    * key count, row count, max and mean rows/key, skew ratio (max/mean),
    * the row share held by the `topK` hottest keys, and the salt factor a
    * salted join would need (`ceil(max_cnt / targetRowsPerKey)`, the fan-out
    * [[graft.Queries]]' j8 applies). AQE's skew handling fixes one join at
    * runtime; this audit is the planning-time signal that persists into the
    * layout decision (bucket count, salt, broadcast).
    *
    * Shape: one count aggregation keyed on the join key, a top-K
    * TakeOrdered over it (K rows to the driver-side plan, like any top-k),
    * and a 1-row moment aggregate — the audit never shuffles data rows,
    * only (key, count) pairs. All outputs are exact integers or
    * fixed-formula rounded doubles; top-K ties cannot disturb the SUM of
    * the K largest counts, so the oracle hash-matches. */
  def joinKeySkewAudit(df: DataFrame, keyCol: String, topK: Int = 10,
                       targetRowsPerKey: Long = 1000L): DataFrame = {
    val counts = df.groupBy(col(keyCol).as("k")).agg(count(lit(1)).as("cnt"))
    val totals = counts.agg(
      count(lit(1)).as("n_keys"),
      sum(col("cnt")).as("n_rows"),
      max(col("cnt")).as("max_cnt"))
    // orderBy+limit plans as TakeOrderedAndProject: per-partition top-K
    // then a K-row merge — no single-partition window over all keys
    val top = counts.orderBy(col("cnt").desc, col("k").asc).limit(topK)
      .agg(sum(col("cnt")).as("top_cnt"))
    val avg = col("n_rows").cast("double") / col("n_keys").cast("double")
    totals.crossJoin(top).select(
      col("n_keys"), col("n_rows"), col("max_cnt"),
      portableRound(avg, 4).as("mean_cnt"),
      portableRound(col("max_cnt").cast("double") / avg, 4).as("skew_ratio"),
      portableRound(col("top_cnt").cast("double") / col("n_rows").cast("double"), 6)
        .as(s"top${topK}_share"),
      ceil(col("max_cnt").cast("double") / targetRowsPerKey).cast("long")
        .as("salt_factor"))
  }
}
