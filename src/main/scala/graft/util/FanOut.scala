package graft.util

import org.apache.spark.sql.DataFrame

/** Scan-parallelism floor for compute-heavy per-row pipelines (guide §2.5
  * "input skew" / §6 input-split sizing): a parquet fixture small enough to
  * be a single row group scans as ONE task, so an expensive map-side
  * projection over it (per-span md5, shingle explosion, banded edit
  * distance) runs on one core however many the session has — `Tool profile`
  * measured d12 at 11 tasks / 5 s of task time ≈ its whole wall.
  *
  * `scanParallel` round-robin-repartitions the frame to the session's
  * default parallelism ONLY when its planned scan has fewer partitions —
  * the small-input case. At scale the input's own split count exceeds the
  * core count and this is the identity (no exchange added to a 100 TB
  * scan); locally it trades one sub-MB shuffle for a ~cores× speedup of
  * the heavy projection. Results are unaffected by construction: every
  * downstream operator in this engine is partitioning-independent
  * (grid-rounded doubles, exact decimal/integer folds, order-free
  * aggregates) — the property the oracle gate pins at every SF.
  *
  * Deliberately NOT applied inside shared operators that the bench's
  * code-untouched canaries (q1, t7, d4) flow through — call sites are the
  * non-canary queries' own constructors.
  *
  * PRECONDITION (ADVICE r15): pass a RAW SCAN (read.parquet + column
  * projection at most). The `df.rdd.getNumPartitions` probe is
  * metadata-only FOR EXCHANGE-FREE PLANS; with AQE enabled, `.rdd` on a
  * plan containing an exchange materializes query stages and runs real
  * jobs. Every call site in this repo probes a bare table scan. */
object FanOut {
  def scanParallel(df: DataFrame): DataFrame = {
    val spark = df.sparkSession
    val target = spark.sparkContext.defaultParallelism
    // physical-plan partition count: metadata only for exchange-free scans
    // (the only supported input — see scaladoc)
    if (df.rdd.getNumPartitions < target) df.repartition(target) else df
  }
}
