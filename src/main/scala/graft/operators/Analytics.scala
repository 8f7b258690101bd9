package graft.operators

import graft.functions._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{Column, DataFrame}

/** Product/ops analytics over the event stream and fact tables: retention
  * cohorts, date-spine gap fill, trailing-window anomaly flags, equi-width
  * histograms and exact moment-based correlation profiles.
  *
  * Float determinism: every statistic that feeds a comparison or a flag is
  * computed from EXACT integer/decimal aggregates first (order-independent
  * under any partitioning or AQE re-plan) and only then converted to double
  * with the same textual formula the DuckDB oracle uses, so both engines
  * round identical values.
  */
object Analytics {

  /** Weekly retention cohorts: users grouped by the week of their first
    * event; for each (cohort_week, week_offset) the number of distinct
    * cohort members active that week — the grid behind every retention
    * curve dashboard.
    *
    * Shape: one aggregation keyed on user_id (first-event week), one join
    * back on user_id (AQE reuses the hash partitioning), then a count
    * distinct on the cohort grid — partial aggregation handles the
    * (cohort, offset, user) dedup map-side. No windows, no self-join; at
    * 100 TB every exchange carries ids + 2 small ints. */
  def retentionCohorts(events: DataFrame): DataFrame = {
    val firsts = events.groupBy(col("user_id"))
      .agg(date_trunc("week", min(col("ts"))).as("cohort_week"))
    val activity = events
      .select(col("user_id"), date_trunc("week", col("ts")).as("w"))
      .join(firsts, "user_id")
      // both sides are Monday-midnight truncations, so the day delta is an
      // exact multiple of 7 in any engine
      .withColumn("week_offset",
        (datediff(col("w"), col("cohort_week")) / 7).cast("long"))
    activity.groupBy(col("cohort_week"), col("week_offset"))
      .agg(count_distinct(col("user_id")).as("n_active"))
      .select(date_format(col("cohort_week"), "yyyy-MM-dd").as("cohort_week"),
        col("week_offset"), col("n_active"))
  }

  /** Cohort LTV curves — [[retentionCohorts]]'s revenue twin: users grouped
    * by first-seen week; for each (cohort_week, week_offset) the week's
    * purchase revenue, the cumulative revenue-to-date, and the number of
    * distinct purchasers — the payback-curve grid next to every retention
    * dashboard. Offsets with no purchases emit nothing (the grid is
    * sparse, like the retention grid); the CUMULATIVE column still jumps
    * correctly because the running sum orders by offset within the cohort.
    *
    * Shape: one agg keyed on user (first week), one join back on user_id,
    * one (cohort, offset) aggregation — cent-exact longs end to end, the
    * running sum is a cohort-partitioned window over the tiny grid, and
    * the only doubles are final ÷100 displays. */
  def cohortLtv(events: DataFrame): DataFrame = {
    val firsts = events.groupBy(col("user_id"))
      .agg(date_trunc("week", min(col("ts"))).as("cohort_week"))
    val wk = events
      .filter(col("event_type") === "purchase")
      .select(col("user_id"), date_trunc("week", col("ts")).as("w"),
        (col("value").cast("decimal(18,2)") * 100).cast("long").as("cents"))
      .join(firsts, "user_id")
      .withColumn("week_offset",
        (datediff(col("w"), col("cohort_week")) / 7).cast("long"))
      .groupBy(col("cohort_week"), col("week_offset"))
      .agg(sum(col("cents")).as("wc"),
        count_distinct(col("user_id")).as("n_purchasers"))
    val cum = Window.partitionBy(col("cohort_week")).orderBy(col("week_offset"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    wk.withColumn("cc", sum(col("wc")).over(cum))
      .select(date_format(col("cohort_week"), "yyyy-MM-dd").as("cohort_week"),
        col("week_offset"),
        (col("wc").cast("double") / 100).as("week_revenue"),
        (col("cc").cast("double") / 100).as("cum_revenue"),
        col("n_purchasers"))
  }

  /** Daily per-type activity on a continuous date spine: missing days
    * appear with zero counts, and `last_seen_value` carries the most
    * recent real daily total forward (LOCF). The spine is built in-DAG
    * from a 1-row min/max aggregate (broadcast) — no driver collect.
    *
    * Scale note: the LOCF window partitions by event_type only, so one
    * partition holds the full day range of a type. That is the right
    * plan here because the window input is the ALREADY-AGGREGATED daily
    * grid (|types| × |days| rows, metadata-sized at any corpus scale) —
    * never raw events. A LOCF over raw-event-sized data would instead be
    * segmented (per-month carry + boundary join, see SCALE.md). */
  private[graft] def gapFillDaily(events: DataFrame): DataFrame = {
    val daily = events.groupBy(col("event_type"), to_date(col("ts")).as("day"))
      .agg(count(lit(1)).as("n_events"), decSum(col("value")).as("day_value"))
    // bounds and the type list derive from the ALREADY-AGGREGATED daily
    // grid, not from a second/third pass over raw events — at 100 TB each
    // avoided raw pass is a full-table scan
    val bounds = daily.agg(min(col("day")).as("d0"), max(col("day")).as("d1"))
    val spine = daily.select(col("event_type")).distinct()
      .crossJoin(broadcast(bounds))
      .select(col("event_type"), explode(sequence(col("d0"), col("d1"))).as("day"))
    val locf = Window.partitionBy(col("event_type")).orderBy(col("day"))
      .rowsBetween(Window.unboundedPreceding, 0)
    spine.join(daily, Seq("event_type", "day"), "left")
      .withColumn("last_seen_value",
        coalesce(last(col("day_value"), ignoreNulls = true).over(locf), lit(0.0)))
      .select(col("event_type"), date_format(col("day"), "yyyy-MM-dd").as("day"),
        coalesce(col("n_events"), lit(0L)).as("n_events"),
        coalesce(col("day_value"), lit(0.0)).as("sum_value"),
        col("last_seen_value"))
  }

  /** Segment-join LOCF gap fill — the scale form of [[gapFillDaily]],
    * identical output. The dense form's LOCF window runs over the FILLED
    * spine, so one partition holds a key's whole day RANGE: a key with two
    * events ten years apart costs a 3,650-row single-partition window.
    * Here the window runs over the sparse OBSERVATIONS only (per-key cost
    * = active days, data-sized): `lead(day)` closes each observation's
    * segment `[day, next_day)`, and `explode(sequence(...))` materializes
    * the gap days WITH their carried value in ordinary scan shape — fully
    * parallel, no span-sized partition anywhere. The leading gap (before a
    * key's first observation) generates from the first observation row.
    * SCALE.md's "segmented per month + boundary join" note, realized. */
  def gapFillDailySegmented(events: DataFrame): DataFrame = {
    val daily = events.groupBy(col("event_type"), to_date(col("ts")).as("day"))
      .agg(count(lit(1)).as("n_events"), decSum(col("value")).as("day_value"))
    val bounds = daily.agg(min(col("day")).as("d0"), max(col("day")).as("d1"))
    val w = Window.partitionBy(col("event_type")).orderBy(col("day"))
    val seg = daily.crossJoin(broadcast(bounds))
      .withColumn("seg_end",
        coalesce(date_sub(lead(col("day"), 1).over(w), 1), col("d1")))
      .withColumn("rn", row_number().over(w))
    val filled = seg.select(col("event_type"), col("day").as("obs_day"),
        col("n_events"), col("day_value"),
        explode(sequence(col("day"), col("seg_end"))).as("day"))
      .select(col("event_type"), col("day"),
        when(col("day") === col("obs_day"), col("n_events"))
          .otherwise(lit(0L)).as("n_events"),
        when(col("day") === col("obs_day"), col("day_value"))
          .otherwise(lit(0.0)).as("sum_value"),
        col("day_value").as("last_seen_value"))
    val leading = seg.filter(col("rn") === 1 && col("day") > col("d0"))
      .select(col("event_type"),
        explode(sequence(col("d0"), date_sub(col("day"), 1))).as("day"),
        lit(0L).as("n_events"), lit(0.0).as("sum_value"),
        lit(0.0).as("last_seen_value"))
    filled.unionByName(leading)
      .select(col("event_type"), date_format(col("day"), "yyyy-MM-dd").as("day"),
        col("n_events"), col("sum_value"), col("last_seen_value"))
  }

  /** Trailing-window z-score anomaly flags over daily per-type totals.
    * Each day is scored against the mean/stddev of its own trailing
    * `trailing`-day window (inclusive). The window aggregates are exact
    * integer sums of cents (Σv, Σv² as decimals), so mean/variance are
    * bit-identical under any evaluation order; the z-score is then one
    * fixed double formula, rounded before the threshold compare so the
    * flag cannot flip on a low-bit difference.
    *
    * The window input is the daily grid (small at any scale); the raw
    * event reduction to that grid is the usual map-side-combinable sum. */
  def dailyAnomalies(events: DataFrame, trailing: Int = 7,
                     zThreshold: Double = 2.0): DataFrame = {
    val daily = events.groupBy(col("event_type"), to_date(col("ts")).as("day"))
      .agg((sum(col("value").cast("decimal(18,2)")) * 100).cast("long").as("cents"))
    // RANGE frame over epoch days, not a ROWS frame: for a sparse event
    // type, rows-based trailing-N would silently include arbitrarily old
    // days in the baseline; the day-valued range genuinely ages them out
    val w = Window.partitionBy(col("event_type"))
      .orderBy(datediff(col("day"), lit("1970-01-01").cast("date")).cast("long"))
      .rangeBetween(-(trailing - 1).toLong, Window.currentRow)
    val c = col("cents").cast("decimal(19,0)")
    val stats = daily
      .withColumn("n", count(lit(1)).over(w))
      .withColumn("s1", sum(c).over(w))
      .withColumn("s2", sum(c * c).over(w))
    val nD = col("n").cast("double")
    val s1D = col("s1").cast("double")
    val s2D = col("s2").cast("double")
    val mean = s1D / nD
    val variance = (s2D - s1D * s1D / nD) / (nD - 1)
    val z = (col("cents").cast("double") - mean) / sqrt(variance)
    stats
      .withColumn("zr", when(col("n") > 1 && variance > 0,
        portableRound(z, 4)).otherwise(lit(0.0)))
      .select(col("event_type"), date_format(col("day"), "yyyy-MM-dd").as("day"),
        (col("cents").cast("double") / 100).as("day_value"),
        col("zr").as("z_score"),
        (abs(col("zr")) > zThreshold).as("is_anomaly"))
  }

  /** [[dailyAnomalies]]'s SEASONAL twin: each day scores against the
    * trailing same-WEEKDAY baseline (this Monday vs the previous `weeks−1`
    * Mondays) instead of the previous 7 calendar days — the shape that
    * separates "weekends are always low" from a genuinely anomalous
    * weekend. The weekday key is `epoch_day mod 7` (engine-portable; both
    * engines agree on epoch-day arithmetic where locale-dependent
    * DAYOFWEEK would drift), and the day-valued RANGE frame ages sparse
    * keys out exactly like the batch anom1 frame. Same exact-cents +
    * fixed-formula discipline, so the oracle hash-matches. */
  def dailyAnomaliesSeasonal(events: DataFrame, weeks: Int = 4,
                             zThreshold: Double = 2.0): DataFrame = {
    val daily = events.groupBy(col("event_type"), to_date(col("ts")).as("day"))
      .agg((sum(col("value").cast("decimal(18,2)")) * 100).cast("long").as("cents"))
      .withColumn("eday",
        datediff(col("day"), lit("1970-01-01").cast("date")).cast("long"))
      .withColumn("dow", pmod(col("eday"), lit(7L)))
    val w = Window.partitionBy(col("event_type"), col("dow"))
      .orderBy(col("eday"))
      .rangeBetween(-(7L * (weeks - 1)), Window.currentRow)
    val c = col("cents").cast("decimal(19,0)")
    val stats = daily
      .withColumn("n", count(lit(1)).over(w))
      .withColumn("s1", sum(c).over(w))
      .withColumn("s2", sum(c * c).over(w))
    val nD = col("n").cast("double")
    val s1D = col("s1").cast("double")
    val s2D = col("s2").cast("double")
    val mean = s1D / nD
    val variance = (s2D - s1D * s1D / nD) / (nD - 1)
    val z = (col("cents").cast("double") - mean) / sqrt(variance)
    stats
      .withColumn("zr", when(col("n") > 1 && variance > 0,
        portableRound(z, 4)).otherwise(lit(0.0)))
      .select(col("event_type"), date_format(col("day"), "yyyy-MM-dd").as("day"),
        col("dow"),
        (col("cents").cast("double") / 100).as("day_value"),
        col("zr").as("z_score"),
        (abs(col("zr")) > zThreshold).as("is_anomaly"))
  }

  /** Robust (median/MAD) anomaly flags — [[dailyAnomalies]]'s
    * outlier-resistant twin: each day's modified z-score is
    * `0.6745·(x − median)/MAD` (Iglewicz–Hoaglin), flagged above 3.5. A
    * mean/stddev baseline suffers MASKING — one huge spike inflates σ
    * enough to hide itself and its neighbors; median and MAD have a 50%
    * breakdown point, so half the days can be corrupt before the fence
    * moves. Exact interpolated percentiles on integer cents (the q7
    * cross-engine anchor), two tiny per-type codebook joins, and the flag
    * compares the ROUNDED score, so both engines agree by construction. */
  def robustDailyAnomalies(events: DataFrame, threshold: Double = 3.5): DataFrame = {
    val daily = events.groupBy(col("event_type"), to_date(col("ts")).as("day"))
      .agg((sum(col("value").cast("decimal(18,2)")) * 100).cast("long").as("cents"))
    val med = daily.groupBy(col("event_type"))
      .agg(percentile(col("cents"), lit(0.5)).as("med"))
    val dev = daily.join(med, "event_type")
      .withColumn("dev", abs(col("cents").cast("double") - col("med")))
    val mad = dev.groupBy(col("event_type"))
      .agg(percentile(col("dev"), lit(0.5)).as("mad"))
    dev.join(mad, "event_type")
      .withColumn("rz", when(col("mad") > 0,
        portableRound(lit(0.6745) * (col("cents").cast("double") - col("med"))
          / col("mad"), 4)).otherwise(lit(0.0)))
      .select(col("event_type"), date_format(col("day"), "yyyy-MM-dd").as("day"),
        (col("cents").cast("double") / 100).as("day_value"),
        col("rz").as("robust_z"),
        (abs(col("rz")) > threshold).as("is_anomaly"))
  }

  /** Time-to-convert distribution by start weekday: for each user, the
    * delay from first `from` event to the first `to` event AFTER it
    * (funnel stage semantics), summarized per weekday-of-start as
    * conversion rate and exact p50/p90 delay hours — the "do weekend
    * starters convert slower?" readout next to funnel1's counts.
    *
    * Delays are integer micros (exact), percentiles are the q7
    * cross-engine interpolated-percentile anchor over those integers,
    * and the weekday key is epoch-day mod 7 (engine-portable). Shape:
    * two user-keyed aggregations + one 7-row rollup; only ids and
    * timestamps shuffle. */
  def timeToConvert(events: DataFrame, from: String = "view",
                    to: String = "purchase"): DataFrame = {
    val s1 = events.filter(col("event_type") === from)
      .groupBy(col("user_id")).agg(min(col("ts")).as("t1"))
    val conv = events.filter(col("event_type") === to)
      .join(s1, "user_id").filter(col("ts") > col("t1"))
      .groupBy(col("user_id")).agg(min(col("ts")).as("t2"))
    val j = s1.join(conv, Seq("user_id"), "left")
      .select(
        pmod(datediff(to_date(col("t1")), lit("1970-01-01").cast("date"))
          .cast("long"), lit(7L)).as("dow"),
        when(col("t2").isNotNull,
          unix_micros(col("t2")) - unix_micros(col("t1"))).as("delta_us"))
    timeToConvertGrid(j)
  }

  /** The 7-row weekday rollup over a per-user `(dow, delta_us)` frame
    * (`delta_us` null for non-converters) — split out so the streaming
    * twin (st14) aggregates its exactly-once per-user cells through the
    * IDENTICAL plan: percentile interpolation, rounding, and zero-guard
    * are shared by construction, which is what makes the stream/batch
    * hash parity a statement about the stateful operator alone. */
  def timeToConvertGrid(perUser: DataFrame): DataFrame =
    perUser.groupBy(col("dow"))
      .agg(count(lit(1)).as("n_started"),
        count(col("delta_us")).as("n_converted"),
        percentile(col("delta_us"), lit(0.5)).as("p50"),
        percentile(col("delta_us"), lit(0.9)).as("p90"))
      .select(col("dow"), col("n_started"), col("n_converted"),
        portableRound(col("n_converted").cast("double")
          / col("n_started").cast("double"), 4).as("cvr"),
        when(col("n_converted") > 0,
          portableRound(col("p50") / 3600000000.0, 4)).otherwise(0.0)
          .as("p50_hours"),
        when(col("n_converted") > 0,
          portableRound(col("p90") / 3600000000.0, 4)).otherwise(0.0)
          .as("p90_hours"))

  /** Equi-width histogram of a numeric column: `bins` buckets between the
    * observed min and max (max lands in the last bucket). Bounds come from
    * a 1-row aggregate broadcast back over the scan — two passes over the
    * data, zero driver-side state, and the binning pass is a map-side
    * combinable count. The bin expression keeps one fixed operation order
    * so both engines floor identical doubles. */
  def equiWidthHistogram(df: DataFrame, value: Column, bins: Int): DataFrame = {
    require(bins > 0, s"bins must be positive, got $bins")
    val bounds = df.agg(min(value).as("mn"), max(value).as("mx"))
    val bin = when(col("mx") === col("mn"), lit(0L)).otherwise(
      least(floor((col("v") - col("mn")) * bins / (col("mx") - col("mn"))),
        lit(bins - 1L)).cast("long"))
    df.select(value.as("v")).crossJoin(broadcast(bounds))
      .withColumn("bin", bin)
      .groupBy(col("bin"), col("mn"), col("mx"))
      .agg(count(lit(1)).as("n"))
      .select(col("bin"),
        portableRound(col("mn") + col("bin") * (col("mx") - col("mn")) / bins, 2).as("bin_lo"),
        portableRound(col("mn") + (col("bin") + 1) * (col("mx") - col("mn")) / bins, 2).as("bin_hi"),
        col("n"))
  }

  /** Equi-DEPTH histogram: `bins` buckets holding ~equal row counts,
    * bounded by exact percentile fences. Same two-pass scalar-broadcast
    * shape as [[equiWidthHistogram]] (fences from ONE aggregate, binning
    * as one map-side count); at 100 TB the exact percentile swaps for
    * the `percentile_approx` sketch, q7-style. Bucket of a value = how
    * many fences it exceeds, so bucket edges are closed on the left. */
  def equiDepthHistogram(df: DataFrame, value: Column, bins: Int): DataFrame = {
    require(bins >= 2, s"bins must be >= 2, got $bins")
    val fenceCols = (1 until bins).map(i =>
      portableRound(percentile(value, lit(i.toDouble / bins)), 4).as(s"f$i"))
    val fences = df.agg(fenceCols.head, fenceCols.tail: _*)
    val bin = (1 until bins).map(i => (col("v") > col(s"f$i")).cast("int"))
      .reduce(_ + _).cast("long")
    df.select(value.as("v")).crossJoin(broadcast(fences))
      .withColumn("bin", bin)
      .groupBy(col("bin"))
      .agg(count(lit(1)).as("n"), min(col("v")).as("lo"), max(col("v")).as("hi"))
  }

  /** Per-group bivariate profile — n, means, sample variances/stddevs,
    * covariance and Pearson correlation — from ONE pass of exact decimal
    * raw moments (Σx, Σy, Σx², Σy², Σxy at 2-decimal input scale).
    *
    * Spark's built-in `corr`/`covar_samp` merge co-moments in partition
    * order, which perturbs low bits under AQE; raw decimal moments are
    * order-independent, and the final double formulas are fixed, so the
    * rounded statistics are reproducible — and the aggregation is still a
    * single map-side-combinable pass. */
  def numericProfile(df: DataFrame, group: Column, x: Column, y: Column): DataFrame = {
    val xd = x.cast("decimal(18,2)")
    val yd = y.cast("decimal(18,2)")
    val m = df.groupBy(group.as("grp")).agg(
      count(lit(1)).as("n"),
      sum(xd).as("sx"), sum(yd).as("sy"),
      sum(xd * xd).as("sxx"), sum(yd * yd).as("syy"), sum(xd * yd).as("sxy"))
    val nD = col("n").cast("double")
    val sx = col("sx").cast("double"); val sy = col("sy").cast("double")
    val sxx = col("sxx").cast("double"); val syy = col("syy").cast("double")
    val sxy = col("sxy").cast("double")
    val varX = (sxx - sx * sx / nD) / (nD - 1)
    val varY = (syy - sy * sy / nD) / (nD - 1)
    val cov = (sxy - sx * sy / nD) / (nD - 1)
    val corr = (nD * sxy - sx * sy) /
      (sqrt(nD * sxx - sx * sx) * sqrt(nD * syy - sy * sy))
    m.select(col("grp"), col("n"),
      portableRound(sx / nD, 4).as("mean_x"),
      portableRound(sy / nD, 4).as("mean_y"),
      portableRound(varX, 4).as("var_x"),
      portableRound(varY, 4).as("var_y"),
      portableRound(cov, 4).as("covar"),
      portableRound(corr, 6).as("corr"))
  }

  /** First-order Markov transition matrix over each user's event path:
    * count of (event_type → next event_type) steps in timestamp order,
    * with the per-source transition probability.
    *
    * Shape: one `lead` window per user (bounded per-user state — the
    * sessionize shape, safe at any user count), one count aggregation on
    * the (from, to) pair, and the probability normalization is a window
    * over the |types|² transition matrix — metadata-sized whatever the
    * event volume. */
  def pathTransitions(events: DataFrame): DataFrame = {
    val byUser = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("event_id")) // event_id breaks ts ties
    val steps = events
      .select(col("user_id"), col("ts"), col("event_id"), col("event_type"))
      .withColumn("to_type", lead(col("event_type"), 1).over(byUser))
      .filter(col("to_type").isNotNull)
    val counts = steps
      .groupBy(col("event_type").as("from_type"), col("to_type"))
      .agg(count(lit(1)).as("n"))
    val perFrom = Window.partitionBy(col("from_type"))
    counts.withColumn("p",
      portableRound(col("n").cast("double") / sum(col("n")).over(perFrom), 6))
  }

  /** Daily new-user counts with the cumulative acquisition curve. The
    * first-seen reduction is the only data-sized aggregation; the
    * cumulative sum runs over the daily frame (≤ |days| rows), where an
    * unpartitioned window is metadata-class, not a global data sort —
    * the same codebook-size argument as tok1's dictionary window. */
  def newUsersCurve(events: DataFrame): DataFrame = {
    val firsts = events.groupBy(col("user_id")).agg(to_date(min(col("ts"))).as("day"))
    val daily = firsts.groupBy(col("day")).agg(count(lit(1)).as("n_new"))
    val cum = Window.orderBy(col("day"))
      .rowsBetween(Window.unboundedPreceding, 0)
    daily.withColumn("cum_users", sum(col("n_new")).over(cum))
      .select(date_format(col("day"), "yyyy-MM-dd").as("day"),
        col("n_new"), col("cum_users"))
  }

  /** Fixed-length CONSECUTIVE event-pattern matching per user — the
    * MATCH_RECOGNIZE shape Spark lacks natively, composed from chained
    * `lead`s over the per-user event order: a row matches when its next
    * `pattern.length − 1` events (no gaps allowed) complete the pattern.
    * Same bounded-per-user window state as sessionization; the pattern
    * length is a plan-time constant, so the match is one projection. */
  def sequenceMatch(events: DataFrame, pattern: Seq[String]): DataFrame = {
    require(pattern.size >= 2, "pattern needs at least 2 steps")
    val byUser = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("event_id"))
    val withNexts = pattern.indices.tail.foldLeft(
      events.select(col("user_id"), col("ts"), col("event_id"), col("event_type"))) {
      (df, i) => df.withColumn(s"_n$i", lead(col("event_type"), i).over(byUser))
    }
    val matches = pattern.indices.tail.foldLeft(
      withNexts.filter(col("event_type") === pattern.head)) { (df, i) =>
      df.filter(col(s"_n$i") === pattern(i))
    }
    matches.select(col("user_id"), col("event_id").as("start_event_id"),
      date_format(col("ts"), "yyyy-MM-dd HH:mm:ss").as("start_ts"))
  }

  /** Rolling `days`-day distinct active users per day (the WAU/MAU curve),
    * EXACT: each (user, active-day) pair is expanded to the `days` window
    * end-dates it supports, then one distinct-count per end-date. That is
    * the standard exact formulation — the shuffle carries id-width rows
    * × `days`, nothing heavier, and sliding windows never re-scan raw
    * events. At 100 TB the sketch twin (per-day HLL sketches merged over
    * the trailing window, hll1's machinery) answers the same question in
    * |days| × 4 KB per group; the exact form here is the oracle-checkable
    * semantics both share (q7/q7_approx pattern). */
  def rollingActiveUsers(events: DataFrame, days: Int = 7): DataFrame = {
    require(days >= 1, s"days must be >= 1: $days")
    val ud = events.select(col("user_id"), to_date(col("ts")).as("day")).distinct()
    // data end from the already-reduced (user, day) frame — no second raw pass
    val bounds = ud.agg(max(col("day")).as("dmax"))
    ud.select(col("user_id"),
        explode(sequence(col("day"), date_add(col("day"), days - 1))).as("w_day"))
      .crossJoin(broadcast(bounds))
      .filter(col("w_day") <= col("dmax")) // windows past the data end are partial lies
      .groupBy(col("w_day"))
      .agg(count_distinct(col("user_id")).as("n_active"))
      .select(date_format(col("w_day"), "yyyy-MM-dd").as("day"), col("n_active"))
  }

  /** [[rollingActiveUsers]]'s sketch form — the shape that survives 100 TB:
    * ONE pass builds a fixed-size HLL blob per (day), and each rolling
    * window is a union of its trailing `days` blobs (KB-sized merges over
    * the |days|-row daily frame), so window width changes the number of
    * blob merges, never the data touched. The exact form re-deduplicates a
    * (user, day)×window explosion — id-width rows, but still |events'|×7
    * shuffle mass; here the post-scan mass is |days|×~1.5 KB. Estimates
    * carry HLL's σ≈1.04/√2^lgK (~1.6% at lgK=12), gated by roll2 against
    * the exact twin. */
  def rollingActiveUsersApprox(events: DataFrame, days: Int = 7,
                               lgK: Int = 12): DataFrame = {
    require(days >= 1, s"days must be >= 1: $days")
    val daily = events.select(col("user_id"), to_date(col("ts")).as("day"))
      .groupBy(col("day"))
      .agg(hll_sketch_agg(col("user_id"), lit(lgK)).as("sk"))
    val bounds = daily.agg(max(col("day")).as("dmax"))
    daily.select(col("sk"),
        explode(sequence(col("day"), date_add(col("day"), days - 1))).as("w_day"))
      .crossJoin(broadcast(bounds))
      .filter(col("w_day") <= col("dmax"))
      .groupBy(col("w_day"))
      .agg(hll_sketch_estimate(hll_union_agg(col("sk"), lit(false)))
        .as("approx_active"))
      .select(date_format(col("w_day"), "yyyy-MM-dd").as("day"),
        col("approx_active"))
  }

  /** RFM (recency / frequency / monetary) customer segmentation with
    * quartile scores from PERCENTILE FENCES, not a global ntile: the three
    * exact quartile boundaries come from one 1-row aggregate (broadcast
    * in-DAG, t11's fence pattern), and each user's score is a pure
    * projection against them — no global sort of the user universe, which
    * is what an ntile(4) window would cost at 100 TB (swap the exact
    * percentile for the approx sketch there, exactly as q7 documents).
    * Scores run 1–4 (4 best); fences are portably rounded so both engines
    * compare the same boundary. */
  def rfmSegments(events: DataFrame): DataFrame = {
    val per = events.groupBy(col("user_id")).agg(
      to_date(max(col("ts"))).as("last_day"),
      count(lit(1)).as("frequency"),
      coalesce(decSum(when(col("event_type") === "purchase", col("value"))),
        lit(0.0)).as("monetary"))
    // reference day from the per-user frame (max of per-user maxes = the
    // corpus max) — no second raw-events pass
    val ref = per.agg(max(col("last_day")).as("ref_day"))
    val scored = per.crossJoin(broadcast(ref))
      .withColumn("recency_days",
        datediff(col("ref_day"), col("last_day")).cast("long"))
    val fences = scored.agg(
      portableRound(percentile(col("recency_days"), lit(0.25)), 4).as("r25"),
      portableRound(percentile(col("recency_days"), lit(0.5)), 4).as("r50"),
      portableRound(percentile(col("recency_days"), lit(0.75)), 4).as("r75"),
      portableRound(percentile(col("frequency"), lit(0.25)), 4).as("f25"),
      portableRound(percentile(col("frequency"), lit(0.5)), 4).as("f50"),
      portableRound(percentile(col("frequency"), lit(0.75)), 4).as("f75"),
      portableRound(percentile(col("monetary"), lit(0.25)), 4).as("m25"),
      portableRound(percentile(col("monetary"), lit(0.5)), 4).as("m50"),
      portableRound(percentile(col("monetary"), lit(0.75)), 4).as("m75"))
    def up(c: Column, lo: Column, mid: Column, hi: Column): Column =
      (lit(1) + (c > lo).cast("int") + (c > mid).cast("int") + (c > hi).cast("int"))
    def down(c: Column, lo: Column, mid: Column, hi: Column): Column =
      (lit(1) + (c < hi).cast("int") + (c < mid).cast("int") + (c < lo).cast("int"))
    val withScores = scored.crossJoin(broadcast(fences))
      .withColumn("r_score", down(col("recency_days"), col("r25"), col("r50"), col("r75")))
      .withColumn("f_score", up(col("frequency"), col("f25"), col("f50"), col("f75")))
      .withColumn("m_score", up(col("monetary"), col("m25"), col("m50"), col("m75")))
    withScores.select(col("user_id"), col("recency_days"), col("frequency"),
      col("monetary"), col("r_score"), col("f_score"), col("m_score"),
      when(col("r_score") >= 3 && col("f_score") >= 3 && col("m_score") >= 3, "champion")
        .when(col("r_score") >= 3 && col("f_score") >= 3, "loyal")
        .when(col("r_score") >= 3, "recent")
        .when(col("f_score") >= 3 || col("m_score") >= 3, "at_risk")
        .otherwise("hibernating").as("segment"))
  }

  /** A/B experiment readout: variants assigned by the deterministic
    * md5-bucket split (a user's arm never changes — [[Sampling]]'s
    * reproducibility contract), outcome = did the user ever purchase,
    * result = one row with per-arm counts, rates and the two-proportion
    * pooled z-statistic. All inputs to the z formula are exact integer
    * counts, so the statistic is reproducible to the rounded digit. */
  def abTest(events: DataFrame): DataFrame = {
    // outcome: lifetime purchase value above 500 (exact decimal sum, so
    // the boundary compare can't flip on float accumulation order)
    val users = events.groupBy(col("user_id")).agg(
      (coalesce(sum(when(col("event_type") === "purchase", col("value"))
        .cast("decimal(18,2)")), lit(0)) > 500).cast("int").as("converted"))
    val assigned = users.withColumn("variant",
      when(Sampling.hashBucket(col("user_id")) < 5000, "A").otherwise("B"))
    val m = assigned.agg(
      sum(when(col("variant") === "A", 1).otherwise(0)).as("n_a"),
      sum(when(col("variant") === "A", col("converted")).otherwise(0)).as("conv_a"),
      sum(when(col("variant") === "B", 1).otherwise(0)).as("n_b"),
      sum(when(col("variant") === "B", col("converted")).otherwise(0)).as("conv_b"))
    val na = col("n_a").cast("double"); val nb = col("n_b").cast("double")
    val pa = col("conv_a").cast("double") / na
    val pb = col("conv_b").cast("double") / nb
    val pooled = (col("conv_a") + col("conv_b")).cast("double") / (na + nb)
    val z = (pa - pb) / sqrt(pooled * (lit(1.0) - pooled) * (lit(1.0) / na + lit(1.0) / nb))
    m.select(col("n_a"), col("conv_a"), col("n_b"), col("conv_b"),
      when(col("n_a") > 0, portableRound(pa, 6)).otherwise(lit(0.0)).as("rate_a"),
      when(col("n_b") > 0, portableRound(pb, 6)).otherwise(lit(0.0)).as("rate_b"),
      // empty arms or degenerate pooled rates (0%/100%) have no sampling
      // variance — report z = 0 instead of dividing by zero
      when(col("n_a") > 0 && col("n_b") > 0 && pooled > 0 && pooled < 1,
        portableRound(z, 4)).otherwise(lit(0.0)).as("z_score"))
  }

  /** Two-sample Kolmogorov–Smirnov statistic over purchase values across
    * the SAME deterministic A/B arms as [[abTest]]: D = sup_v
    * |F_A(v) − F_B(v)|, the distribution-free companion to the binned
    * drift readouts (psi1 sees only mass-per-bin; KS certifies the
    * largest CDF gap at full value resolution, plus WHERE it opens).
    *
    * Exactness: values snap to cents, so each sample is an integer
    * multiset and |F_A − F_B| at grid point v equals
    * |cum_A·n_B − cum_B·n_A| / (n_A·n_B) — maximized as an exact
    * decimal(38,0) integer BEFORE the one terminal division, so
    * accumulation order, AQE re-plans, and float ties cannot move the
    * answer. Location ties break toward the smallest value.
    *
    * Shape: one groupBy(cents) rollup first — the frame is then bounded
    * by the price domain (cents resolution caps distinct rows regardless
    * of corpus size), and the cumulative window plus top-1 run on that
    * domain-sized frame, the same post-rollup-window discipline as
    * nu1/acf1. The top-1 is a TakeOrdered, never a full sort. */
  def ksTwoSample(events: DataFrame): DataFrame = {
    val p = events.filter(col("event_type") === "purchase")
      .withColumn("arm",
        when(Sampling.hashBucket(col("user_id")) < 5000, "A").otherwise("B"))
      .withColumn("cents", (col("value").cast("decimal(18,2)") * 100).cast("long"))
    // domain-sized after the rollup; checkpointed so the corpus pass runs
    // once for both consumers (cumulative grid + totals)
    val byV = p.groupBy(col("cents")).agg(
      sum(when(col("arm") === "A", 1L).otherwise(0L)).as("ka"),
      sum(when(col("arm") === "B", 1L).otherwise(0L)).as("kb"))
      .localCheckpoint()
    val w = Window.orderBy(col("cents"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val cum = byV.select(col("cents"),
      sum(col("ka")).over(w).as("ca"), sum(col("kb")).over(w).as("cb"))
    // totals fold from the grouped frame, not the base — one corpus pass
    val tot = byV.agg(
      sum(col("ka")).cast("decimal(19,0)").as("na"),
      sum(col("kb")).cast("decimal(19,0)").as("nb"))
    def d19(c: Column): Column = c.cast("decimal(19,0)")
    val gap = cum.crossJoin(broadcast(tot))
      .withColumn("gap", abs((d19(col("ca")) * col("nb") -
        d19(col("cb")) * col("na")).cast("decimal(38,0)")))
    gap.orderBy(col("gap").desc, col("cents").asc).limit(1)
      .select(col("na").cast("long").as("n_a"), col("nb").cast("long").as("n_b"),
        (col("cents").cast("double") / 100).as("at_value"),
        when(col("na") > 0 && col("nb") > 0,
          portableRound(col("gap").cast("double") /
            (col("na").cast("double") * col("nb").cast("double")), 6))
          .otherwise(lit(0.0)).as("d_stat"))
  }

  /** CUPED-adjusted A/B readout (Controlled-experiment Using Pre-Existing
    * Data): per user, purchase revenue splits into a PRE and POST period
    * at the time-range midpoint; θ = cov(pre, post)/var(pre) over all
    * users, and each variant's post-period mean is adjusted by
    * −θ·(pre_mean − global pre_mean) — the industry-standard variance
    * reduction that tightens experiment confidence intervals for free.
    *
    * One user-keyed aggregation + ONE 1-row moment aggregate; every moment
    * is an exact decimal of cent-longs (order-free under any layout), and
    * θ/means are fixed-formula doubles — the oracle replays them digit for
    * digit. The midpoint uses integer micros arithmetic (`div`, not float
    * division), so the pre/post boundary cannot flip between engines. */
  def cupedAbTest(events: DataFrame): DataFrame = {
    val cents = (col("value").cast("decimal(18,2)") * 100).cast("long")
    val e = events.select(col("user_id"), unix_micros(col("ts")).as("us"),
      col("event_type"), cents.as("cents"))
    val bounds = e.agg(min(col("us")).as("t0"), max(col("us")).as("t1"))
    val users = e.crossJoin(broadcast(bounds))
      .withColumn("mid", col("t0") + expr("(t1 - t0) div 2"))
      .groupBy(col("user_id"))
      .agg(
        coalesce(sum(when(col("event_type") === "purchase" && col("us") < col("mid"),
          col("cents"))), lit(0L)).as("x"),
        coalesce(sum(when(col("event_type") === "purchase" && col("us") >= col("mid"),
          col("cents"))), lit(0L)).as("y"))
      .withColumn("variant",
        when(Sampling.hashBucket(col("user_id")) < 5000, "A").otherwise("B"))
    def d19(c: Column): Column = c.cast("decimal(19,0)")
    val isA = col("variant") === "A"
    val m = users.agg(
      count(lit(1)).as("n"),
      sum(d19(col("x"))).as("sx"), sum(d19(col("y"))).as("sy"),
      sum(d19(col("x")) * d19(col("x"))).as("sxx"),
      sum(d19(col("x")) * d19(col("y"))).as("sxy"),
      sum(when(isA, 1L).otherwise(0L)).as("n_a"),
      sum(when(isA, d19(col("x"))).otherwise(lit(0L).cast("decimal(19,0)"))).as("sxa"),
      sum(when(isA, d19(col("y"))).otherwise(lit(0L).cast("decimal(19,0)"))).as("sya"),
      sum(when(!isA, 1L).otherwise(0L)).as("n_b"),
      sum(when(!isA, d19(col("x"))).otherwise(lit(0L).cast("decimal(19,0)"))).as("sxb"),
      sum(when(!isA, d19(col("y"))).otherwise(lit(0L).cast("decimal(19,0)"))).as("syb"))
    val nD = col("n").cast("double")
    val sxD = col("sx").cast("double"); val syD = col("sy").cast("double")
    val sxxD = col("sxx").cast("double"); val sxyD = col("sxy").cast("double")
    val varX = sxxD - sxD * sxD / nD
    val theta = (sxyD - sxD * syD / nD) / varX
    val xbar = sxD / nD
    def adj(sy: Column, sx: Column, nv: Column): Column = {
      val nvD = nv.cast("double")
      (sy.cast("double") / nvD - theta * (sx.cast("double") / nvD - xbar)) / 100
    }
    def raw(sy: Column, nv: Column): Column =
      sy.cast("double") / nv.cast("double") / 100
    m.select(col("n_a"), col("n_b"),
      when(col("n") > 1 && varX > 0, portableRound(theta, 6))
        .otherwise(lit(0.0)).as("theta"),
      when(col("n_a") > 0, portableRound(raw(col("sya"), col("n_a")), 4))
        .otherwise(lit(0.0)).as("raw_a"),
      when(col("n_b") > 0, portableRound(raw(col("syb"), col("n_b")), 4))
        .otherwise(lit(0.0)).as("raw_b"),
      when(col("n_a") > 0 && col("n") > 1 && varX > 0,
        portableRound(adj(col("sya"), col("sxa"), col("n_a")), 4))
        .otherwise(lit(0.0)).as("adj_a"),
      when(col("n_b") > 0 && col("n") > 1 && varX > 0,
        portableRound(adj(col("syb"), col("sxb"), col("n_b")), 4))
        .otherwise(lit(0.0)).as("adj_b"))
  }

  /** Lorenz decile table of per-customer revenue — the concentration
    * curve behind [[graft.Queries.gini1Concentration]]'s coefficient:
    * customers sorted by spend, cut into ten EXACT positional deciles,
    * each reporting its customer count, revenue, share and cumulative
    * share ("the top decile holds 31% of revenue").
    *
    * Global ranks come from a DISTRIBUTED two-phase sort, not a global
    * window (gini1's row_number partitions by nation; this operator
    * needs a corpus-wide total order): per-customer totals collapse to a
    * run-length-encoded value domain (cents → count), each distinct
    * value lands in one of `buckets` order-preserving integer range
    * buckets, a window over the ≤`buckets`-row summary yields each
    * bucket's global rank offset, and a window PARTITIONED by bucket
    * finishes inside it. No operator ever sees the whole domain in one
    * partition, so the plan survives a value domain as large as the
    * customer count.
    *
    * Exactness: decile d covers ranks (d−1)·n div 10 + 1 .. d·n div 10;
    * an RLE group [c0+1, c0+cnt] splits across boundary deciles exactly
    * because every member holds the same value (members-in-decile is a
    * min/max of integer rank bounds, revenue is value × that count).
    * Shares snap to the 1e-6 grid only at the end. */
  /** Distributed two-phase global rank over a long-valued column: the
    * input collapses to a run-length-encoded value domain, each distinct
    * value lands in one of `buckets` ORDER-PRESERVING integer range
    * buckets (integral `div` — both engines truncate identically), a
    * window over the ≤`buckets`-row summary carries each bucket's global
    * rank offset, and a window PARTITIONED by bucket finishes inside it.
    * Returns one row per distinct value: (value, cnt, c0, n) with ranks
    * c0+1..c0+cnt — exact, and no operator ever holds the whole domain
    * in one partition. The RLE frame feeds three consumers, so its
    * lineage is cut once (or the plan re-scans the input per use).
    * Shared by [[lorenzCurve]] (positional deciles) and
    * [[conformalInterval]] (positional quantile). */
  private[operators] def rankedRle(df: DataFrame, valueCol: String,
                                   buckets: Int): DataFrame = {
    require(buckets >= 1 && buckets <= 65536, s"buckets out of range: $buckets")
    val rle = df.groupBy(col(valueCol).as("value"))
      .agg(count(lit(1)).as("cnt")).localCheckpoint()
    // Stats-adaptive width: any ORDER-PRESERVING bucketing yields the
    // identical output (c0 is the exact global rank regardless of which
    // bucket a value routed through), so the checkpointed RLE frame's
    // distinct count — free after materialization — widens the bucket
    // grid until each bucket partition holds ~≤4096 distinct values
    // (65536-cap: beyond ~2^28 distinct values partitions grow again at
    // nd/65536, still window-safe at any realistic domain). A NEAR-UNIQUE
    // value domain (per-customer cent totals at real scale: RLE gives no
    // compression) is therefore bounded by design, not by the caller
    // guessing `buckets` right. Oracle SQL keeps its fixed-1024 grid —
    // outputs agree because the ranks, not the buckets, are the contract.
    // exchange-free probe of the checkpointed RLE frame (LoopConf.rowsOf:
    // per-partition counts fold at the driver) — DataFrame.count() ran a
    // full partial+final aggregate job per rank build (rho1 pays this
    // twice, conf1/mw1/lorenz1/trim1 once each)
    val nd = graft.util.LoopConf.rowsOf(rle)
    val eff = math.max(buckets.toLong, math.min(65536L, nd / 4096L + 1L))
    val mm = rle.agg(min(col("value")).as("vmin"),
      max(col("value")).as("vmax"), sum(col("cnt")).as("n"))
    // bucket via a Long-safe step (span div eff + 1): the direct form
    // (value - vmin) * eff div (span + 1) overflows Long once
    // span × eff exceeds 2^63 (eff at the 65536 cap → any span above
    // ~1.4e14 scrambles bucket order — conformalInterval's micro-cent
    // residuals sit ~1e13, little headroom). The step form never leaves
    // the value's own domain and is equally order-preserving.
    val b = rle.crossJoin(broadcast(mm))
      .withColumn("bkt", expr(
        s"(value - vmin) div ((vmax - vmin) div $eff + 1)"))
    val wB = Window.orderBy(col("bkt"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val off = b.groupBy(col("bkt")).agg(sum(col("cnt")).as("bc"))
      .withColumn("before_b", coalesce(sum(col("bc")).over(wB), lit(0L)))
      .select(col("bkt"), col("before_b"))
    val wIn = Window.partitionBy(col("bkt")).orderBy(col("value"))
      .rowsBetween(Window.unboundedPreceding, -1)
    b.join(broadcast(off), Seq("bkt"))
      .withColumn("c0",
        col("before_b") + coalesce(sum(col("cnt")).over(wIn), lit(0L)))
      .select(col("value"), col("cnt"), col("c0"), col("n"))
  }

  def lorenzCurve(orders: DataFrame, buckets: Int = 1024): DataFrame = {
    val users = orders.groupBy(col("o_custkey"))
      .agg((sum(col("o_totalprice").cast("decimal(18,2)")) * 100)
        .cast("long").as("cents"))
    val rr = rankedRle(users, "cents", buckets)
    val tm = rr.agg(
      sum(col("value").cast("decimal(38,0)") * col("cnt")).as("tot"))
    val ranked = rr.withColumnRenamed("value", "cents")
      .crossJoin(broadcast(tm))
    // a group spans deciles dlo..dhi (each group explodes to ≤10 rows);
    // members in decile d = overlap of [c0+1, c0+cnt] with the decile's
    // exact positional rank range. Decile d covers ranks
    // (d−1)·n div 10 + 1 .. d·n div 10, so the decile OF rank r is the
    // smallest d with d·n div 10 ≥ r, i.e. ⌈10r/n⌉ = (10r + n − 1) div n
    // — CEILING division, consistent with the member-overlap bounds
    // below for every n (floor division over-assigned boundary ranks to
    // the previous decile whenever n is not a multiple of 10, silently
    // dropping them from the overlap sum).
    val spread = ranked
      .withColumn("decile", explode(sequence(
        expr("(10 * (c0 + 1) + n - 1) div n"),
        expr("(10 * (c0 + cnt) + n - 1) div n"))))
      .withColumn("members", greatest(lit(0L),
        least(col("c0") + col("cnt"), expr("decile * n div 10")) -
          greatest(col("c0"), expr("(decile - 1) * n div 10"))))
    val byDecile = spread.groupBy(col("decile"))
      .agg(sum(col("members")).as("customers"),
        sum(col("cents").cast("decimal(38,0)") * col("members")).as("rev"),
        first(col("tot")).as("tot"))
    val wCum = Window.orderBy(col("decile"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    def r6(c: Column) = portableRound(c, 6)
    byDecile
      .withColumn("cum_rev", sum(col("rev")).over(wCum))
      .select(col("decile"), col("customers"),
        col("rev").cast("long").as("rev_cents"),
        when(col("tot") > 0, r6(col("rev").cast("double")
          / col("tot").cast("double"))).otherwise(0.0).as("rev_share"),
        when(col("tot") > 0, r6(col("cum_rev").cast("double")
          / col("tot").cast("double"))).otherwise(0.0).as("cum_share"))
      .orderBy(col("decile"))
  }

  /** Pareto skyline of the part catalog — every part no other part
    * dominates (cheaper-or-equal AND bigger-or-equal, strictly better in
    * at least one): the multi-objective "best offers" operator
    * (Börzsönyi et al. 2001) that no single ORDER BY can express.
    * Minimizes price, maximizes size; ties on BOTH dimensions co-exist
    * (neither dominates).
    *
    * NOT the textbook O(n²) self-join: only the max size at each price
    * can survive, and among those per-price maxima a pair survives iff
    * its size strictly exceeds every size at any strictly cheaper price
    * — an EXCLUSIVE prefix max over the price-sorted domain. That prefix
    * max is assembled with the [[rankedRle]] bucketing idiom
    * (order-preserving range buckets, a ≤1024-row bucket summary carries
    * cross-bucket maxima, the per-price window partitions BY BUCKET), so
    * no global-order window and no pair generation exist anywhere in
    * the plan. Surviving (price, size) pairs re-join the catalog once to
    * emit the actual rows — the skyline is at most |size domain| pairs,
    * so AQE broadcasts it.
    *
    * All comparisons are exact integers (price in cents); the output is
    * a row subset, so cross-engine agreement needs no grids at all. */
  def skyline(part: DataFrame, buckets: Int = 1024): DataFrame = {
    require(buckets >= 1 && buckets <= 65536, s"buckets out of range: $buckets")
    val base = part.select(col("p_partkey"),
      (col("p_retailprice").cast("decimal(18,2)") * 100).cast("long")
        .as("price_cents"),
      col("p_size").cast("long").as("size"))
    val perPrice = base.groupBy(col("price_cents"))
      .agg(max(col("size")).as("msize")).localCheckpoint()
    val mm = perPrice.agg(min(col("price_cents")).as("vmin"),
      max(col("price_cents")).as("vmax"))
    // Long-safe step form (see rankedRle): the multiply form overflows
    // once span × buckets exceeds 2^63; equally order-preserving, and
    // any order-preserving bucketing leaves the staircase unchanged.
    val b = perPrice.crossJoin(broadcast(mm))
      .withColumn("bkt", expr(
        s"(price_cents - vmin) div ((vmax - vmin) div $buckets + 1)"))
    val wB = Window.orderBy(col("bkt"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val off = b.groupBy(col("bkt")).agg(max(col("msize")).as("bmax"))
      .withColumn("pre_b", max(col("bmax")).over(wB))
      .select(col("bkt"), col("pre_b"))
    val wIn = Window.partitionBy(col("bkt")).orderBy(col("price_cents"))
      .rowsBetween(Window.unboundedPreceding, -1)
    // exclusive prefix max = max(cross-bucket, within-bucket); both are
    // NULL at the cheapest price, where survival is unconditional —
    // coalesce each side separately so the engines' NULL semantics in
    // greatest() never enter the comparison
    val floorL = lit(Long.MinValue)
    val stair = b.join(broadcast(off), Seq("bkt"))
      .withColumn("pre_in", max(col("msize")).over(wIn))
      .filter(col("msize") > greatest(coalesce(col("pre_b"), floorL),
        coalesce(col("pre_in"), floorL)))
      .select(col("price_cents"), col("msize").as("size"))
    base.join(stair, Seq("price_cents", "size"))
      .select(col("p_partkey"), col("price_cents"), col("size"))
      .orderBy(col("price_cents"), col("p_partkey"))
  }

  /** Split-conformal prediction interval (Vovk et al.; Lei et al. 2018)
    * around [[ridgeNormalEq]]'s price model — the distribution-free
    * uncertainty leg of the ML-eval family (ml2 calibrates
    * probabilities; this calibrates a REGRESSOR's error): train the
    * ridge on a deterministic 60% split, take the ⌈(m+1)(1−α)⌉-th
    * smallest absolute residual on the 20% calibration split as q̂, and
    * audit the guaranteed ≥1−α coverage on the held-out 20%.
    *
    * Exactness: the model's grid-rounded coefficients become BIGINT
    * micro-cent units, so every residual |y·10⁶ − (b0m + b1m·q +
    * b2m·d)| is an exact integer; the calibration quantile is a
    * POSITIONAL order statistic selected from [[rankedRle]]'s exact
    * distributed ranks (no percentile interpolation, no global window),
    * and coverage is an exact count ratio on the 1e-6 grid. A
    * calibration split too small for the quantile (k > m) reports the
    * infinite interval: q̂ NULL, coverage 1.
    *
    * Shape: one 9-moment train fold (1-row), one calib residual scan →
    * domain-RLE rank, one eval residual scan → 1-row count — three
    * corpus passes, nothing wider than a broadcast anywhere. */
  def conformalInterval(lineitem: DataFrame, lambda: Double = 1000.0,
                        alpha: Double = 0.1,
                        buckets: Int = 1024): DataFrame = {
    require(lambda >= 0, s"lambda must be >= 0, got $lambda")
    require(alpha > 0 && alpha < 1, s"alpha must be in (0, 1), got $alpha")
    val pm = ((1 - alpha) * 1000).round // permille, keeps k integral
    val base = lineitem.select(
      col("l_quantity").cast("decimal(18,0)").cast("long").as("q"),
      (col("l_discount").cast("decimal(18,2)") * 100).cast("long").as("d"),
      (col("l_extendedprice").cast("decimal(18,2)") * 100).cast("long").as("y"),
      Sampling.hashBucket(concat(col("l_orderkey").cast("string"), lit(":"),
        col("l_linenumber").cast("string"))).as("hb"))
      .localCheckpoint() // three split consumers, one corpus materialize
    val train = base.filter(col("hb") < 6000)
    val calib = base.filter(col("hb") >= 6000 && col("hb") < 8000)
    val hold = base.filter(col("hb") >= 8000)
    def d19(c: Column): Column = c.cast("decimal(19,0)")
    def p38(a: Column, b: Column): Column = (d19(a) * d19(b)).cast("decimal(38,0)")
    val m = train.agg(
      count(lit(1)).as("n_train"),
      sum(d19(col("q"))).as("sx1"), sum(d19(col("d"))).as("sx2"),
      sum(d19(col("y"))).as("sy"),
      sum(p38(col("q"), col("q"))).as("sx11"),
      sum(p38(col("q"), col("d"))).as("sx12"),
      sum(p38(col("d"), col("d"))).as("sx22"),
      sum(p38(col("q"), col("y"))).as("sx1y"),
      sum(p38(col("d"), col("y"))).as("sx2y"))
    val a11 = col("n_train").cast("double")
    val a12 = col("sx1").cast("double"); val a13 = col("sx2").cast("double")
    val a22 = col("sx11").cast("double") + lit(lambda)
    val a23 = col("sx12").cast("double")
    val a33 = col("sx22").cast("double") + lit(lambda)
    val b1 = col("sy").cast("double"); val b2 = col("sx1y").cast("double")
    val b3 = col("sx2y").cast("double")
    val dA = a11 * (a22 * a33 - a23 * a23) - a12 * (a12 * a33 - a23 * a13) +
      a13 * (a12 * a23 - a22 * a13)
    val d0 = b1 * (a22 * a33 - a23 * a23) - a12 * (b2 * a33 - a23 * b3) +
      a13 * (b2 * a23 - a22 * b3)
    val d1 = a11 * (b2 * a33 - a23 * b3) - b1 * (a12 * a33 - a23 * a13) +
      a13 * (a12 * b3 - b2 * a13)
    val d2 = a11 * (a22 * b3 - b2 * a23) - a12 * (a12 * b3 - b2 * a13) +
      b1 * (a12 * a23 - a22 * a13)
    // grid-snap the cents coefficients to BIGINT micro-cents: residuals
    // downstream are exact integer arithmetic in both engines
    def micro(c: Column) = floor(c * 1000000.0 + 0.5).cast("long")
    val ok = col("dA") =!= 0.0
    val betas = m.withColumn("dA", dA)
      .select(col("n_train"),
        when(ok, micro(d0 / col("dA"))).otherwise(0L).as("b0m"),
        when(ok, micro(d1 / col("dA"))).otherwise(0L).as("b1m"),
        when(ok, micro(d2 / col("dA"))).otherwise(0L).as("b2m"))
    def resid(df: DataFrame) = df.crossJoin(broadcast(betas))
      .select(col("n_train"), abs(col("y") * lit(1000000L) -
        (col("b0m") + col("b1m") * col("q") + col("b2m") * col("d")))
        .as("r"))
    val rr = rankedRle(resid(calib), "r", buckets).localCheckpoint()
    // q̂ = the k-th smallest calib residual, k = ⌈(m+1)·pm/1000⌉ — the
    // RLE group whose rank range contains k; NULL (infinite interval)
    // when k > m, e.g. a calibration split too small for the level
    val k = expr(s"((n + 1) * $pm + 999) div 1000")
    val ncal = rr.agg(coalesce(max(col("n")), lit(0L)).as("n_calib"))
    val qh = rr.filter(col("c0") < k && k <= col("c0") + col("cnt"))
      .agg(max(col("value")).as("qhat_micro"))
      .crossJoin(broadcast(ncal))
    val ev = resid(hold).crossJoin(broadcast(qh))
      .agg(first(col("n_train")).as("n_train"),
        first(col("n_calib")).as("n_calib"),
        count(lit(1)).as("n_eval"),
        sum(when(col("qhat_micro").isNull ||
          col("r") <= col("qhat_micro"), 1L).otherwise(0L)).as("covered"),
        first(col("qhat_micro")).as("qhat_micro"))
    ev.select(col("n_train"), col("n_calib"), col("n_eval"),
      portableRound(col("qhat_micro").cast("double") / 1e8, 6)
        .as("qhat_dollars"),
      when(col("n_eval") > 0, portableRound(
        col("covered").cast("double") / col("n_eval").cast("double"), 6))
        .otherwise(1.0).as("coverage"))
  }

  /** Page's CUSUM control chart (Page 1954) over each event type's daily
    * revenue series: the SEQUENTIAL drift detector next to
    * [[meanShiftChangepoint]]'s retrospective argmax — the chart
    * accumulates above-mean (and below-mean) excess day by day and alarms
    * when the cumulative excess passes one mean day of revenue.
    *
    * Exactness: with x_i the day's cents, D the type's day count and T
    * its total, z_i = D·x_i − T is an exact integer deviation-from-mean
    * (scaled through D instead of dividing by it). The one-sided
    * recurrences S_i = max(0, S_{i−1} + z_i) and T_i = max(0, T_{i−1} −
    * z_i) are replaced by their prefix closed forms over P_i = Σ_{j≤i}
    * z_j (see inline proof sketch), so the whole chart is exact-integer
    * window arithmetic; the final mean-day-unit ratios snap to the 1e-6
    * grid and both engines agree digit for digit.
    *
    * Shape: one corpus-sized daily aggregation, then three windows over
    * the per-type calendar grid (a prefix sum, a prefix min, a prefix
    * max) — no sequential driver loop, no recursion, one pass at any
    * calendar length. */
  def cusumDrift(events: DataFrame): DataFrame = {
    val daily = events
      .groupBy(col("event_type"), to_date(col("ts")).as("day"))
      .agg((sum(col("value").cast("decimal(18,2)")) * 100)
        .cast("decimal(38,0)").as("cents"))
    val wAll = Window.partitionBy(col("event_type"))
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    val wPre = Window.partitionBy(col("event_type")).orderBy(col("day"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    // z_i = D·x_i − T: deviation from the per-type mean day, kept exact by
    // scaling through the day count instead of dividing by it
    val g = daily
      .withColumn("dd", count(lit(1)).over(wAll).cast("decimal(38,0)"))
      .withColumn("tt", sum(col("cents")).over(wAll))
      .withColumn("p", sum(col("dd") * col("cents") - col("tt")).over(wPre))
    // the recurrences S_i = max(0, S_{i-1} + z_i) and
    // T_i = max(0, T_{i-1} - z_i) have the prefix closed forms
    //   S_i = P_i - min(0, min_{j<=i} P_j),  T_i = max(0, max_{j<=i} P_j) - P_i
    // (induction on i) — two stacked windows instead of a sequential loop,
    // so the chart is one pass even on an unbounded calendar
    val up = col("p") - least(lit(0).cast("decimal(38,0)"),
      min(col("p")).over(wPre))
    val dn = greatest(lit(0).cast("decimal(38,0)"),
      max(col("p")).over(wPre)) - col("p")
    // report in mean-day units (S_real/mean = S'·...: S' is D·cents, the
    // mean day is T/D cents, so S'/T is the dimensionless multiple) on the
    // 1e-6 grid; alarm at one mean day of cumulative excess (ratio > 1)
    def ratio(c: Column) = when(col("tt") =!= 0,
      portableRound(c.cast("double") / col("tt").cast("double"), 6))
      .otherwise(lit(0.0))
    g.select(col("event_type"),
        date_format(col("day"), "yyyy-MM-dd").as("day"),
        col("cents").cast("long").as("cents"),
        ratio(up).as("cusum_up"), ratio(dn).as("cusum_dn"))
      .withColumn("alarm_up", col("cusum_up") > 1.0)
      .withColumn("alarm_dn", col("cusum_dn") > 1.0)
      .orderBy(col("event_type"), col("day"))
  }

  /** Warmup-calibrated CUSUM — [[cusumDrift]]'s deployable variant and
    * the batch twin of the st17 stream: the full-series mean is
    * retrospective knowledge a monitor cannot have, so here the FIRST
    * `warmDays` sealed days fix the reference mean (z_i = W·x_i − S_warm,
    * exact integers) and monitoring starts on day W+1; warmup days emit
    * flagged zero rows. Same prefix closed forms, same mean-day-unit
    * ratios on the 1e-6 grid, same alarm-at-1 contract — and the
    * streaming cells replay THIS fold digit for digit as the watermark
    * seals each day. */
  private[graft] def cusumWarmup(events: DataFrame, warmDays: Int = 10): DataFrame = {
    require(warmDays >= 1 && warmDays <= 10000,
      s"warmDays out of range: $warmDays")
    val daily = events
      .groupBy(col("event_type"), to_date(col("ts")).as("day"))
      .agg((sum(col("value").cast("decimal(18,2)")) * 100)
        .cast("long").as("cents"))
      .localCheckpoint() // two consumers: warm target + monitored rows
    val wOrd = Window.partitionBy(col("event_type")).orderBy(col("day"))
    val wPre = wOrd.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val g = daily.withColumn("rn", row_number().over(wOrd))
    val warm = g.filter(col("rn") <= warmDays)
      .groupBy(col("event_type")).agg(sum(col("cents")).as("ws"))
    val mon = g.filter(col("rn") > warmDays)
      .join(warm, Seq("event_type")) // rn > W guarantees W warm days exist
      .withColumn("p",
        sum(lit(warmDays.toLong) * col("cents") - col("ws")).over(wPre))
      .withColumn("up", col("p") - least(lit(0L), min(col("p")).over(wPre)))
      .withColumn("dn", greatest(lit(0L), max(col("p")).over(wPre)) - col("p"))
    def ratio(c: Column) = when(col("ws") =!= 0,
      portableRound(c.cast("double") / col("ws").cast("double"), 6))
      .otherwise(lit(0.0))
    val monitored = mon.select(col("event_type"),
      date_format(col("day"), "yyyy-MM-dd").as("day"),
      (col("cents").cast("double") / 100).as("revenue"),
      ratio(col("up")).as("cusum_up"), ratio(col("dn")).as("cusum_dn"))
      .withColumn("alarm_up", col("cusum_up") > 1.0)
      .withColumn("alarm_dn", col("cusum_dn") > 1.0)
      .withColumn("is_warmup", lit(false))
    val warmRows = g.filter(col("rn") <= warmDays)
      .select(col("event_type"),
        date_format(col("day"), "yyyy-MM-dd").as("day"),
        (col("cents").cast("double") / 100).as("revenue"),
        lit(0.0).as("cusum_up"), lit(0.0).as("cusum_dn"),
        lit(false).as("alarm_up"), lit(false).as("alarm_dn"),
        lit(true).as("is_warmup"))
    warmRows.unionByName(monitored)
      .orderBy(col("event_type"), col("day"))
  }

  /** Single mean-shift changepoint per event-type daily series (binary
    * segmentation's first split): for every candidate split after day i,
    * the statistic `|mean_left − mean_right| · sqrt(i·(n−i)/n)` — the
    * CUSUM-equivalent normalization that doesn't reward splitting off one
    * wild day — and the argmax split wins. The day reported is the LAST
    * day of the left segment ("the level changed after this day").
    *
    * Shape: one daily aggregation, then two windows over the tiny per-key
    * grid (a running prefix sum and a whole-partition total); the argmax
    * is a row_number over the ROUNDED statistic (ties → earliest day), so
    * engine float agreement is by construction, not luck. Recursing on the
    * two halves gives full binary segmentation; each level is this same
    * operator on a keyed sub-range. */
  def meanShiftChangepoint(events: DataFrame): DataFrame = {
    val daily = events.groupBy(col("event_type"), to_date(col("ts")).as("day"))
      .agg((sum(col("value").cast("decimal(18,2)")) * 100).cast("long").as("cents"))
    val wPre = Window.partitionBy(col("event_type")).orderBy(col("day"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wAll = Window.partitionBy(col("event_type"))
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    val c = col("cents").cast("decimal(19,0)")
    val grid = daily
      .withColumn("i", count(lit(1)).over(wPre))
      .withColumn("sp", sum(c).over(wPre))
      .withColumn("n", count(lit(1)).over(wAll))
      .withColumn("st", sum(c).over(wAll))
      .filter(col("i") < col("n")) // split must leave a non-empty right side
    val iD = col("i").cast("double"); val nD = col("n").cast("double")
    val meanL = col("sp").cast("double") / iD
    val meanR = (col("st") - col("sp")).cast("double") / (nD - iD)
    val stat = abs(meanL - meanR) * sqrt(iD * (nD - iD) / nD) / 100
    val scored = grid.withColumn("stat", portableRound(stat, 4))
    val pick = Window.partitionBy(col("event_type"))
      .orderBy(col("stat").desc, col("day").asc)
    scored.withColumn("rn", row_number().over(pick)).filter(col("rn") === 1)
      .select(col("event_type"),
        date_format(col("day"), "yyyy-MM-dd").as("change_after_day"),
        col("stat").as("shift_stat"),
        portableRound(meanL / 100, 4).as("mean_before"),
        portableRound(meanR / 100, 4).as("mean_after"),
        col("i").as("n_before"), (col("n") - col("i")).as("n_after"))
  }

  /** Classical seasonal-trend decomposition of each event type's daily
    * revenue (the moving-average STL ancestor: trend = centered 7-day
    * mean, seasonal = weekday mean of the detrended series, residual =
    * the rest) — the structural readout behind [[dailyAnomaliesSeasonal]]
    * 's weekday baseline and [[holtLinearDaily]]'s trend: it SEPARATES
    * the components those operators consume implicitly.
    *
    * Exactness: the trend window is a RANGE frame over epoch days (a
    * calendar gap shrinks the count and the day is excluded, rather than
    * silently averaging non-adjacent days); the detrended value is kept
    * as the exact integer 700·cents − 100·Σ₇cents (dollars × 70000), the
    * weekday index is the engine-neutral pmod(epoch_day, 7) (never the
    * locale-dependent dayofweek), seasonal means divide exact decimal
    * sums once, and trend/seasonal/residual snap to the 1e-4 dollar
    * grid. Edge days (incomplete window) carry NULL components.
    *
    * Shape: one corpus-sized daily rollup, one RANGE window and one
    * small join per type — the weekday table is |types|×7 rows and
    * broadcasts. */
  def seasonalDecompose(events: DataFrame, period: Int = 7): DataFrame = {
    require(period >= 2 && period % 2 == 1,
      s"period must be odd and >= 3, got $period")
    val half = period / 2
    val daily = events
      .groupBy(col("event_type"), to_date(col("ts")).as("day"))
      .agg((sum(col("value").cast("decimal(18,2)")) * 100)
        .cast("long").as("cents"))
      .withColumn("ed", unix_date(col("day")).cast("long"))
      .localCheckpoint() // feeds the trend window AND the seasonal join
    val wT = Window.partitionBy(col("event_type")).orderBy(col("ed"))
      .rangeBetween(-half, half)
    val t = daily
      .withColumn("tn", count(lit(1)).over(wT))
      .withColumn("tsum", sum(col("cents")).over(wT))
      .withColumn("d700", when(col("tn") === period,
        lit(period * 100L) * col("cents") - lit(100L) * col("tsum")))
      .withColumn("wd", pmod(col("ed"), lit(7L)))
    val seas = t.filter(col("d700").isNotNull)
      .groupBy(col("event_type"), col("wd"))
      .agg(sum(col("d700").cast("decimal(38,0)")).as("dsum"),
        count(lit(1)).as("dn"))
    val denom = lit(period * 10000L).cast("double") // ×100 cents ×100 grid
    def r4(c: Column) = portableRound(c, 4)
    t.join(broadcast(seas), Seq("event_type", "wd"), "left")
      .select(col("event_type"),
        date_format(col("day"), "yyyy-MM-dd").as("day"),
        (col("cents").cast("double") / 100).as("revenue"),
        when(col("tn") === period,
          r4(col("tsum").cast("double") / lit(period.toDouble) / 100))
          .as("trend"),
        when(col("d700").isNotNull,
          r4(col("dsum").cast("double") / col("dn").cast("double") / denom))
          .as("seasonal"),
        when(col("d700").isNotNull,
          r4(col("d700").cast("double") / denom -
            col("dsum").cast("double") / col("dn").cast("double") / denom))
          .as("resid"))
      .orderBy(col("event_type"), col("day"))
  }

  /** Difference-in-differences on the deterministic A/B split — the
    * quasi-experimental leg of the experiment family (exp1 compares
    * arms, exp2 CUPED-adjusts, tt1/mw1 test; DiD asks "did the treated
    * arm's CHANGE differ?", which survives a level difference between
    * arms that would bias a plain post comparison). The calendar splits
    * at its integer midpoint day (pre = first half), computed from the
    * data — no fixture dates hardcoded.
    *
    * Formulation: per user, d_u = post_cents − pre_cents (users with no
    * purchases in a period contribute an exact 0 for it — the panel is
    * the purchase-user universe, built by conditional sums, not a
    * join); DiD = mean_A(d) − mean_B(d) with the Welch unequal-variance
    * standard error over the per-user deltas — the paired form of the
    * 2×2 cell-mean identity. Exact decimal moment folds; one fixed
    * double formula on the 1e-4 grid (cents→dollars at the end).
    * Degenerate arms report 0 rather than NaN. */
  def diffInDiff(events: DataFrame): DataFrame = {
    val p = events.filter(col("event_type") === "purchase")
      .select(col("user_id"), to_date(col("ts")).as("day"),
        (col("value").cast("decimal(18,2)") * 100).cast("long").as("cents"))
    // integer midpoint: pre ⇔ epoch_day < min + (span+1) div 2
    val span = p.agg(min(unix_date(col("day"))).as("d0"),
      max(unix_date(col("day"))).as("d1"))
    val users = p.crossJoin(broadcast(span))
      .withColumn("pre",
        unix_date(col("day")) < expr("d0 + (d1 - d0 + 1) div 2"))
      .groupBy(col("user_id"))
      .agg(sum(when(col("pre"), col("cents")).otherwise(0L)).as("pre_c"),
        sum(when(!col("pre"), col("cents")).otherwise(0L)).as("post_c"))
      .withColumn("dd", col("post_c") - col("pre_c"))
      .withColumn("variant",
        when(Sampling.hashBucket(col("user_id")) < 5000, "A").otherwise("B"))
    def d19(c: Column) = c.cast("decimal(19,0)")
    val isA = col("variant") === "A"
    def side(pred: Column, tag: String) = Seq(
      sum(when(pred, 1L).otherwise(0L)).as(s"n_$tag"),
      sum(when(pred, d19(col("dd"))).otherwise(lit(0L).cast("decimal(19,0)")))
        .as(s"s_$tag"),
      sum(when(pred, (d19(col("dd")) * d19(col("dd"))).cast("decimal(38,0)"))
        .otherwise(lit(0L).cast("decimal(38,0)"))).as(s"ss_$tag"))
    val m = users.agg((side(isA, "a") ++ side(!isA, "b")).head,
      (side(isA, "a") ++ side(!isA, "b")).tail: _*)
    def stats(tag: String) = {
      val n = col(s"n_$tag").cast("double")
      val s = col(s"s_$tag").cast("double")
      val ss = col(s"ss_$tag").cast("double")
      (n, s / n, (ss - s * s / n) / (n - 1.0))
    }
    val (na, ma, va) = stats("a"); val (nb, mb, vb) = stats("b")
    val se2 = va / na + vb / nb
    def r4(c: Column) = portableRound(c, 4)
    val okMeans = col("n_a") > 0 && col("n_b") > 0
    val okT = col("n_a") > 1 && col("n_b") > 1
    m.select(col("n_a"), col("n_b"),
      when(col("n_a") > 0, r4(ma / 100)).otherwise(0.0).as("delta_a"),
      when(col("n_b") > 0, r4(mb / 100)).otherwise(0.0).as("delta_b"),
      when(okMeans, r4((ma - mb) / 100)).otherwise(0.0).as("did"),
      when(okT && se2 > 0, r4(sqrt(se2) / 100)).otherwise(0.0).as("se"),
      when(okT && se2 > 0, r4((ma - mb) / sqrt(se2))).otherwise(0.0)
        .as("t_stat"))
  }

  /** Trimmed and winsorized means of the order book — the robust-center
    * readouts between the mean (outlier-hostage) and the median (throws
    * the distribution away): drop the `trim` tail fraction on each side
    * (trimmed), or clamp it to the surviving boundary values
    * (winsorized). The outlier policy ml teams actually deploy before
    * averaging a metric.
    *
    * Exactness: k = ⌊trim·n⌋ positional cuts over [[rankedRle]]'s exact
    * distributed ranks; an RLE group overlaps the kept rank range
    * [k+1, n−k] by an integer member count (every member holds the same
    * value), the boundary values at ranks k+1 and n−k come from the
    * groups containing those ranks, and the winsorized tails add
    * k·v_low + k·v_high exactly. Sums fold as decimal(38,0); the two
    * means snap to the 1e-6 dollar grid at the end. Degenerate input
    * (n ≤ 2k after trimming) reports 0s rather than 0/0. */
  def trimmedMeans(orders: DataFrame, trim: Double = 0.05,
                   buckets: Int = 1024): DataFrame = {
    require(trim >= 0 && trim < 0.5, s"trim must be in [0, 0.5), got $trim")
    val pm = (trim * 10000).round // positional cut in basis points
    val vals = orders.select(
      (col("o_totalprice").cast("decimal(18,2)") * 100).cast("long")
        .as("cents"))
    val rr = rankedRle(vals, "cents", buckets).localCheckpoint()
    val k = expr(s"n * $pm div 10000")
    val kept = greatest(lit(0L),
      least(col("c0") + col("cnt"), col("n") - k) - greatest(col("c0"), k))
    val v38 = col("value").cast("decimal(38,0)")
    val a = rr.agg(
      max(col("n")).as("n"), max(k).as("k"),
      sum(v38 * kept).as("kept_sum"),
      sum(when(col("c0") < k + 1 && k + 1 <= col("c0") + col("cnt"),
        col("value"))).as("v_low"),
      sum(when(col("c0") < col("n") - k && col("n") - k <= col("c0") + col("cnt"),
        col("value"))).as("v_high"))
    def r6(c: Column) = portableRound(c, 6)
    val keptN = col("n") - lit(2) * col("k")
    a.select(col("n"), col("k"),
      col("v_low").cast("long").as("low_cents"),
      col("v_high").cast("long").as("high_cents"),
      when(keptN > 0, r6(col("kept_sum").cast("double")
        / keptN.cast("double") / 100)).otherwise(0.0).as("trimmed_mean"),
      when(col("n") > 0 && keptN > 0, r6(
        (col("kept_sum") + col("k").cast("decimal(38,0)")
          * (col("v_low") + col("v_high"))).cast("double")
          / col("n").cast("double") / 100)).otherwise(0.0)
        .as("winsor_mean"))
  }

  /** Inverse-propensity-weighted (Hájek) treatment-effect estimate —
    * the OBSERVATIONAL causal leg beside [[diffInDiff]]'s
    * quasi-experiment: the "treatment" here (the user viewed more
    * than they clicked) is not randomized, so a raw treated-vs-control
    * comparison confounds with activity; the propensity model (logistic
    * on signup/error counts,
    * trained by [[logisticGdVector]]'s exact micro-unit GD) reweights
    * each user by 1/P(observed assignment) and the Hájek ratio
    * μ̂₁ − μ̂₀ estimates the effect under unconfoundedness.
    *
    * Exactness: coefficients land on the 1e-6 grid (GD contract), each
    * user's propensity snaps to the 1e-6 grid and clamps to
    * [1e-6, 1−1e-6] (both bounds ON the grid), and every weighted term
    * snaps to an integer grid BEFORE summation — outcome terms to whole
    * cents, weight terms to micro-units — so the four folds are exact
    * decimal sums and the final ratios are one fixed double formula on
    * the 1e-4 dollar grid (the logrank1 discipline). An empty arm
    * reports 0s rather than 0/0.
    *
    * Shape: one user-keyed rollup (checkpointed once), `iters` 1-row GD
    * aggregates, ONE weighted 1-row aggregate. Driver state is the
    * 3-vector of coefficients. */
  def ipwEffect(events: DataFrame, iters: Int = 3,
                lr: Double = 1.0): DataFrame = {
    val users = events.groupBy(col("user_id")).agg(
      sum(when(col("event_type") === "signup", 1L).otherwise(0L)).as("signups"),
      sum(when(col("event_type") === "error", 1L).otherwise(0L)).as("errors"),
      // "view-dominant" treatment: more views than clicks — a non-
      // randomized behavioral condition with real prevalence on the
      // fixture (a has-any-event flag would be 1 for every user)
      sum(when(col("event_type") === "view", 1L)
        .when(col("event_type") === "click", -1L).otherwise(0L)).as("vmc"),
      sum(when(col("event_type") === "purchase",
        (col("value").cast("decimal(18,2)") * 100).cast("long"))
        .otherwise(0L)).as("y_cents"))
      .withColumn("t", when(col("vmc") > 0, 1L).otherwise(0L))
      .localCheckpoint() // feeds every GD iteration AND the weighting pass
    val d = users.select(col("t").cast("double").as("y"),
      lit(1.0).as("x0"),
      (col("signups").cast("double") / 100.0).as("x1"),
      (col("errors").cast("double") / 100.0).as("x2"))
    val b = logisticGdVector(d, 3, iters, lr)
    val z = lit(b(0)) * lit(1.0) +
      lit(b(1)) * (col("signups").cast("double") / 100.0) +
      lit(b(2)) * (col("errors").cast("double") / 100.0)
    val p6 = floor((lit(1.0) / (lit(1.0) + exp(-z))) * 1000000.0 + 0.5) / 1000000.0
    val p = least(greatest(p6, lit(0.000001)), lit(0.999999))
    def d38(c: Column) = c.cast("decimal(38,0)")
    val w = users.withColumn("p", p)
    val a = w.agg(count(lit(1)).as("n"), sum(col("t")).as("n_treated"),
      sum(d38(when(col("t") === 1,
        floor(col("y_cents").cast("double") / col("p") + 0.5)).otherwise(0.0)
        .cast("long"))).as("num1"),
      sum(d38(when(col("t") === 1,
        floor(lit(1000000.0) / col("p") + 0.5)).otherwise(0.0)
        .cast("long"))).as("den1"),
      sum(d38(when(col("t") === 0,
        floor(col("y_cents").cast("double") / (lit(1.0) - col("p")) + 0.5))
        .otherwise(0.0).cast("long"))).as("num0"),
      sum(d38(when(col("t") === 0,
        floor(lit(1000000.0) / (lit(1.0) - col("p")) + 0.5)).otherwise(0.0)
        .cast("long"))).as("den0"))
    def r4(c: Column) = portableRound(c, 4)
    // μ in dollars: (Σ snapped cents·weights) / (Σ micro-weights / 1e6) / 100
    def mu(num: Column, den: Column) =
      num.cast("double") * 1000000.0 / den.cast("double") / 100.0
    val ok1 = col("den1") > 0; val ok0 = col("den0") > 0
    a.select(col("n"), col("n_treated"),
      lit(b(0)).as("b0"), lit(b(1)).as("b1"), lit(b(2)).as("b2"),
      when(ok1, r4(mu(col("num1"), col("den1")))).otherwise(0.0)
        .as("mu_treated"),
      when(ok0, r4(mu(col("num0"), col("den0")))).otherwise(0.0)
        .as("mu_control"),
      when(ok1 && ok0, r4(mu(col("num1"), col("den1")) -
        mu(col("num0"), col("den0")))).otherwise(0.0).as("ate"))
  }

  /** Doubly-robust (AIPW) treatment-effect estimate — the third leg of
    * the causal family: [[diffInDiff]] needs parallel trends,
    * [[ipwEffect]] needs the propensity model right, AIPW (Robins et
    * al. 1994) is consistent if EITHER the propensity OR the per-arm
    * outcome regression is right:
    * ψ = m₁(x) − m₀(x) + t·(y−m₁)/p̂ − (1−t)·(y−m₀)/(1−p̂).
    *
    * Same treatment/covariates as ipw1 (view-dominant behavior;
    * signup/error counts). Outcome models are per-arm closed-form ridge
    * fits on the INTEGER covariates (ridge1's 9-moment fold per arm),
    * their coefficients grid-snapped to BIGINT micro-cents so every
    * per-user prediction and residual is an exact integer; the
    * propensity is ipw1's snapped clamped p̂; each correction term
    * snaps to whole cents BEFORE the exact decimal folds. The estimate
    * decomposes visibly: ate = g_formula (the regression-imputation
    * mean of m₁−m₀) + correction (the IPW-weighted residual terms) —
    * both reported on the 1e-4 dollar grid.
    *
    * Shape: one user rollup (checkpointed once), two 1-row ridge folds,
    * `iters` 1-row GD aggregates, ONE final 1-row fold. */
  def doublyRobustEffect(events: DataFrame, lambda: Double = 1000.0,
                         iters: Int = 3, lr: Double = 1.0): DataFrame = {
    val users = events.groupBy(col("user_id")).agg(
      sum(when(col("event_type") === "signup", 1L).otherwise(0L)).as("signups"),
      sum(when(col("event_type") === "error", 1L).otherwise(0L)).as("errors"),
      sum(when(col("event_type") === "view", 1L)
        .when(col("event_type") === "click", -1L).otherwise(0L)).as("vmc"),
      sum(when(col("event_type") === "purchase",
        (col("value").cast("decimal(18,2)") * 100).cast("long"))
        .otherwise(0L)).as("y_cents"))
      .withColumn("t", when(col("vmc") > 0, 1L).otherwise(0L))
      .localCheckpoint()
    // per-arm ridge on (1, signups, errors) → y_cents: exact moments,
    // fixed-order double solve, micro-cent BIGINT coefficients
    def armBetas(arm: Int): Array[Long] = {
      val a = users.filter(col("t") === arm)
      def d19(c: Column) = c.cast("decimal(19,0)")
      def p38(x: Column, y: Column) = (d19(x) * d19(y)).cast("decimal(38,0)")
      val m = a.agg(count(lit(1)).as("n"),
        sum(d19(col("signups"))).as("sx1"), sum(d19(col("errors"))).as("sx2"),
        sum(d19(col("y_cents"))).as("sy"),
        sum(p38(col("signups"), col("signups"))).as("sx11"),
        sum(p38(col("signups"), col("errors"))).as("sx12"),
        sum(p38(col("errors"), col("errors"))).as("sx22"),
        sum(p38(col("signups"), col("y_cents"))).as("sx1y"),
        sum(p38(col("errors"), col("y_cents"))).as("sx2y")).head
      val a11 = m.getLong(0).toDouble
      require(m.getLong(0) > 0, s"doublyRobustEffect: arm $arm is empty")
      val a12 = m.getDecimal(1).doubleValue; val a13 = m.getDecimal(2).doubleValue
      val a22 = m.getDecimal(4).doubleValue + lambda
      val a23 = m.getDecimal(5).doubleValue
      val a33 = m.getDecimal(6).doubleValue + lambda
      val b1 = m.getDecimal(3).doubleValue
      val b2 = m.getDecimal(7).doubleValue; val b3 = m.getDecimal(8).doubleValue
      val dA = a11 * (a22 * a33 - a23 * a23) - a12 * (a12 * a33 - a23 * a13) +
        a13 * (a12 * a23 - a22 * a13)
      val d0 = b1 * (a22 * a33 - a23 * a23) - a12 * (b2 * a33 - a23 * b3) +
        a13 * (b2 * a23 - a22 * b3)
      val d1 = a11 * (b2 * a33 - a23 * b3) - b1 * (a12 * a33 - a23 * a13) +
        a13 * (a12 * b3 - b2 * a13)
      val d2 = a11 * (a22 * b3 - b2 * a23) - a12 * (a12 * b3 - b2 * a13) +
        b1 * (a12 * a23 - a22 * a13)
      def micro(x: Double) =
        if (dA == 0.0) 0L else math.floor(x / dA * 1e6 + 0.5).toLong
      Array(micro(d0), micro(d1), micro(d2))
    }
    val b1a = armBetas(1); val b0a = armBetas(0)
    val d = users.select(col("t").cast("double").as("y"),
      lit(1.0).as("x0"),
      (col("signups").cast("double") / 100.0).as("x1"),
      (col("errors").cast("double") / 100.0).as("x2"))
    val pb = logisticGdVector(d, 3, iters, lr)
    val z = lit(pb(0)) * lit(1.0) +
      lit(pb(1)) * (col("signups").cast("double") / 100.0) +
      lit(pb(2)) * (col("errors").cast("double") / 100.0)
    val p6 = floor((lit(1.0) / (lit(1.0) + exp(-z))) * 1000000.0 + 0.5) / 1000000.0
    val p = least(greatest(p6, lit(0.000001)), lit(0.999999))
    def pred(b: Array[Long]) = lit(b(0)) +
      lit(b(1)) * col("signups") + lit(b(2)) * col("errors") // micro-cents
    val w = users.withColumn("p", p)
      .withColumn("m1", pred(b1a)).withColumn("m0", pred(b0a))
    def d38(c: Column) = c.cast("decimal(38,0)")
    val yMicro = col("y_cents") * lit(1000000L)
    val a = w.agg(count(lit(1)).as("n"), sum(col("t")).as("n_treated"),
      sum(d38(col("m1") - col("m0"))).as("gsum"),
      sum(d38(when(col("t") === 1,
        floor((yMicro - col("m1")).cast("double") / col("p") / 1000000.0 + 0.5))
        .otherwise(0.0).cast("long"))).as("c1"),
      sum(d38(when(col("t") === 0,
        floor((yMicro - col("m0")).cast("double") / (lit(1.0) - col("p"))
          / 1000000.0 + 0.5)).otherwise(0.0).cast("long"))).as("c0"))
    def r4(c: Column) = portableRound(c, 4)
    val nD = col("n").cast("double")
    val g = col("gsum").cast("double") / nD / 1000000.0 / 100.0
    val corr = (col("c1").cast("double") - col("c0").cast("double")) / nD / 100.0
    a.select(col("n"), col("n_treated"),
      r4(g).as("g_formula"), r4(corr).as("correction"),
      r4(g + corr).as("ate"))
  }

  /** Spearman rank correlation between line-item quantity and extended
    * price — corr1's distribution-free sibling: Pearson on MIDRANKS, so
    * one extreme price moves the coefficient by at most its rank and a
    * monotone-but-curved relationship still scores 1. Ties get the
    * textbook average rank, which keeps the tie correction exact.
    *
    * Exactness: each variable's ranks come from [[rankedRle]]; doubled
    * midranks 2·c0 + cnt + 1 are exact integers joined back to the rows
    * by value (domain-sized broadcast-able joins), the five moment sums
    * fold as decimal(38,0), and ρ is ONE fixed double formula over them
    * on the 1e-6 grid. Degenerate inputs (n < 2, zero rank variance —
    * all ties) report 0. */
  def spearmanRho(lineitem: DataFrame, buckets: Int = 1024): DataFrame = {
    val base = lineitem.select(
      col("l_quantity").cast("decimal(18,0)").cast("long").as("q"),
      (col("l_extendedprice").cast("decimal(18,2)") * 100).cast("long")
        .as("p"))
      .localCheckpoint() // feeds both rank builds and the join-back
    def mid(valueCol: String) =
      rankedRle(base.select(col(valueCol)), valueCol, buckets)
        .select(col("value").as(valueCol),
          (lit(2) * col("c0") + col("cnt") + 1).as(s"m_$valueCol"))
    // no broadcast hints: the quantity domain is tiny but the PRICE
    // domain scales with the corpus — AQE picks BHJ while it fits and
    // degrades to a shuffle join cleanly (the COST.md §3 discipline)
    val ranked = base
      .join(mid("q"), Seq("q"))
      .join(mid("p"), Seq("p"))
    def d38(c: Column) = c.cast("decimal(38,0)")
    val m = ranked.agg(count(lit(1)).as("n"),
      sum(d38(col("m_q"))).as("sx"), sum(d38(col("m_p"))).as("sy"),
      sum(d38(col("m_q")) * col("m_q")).as("sxx"),
      sum(d38(col("m_p")) * col("m_p")).as("syy"),
      sum(d38(col("m_q")) * col("m_p")).as("sxy"))
    val nD = col("n").cast("double")
    val sx = col("sx").cast("double"); val sy = col("sy").cast("double")
    val cov = nD * col("sxy").cast("double") - sx * sy
    val vx = nD * col("sxx").cast("double") - sx * sx
    val vy = nD * col("syy").cast("double") - sy * sy
    m.select(col("n"),
      when(col("n") > 1 && vx > 0 && vy > 0,
        portableRound(cov / sqrt(vx * vy), 6)).otherwise(0.0).as("rho"))
  }

  /** Mann–Whitney U (Wilcoxon rank-sum) between the deterministic A/B
    * split on per-user purchase revenue — [[welchTTest]]'s
    * distribution-free sibling: where Welch compares means (and a heavy
    * tail can swamp it), U compares RANKS, so one whale moves the
    * statistic by at most its rank. Normal approximation with the exact
    * tie correction, no continuity correction.
    *
    * Exactness: ranks come from [[rankedRle]] (distributed, never a
    * global window); every tie group's midrank is the half-integer
    * (2·c0 + cnt + 1)/2, so DOUBLED rank sums are exact BIGINTs:
    * 2R_A = Σ cntA·(2·c0 + cnt + 1), 2U_A = 2R_A − nA(nA+1), and the
    * tie term Σ(t³−t) is an exact integer fold. The z statistic is one
    * fixed double formula over those integers, snapped to the 1e-6
    * grid; both engines replay it digit for digit. Degenerate inputs
    * (an empty arm, all values tied) report z = 0. */
  def mannWhitneyU(events: DataFrame, buckets: Int = 1024): DataFrame = {
    val users = events
      .filter(col("event_type") === "purchase")
      .groupBy(col("user_id"))
      .agg(sum((col("value").cast("decimal(18,2)") * 100).cast("long")).as("x"))
      .withColumn("variant",
        when(Sampling.hashBucket(col("user_id")) < 5000, "A").otherwise("B"))
      .localCheckpoint() // feeds the rank AND the per-arm value counts
    val rr = rankedRle(users, "x", buckets)
    val ca = users.filter(col("variant") === "A")
      .groupBy(col("x").as("value")).agg(count(lit(1)).as("cnt_a"))
    val joined = rr.join(ca, Seq("value"), "left")
      .withColumn("cnt_a", coalesce(col("cnt_a"), lit(0L)))
    val agg = joined.agg(
      sum(col("cnt_a")).as("n_a"),
      max(col("n")).as("n"),
      sum(col("cnt_a").cast("decimal(38,0)")
        * (lit(2) * col("c0") + col("cnt") + 1)).as("r2_a"),
      sum((col("cnt").cast("decimal(38,0)") * col("cnt") * col("cnt")
        - col("cnt")).cast("decimal(38,0)")).as("tie_cubes"))
    val nA = col("n_a").cast("double"); val nD = col("n").cast("double")
    val nB = nD - nA
    val u2a = col("r2_a") - col("n_a").cast("decimal(38,0)") * (col("n_a") + 1)
    // Var(U) = nA·nB/12 · [(n+1) − Σ(t³−t)/(n(n−1))]; z from 2U to stay
    // integral: z = (2U − nA·nB) / (2·sqrt(Var))
    val varU = nA * nB / 12.0 *
      ((nD + 1.0) - col("tie_cubes").cast("double") / (nD * (nD - 1.0)))
    val z = (col("u2_a").cast("double") - nA * nB) / (lit(2.0) * sqrt(varU))
    agg.withColumn("u2_a", u2a.cast("long"))
      .select(col("n_a"), (col("n") - col("n_a")).as("n_b"), col("u2_a"),
        col("tie_cubes").cast("long").as("tie_cubes"),
        when(col("n_a") > 0 && col("n_a") < col("n") && col("n") > 1
          && varU > 0, portableRound(z, 6)).otherwise(0.0).as("z_stat"))
  }

  /** Welch's unequal-variance t-test between the deterministic A/B split
    * on per-user purchase revenue: t statistic and Welch–Satterthwaite
    * degrees of freedom, the readout that goes next to [[cupedAbTest]]'s
    * adjusted means. One user-keyed agg + ONE 1-row moment aggregate
    * (exact decimal sums of cent-longs), then fixed-formula doubles — the
    * oracle replays every digit. Degenerate inputs (a one-user variant,
    * zero variance) report 0 rather than NaN. */
  def welchTTest(events: DataFrame): DataFrame = {
    val users = events
      .filter(col("event_type") === "purchase")
      .groupBy(col("user_id"))
      .agg(sum((col("value").cast("decimal(18,2)") * 100).cast("long")).as("x"))
      .withColumn("variant",
        when(Sampling.hashBucket(col("user_id")) < 5000, "A").otherwise("B"))
    def d19(c: org.apache.spark.sql.Column) = c.cast("decimal(19,0)")
    val isA = col("variant") === "A"
    def side(p: org.apache.spark.sql.Column, tag: String) = Seq(
      sum(when(p, 1L).otherwise(0L)).as(s"n_$tag"),
      sum(when(p, d19(col("x"))).otherwise(lit(0L).cast("decimal(19,0)"))).as(s"s_$tag"),
      sum(when(p, d19(col("x")) * d19(col("x")))
        .otherwise(lit(0L).cast("decimal(19,0)"))).as(s"ss_$tag"))
    val agg = side(isA, "a") ++ side(!isA, "b")
    val m = users.agg(agg.head, agg.tail: _*)
    def stats(tag: String) = {
      val n = col(s"n_$tag").cast("double")
      val s = col(s"s_$tag").cast("double")
      val ss = col(s"ss_$tag").cast("double")
      (n, s / n, (ss - s * s / n) / (n - 1.0))
    }
    val (na, ma, va) = stats("a"); val (nb, mb, vb) = stats("b")
    val se2 = va / na + vb / nb
    val t = (ma - mb) / sqrt(se2)
    val dfW = se2 * se2 /
      ((va / na) * (va / na) / (na - 1.0) + (vb / nb) * (vb / nb) / (nb - 1.0))
    val ok = col("n_a") > 1 && col("n_b") > 1 && se2 > 0
    m.select(col("n_a"), col("n_b"),
      when(col("n_a") > 0, portableRound(ma / 100, 4)).otherwise(0.0).as("mean_a"),
      when(col("n_b") > 0, portableRound(mb / 100, 4)).otherwise(0.0).as("mean_b"),
      when(ok, portableRound(t, 4)).otherwise(0.0).as("t_stat"),
      when(ok, portableRound(dfW, 2)).otherwise(0.0).as("welch_df"))
  }

  /** Market-basket pair mining: for every unordered pair of items that
    * co-occur in at least `minCount` baskets, the co-occurrence count,
    * support (share of baskets containing both) and lift (observed
    * co-occurrence vs the independence expectation) — the association-rule
    * screen behind "frequently bought together".
    *
    * Shape: one shuffle groups each basket's distinct items into a sorted
    * array, pairs explode MAP-SIDE from that array (bounded by basket size
    * squared, never by catalog size), and one hash-aggregation shuffle
    * counts pairs — there is no items×items self-join anywhere, so the
    * catalog can be 10^9 wide. Item counts and the basket total are a
    * dimension-sized broadcast and a 1-row broadcast.
    *
    * Float determinism: support and lift are single IEEE divisions of
    * exactly-represented integers; the cross products go through
    * decimal(38,0) first because `n_pair * n_baskets` overflows a long
    * once baskets exceed ~3·10^9 (ANSI mode would throw at exactly the
    * scale this engine targets). */
  def marketBasketPairs(baskets: DataFrame, basketCol: Column, itemCol: Column,
                        minCount: Long = 2, topK: Int = 100): DataFrame = {
    require(topK > 0, s"topK must be positive, got $topK")
    // every downstream leg (pair explosion, item counts, basket total)
    // derives from the SAME groupBy(bkey) aggregation, materialized ONCE
    // via localCheckpoint (collect_set is nondeterministic-tagged, which
    // defeats exchange-reuse canonicalization — without the checkpoint
    // Spark re-scans and re-shuffles the input three times; same
    // discipline as the Dedup CC pair list)
    val byBasket = baskets.select(basketCol.as("bkey"), itemCol.as("item"))
      .groupBy(col("bkey"))
      .agg(sort_array(collect_set(col("item"))).as("its"))
      .localCheckpoint()
    val nBaskets = byBasket.agg(count(lit(1)).as("n_baskets"))
    val itemCnt = byBasket.select(explode(col("its")).as("item"))
      .groupBy(col("item")).agg(count(lit(1)).as("cnt"))
    val pairs = byBasket
      .select(explode(expr(
        """flatten(transform(its, (x, i) ->
          |  transform(slice(its, i + 2, size(its)),
          |            y -> named_struct('a', x, 'b', y))))""".stripMargin)).as("pr"))
      .select(col("pr.a").as("item_a"), col("pr.b").as("item_b"))
      .groupBy(col("item_a"), col("item_b")).agg(count(lit(1)).as("n_pair"))
      .filter(col("n_pair") >= minCount)
    def dec(c: Column): Column = c.cast("decimal(19,0)")
    pairs
      // item dimension scales with the catalog — no hard hint, AQE decides
      .join(itemCnt.select(col("item").as("item_a"), col("cnt").as("cnt_a")), "item_a")
      .join(itemCnt.select(col("item").as("item_b"), col("cnt").as("cnt_b")), "item_b")
      .crossJoin(broadcast(nBaskets))
      .select(col("item_a"), col("item_b"), col("n_pair"),
        (col("n_pair").cast("double") / col("n_baskets")).as("support"),
        ((dec(col("n_pair")) * dec(col("n_baskets"))).cast("double")
          / (dec(col("cnt_a")) * dec(col("cnt_b"))).cast("double")).as("lift"))
      .orderBy(col("lift").desc, col("item_a"), col("item_b"))
      .limit(topK)
  }

  /** Per-type OLS trend of daily revenue on the day index — the "is this
    * metric growing, and how fast" readout: slope (per day), intercept (at
    * each type's first observed day, so the number is a real level, not a
    * 1970 extrapolation) and r².
    *
    * Shape: one daily aggregation, a window min over the tiny per-type
    * grid to rebase x, then ONE moment aggregate per type (n, Σx, Σy,
    * Σxy, Σx², Σy² as exact decimals) — the classic one-pass normal-
    * equations form, map-side combinable however wide the raw events are.
    * The closed-form doubles are fixed-order, so the oracle replays every
    * digit; degenerate series (one day, zero x-variance) report 0. */
  /** In-engine logistic-regression training by full-batch gradient
    * descent — the "train the quality/classifier head where the data
    * already lives" primitive (reg1 is the closed-form linear sibling;
    * this is the iterative GLM one). Fixed feature map over `orders`:
    * intercept, scaled total price, is-urgent dummy; label = status 'F'.
    *
    * Determinism is engineered like [[graft.operators.Importance]] and
    * kmeans1: every per-row gradient/loss term snaps to integer
    * micro-units and sums as BIGINTs (exact, order-free), and the updated
    * coefficients snap back to the 1e-6 grid each step — so iteration
    * t+1 feeds bit-identical β into every engine, and the whole unrolled
    * trajectory replays exactly in the DuckDB oracle. The one libm call
    * (`exp` inside σ) happens before the snap; a 1-ulp engine difference
    * must cross a 0.5-micro boundary to matter (~1e-10 per row-term).
    *
    * Shape at 100 TB: per iteration, ONE map-side-combinable aggregate
    * over the feature projection (4 BIGINT sums), a driver update of
    * k coefficients (driver state = O(k), like kmeans1's codebook), and
    * a re-broadcast via literals in the next plan. `iters` full scans
    * total — the standard full-batch GD cost; nothing corpus-sized ever
    * shuffles or collects. */
  def logisticGd(orders: DataFrame, iters: Int = 3, lr: Double = 1.0): DataFrame =
    logisticGdOnFeatures(logregFeatures(orders), iters, lr)

  /** The ml1 feature projection, shared by training and evaluation so the
    * two can never drift. */
  private def logregFeatures(orders: DataFrame,
                             extra: Seq[Column] = Nil): DataFrame =
    orders.select(Seq(
      when(col("o_orderstatus") === "F", 1.0).otherwise(0.0).as("y"),
      lit(1.0).as("x0"),
      (col("o_totalprice").cast("double") / 100000.0).as("x1"),
      when(col("o_orderpriority").startsWith("1-"), 1.0).otherwise(0.0).as("x2"))
      ++ extra: _*)

  /** The GD loop over an already-projected feature frame — shared by
    * [[logisticGd]] (one projection from orders) and [[crossValLogreg]]
    * (one pinned projection reused across all folds). The row count rides
    * in the SAME aggregate as the gradients, so each iteration is exactly
    * one job — no separate count scan. */
  private def logisticGdOnFeatures(d: DataFrame, iters: Int,
                                   lr: Double): DataFrame = {
    require(iters >= 1, s"iters must be >= 1, got $iters")
    def micro(c: Column): Column = floor(c * 1000000.0 + 0.5).cast("long")
    var beta = Array(0.0, 0.0, 0.0)
    val out = scala.collection.mutable.ArrayBuffer.empty[(Long, Double, Double, Double, Double)]
    for (it <- 1 to iters) {
      val z = lit(beta(0)) * col("x0") + lit(beta(1)) * col("x1") + lit(beta(2)) * col("x2")
      val sg = lit(1.0) / (lit(1.0) + exp(-z))
      // clamp σ away from {0,1} before the log terms: a saturated sigmoid
      // (|z| ≳ 37 in doubles — reachable with caller-set lr/features)
      // would make 0·(−Inf) = NaN and poison the whole aggregate. Both
      // bounds are computed as 1.0∓1e-9 in IEEE doubles, mirrored
      // literally in the DuckDB oracle.
      val sgc = least(greatest(sg, lit(1e-9)), lit(1.0) - lit(1e-9))
      val a = d.agg(
        count(lit(1)).as("n"),
        sum(micro((sg - col("y")) * col("x0"))).as("g0"),
        sum(micro((sg - col("y")) * col("x1"))).as("g1"),
        sum(micro((sg - col("y")) * col("x2"))).as("g2"),
        sum(micro(-(col("y") * log(sgc) + (lit(1.0) - col("y")) * log(lit(1.0) - sgc)))).as("ll"))
        .head
      val n = a.getLong(0).toDouble
      require(n > 0, "logisticGd needs a non-empty training set")
      def upd(b: Double, m: Long): Double =
        math.floor((b - lr * (m.toDouble / 1000000.0 / n)) * 1000000.0 + 0.5) / 1000000.0
      beta = Array(upd(beta(0), a.getLong(1)), upd(beta(1), a.getLong(2)),
        upd(beta(2), a.getLong(3)))
      val loss = math.floor(a.getLong(4).toDouble / 1000000.0 / n * 1000000.0 + 0.5) / 1000000.0
      out += ((it.toLong, beta(0), beta(1), beta(2), loss))
    }
    val spark = d.sparkSession
    import spark.implicits._
    out.toSeq.toDF("iter", "b0", "b1", "b2", "logloss_prev")
  }

  /** Generalized [[logisticGdOnFeatures]]: full-batch GD over feature
    * columns `x0..x{k-1}` and label `y`, any width — the same micro-unit
    * discipline (gradients fold as exact BIGINTs, coefficients re-snap to
    * the 1e-6 grid each step), returning the final coefficient vector.
    * The z linear form folds left-to-right, matching the oracle's
    * left-associative `+` chain term for term. Driver state is O(k) per
    * iteration; each iteration is ONE map-side-combinable aggregate. */
  private[operators] def logisticGdVector(d: DataFrame, k: Int, iters: Int,
                                          lr: Double): Array[Double] = {
    require(iters >= 1, s"iters must be >= 1, got $iters")
    require(k >= 1, s"k must be >= 1, got $k")
    def micro(c: Column): Column = floor(c * 1000000.0 + 0.5).cast("long")
    var beta = Array.fill(k)(0.0)
    for (_ <- 1 to iters) {
      val z = (0 until k).map(j => lit(beta(j)) * col(s"x$j")).reduce(_ + _)
      val sg = lit(1.0) / (lit(1.0) + exp(-z))
      val aggs = count(lit(1)).as("n") +: (0 until k).map(j =>
        sum(micro((sg - col("y")) * col(s"x$j"))).as(s"g$j"))
      val a = d.agg(aggs.head, aggs.tail: _*).head
      val n = a.getLong(0).toDouble
      require(n > 0, "logisticGdVector needs a non-empty training set")
      beta = Array.tabulate(k)(j =>
        math.floor((beta(j) - lr * (a.getLong(j + 1).toDouble / 1000000.0 / n))
          * 1000000.0 + 0.5) / 1000000.0)
    }
    beta
  }

  /** Per-row scores of the ml1-trained model, σ snapped to the 1e-6 grid
    * (so every downstream comparison/bin/rank is engine-portable). The
    * coefficient collect is O(k) driver state — [[logisticGd]]'s own
    * contract. */
  private def logregScores(orders: DataFrame, iters: Int, lr: Double): DataFrame = {
    val last = logisticGd(orders, iters, lr).orderBy(col("iter").desc).head
    val (b0, b1, b2) = (last.getDouble(1), last.getDouble(2), last.getDouble(3))
    val d = logregFeatures(orders)
    val z = lit(b0) * col("x0") + lit(b1) * col("x1") + lit(b2) * col("x2")
    val sg = lit(1.0) / (lit(1.0) + exp(-z))
    d.select(col("y"), (floor(sg * 1000000.0 + 0.5) / 1000000.0).as("s6"))
  }

  /** Platt scaling (Platt 1999) of the ml1 model — the PARAMETRIC
    * calibration next to [[isotonicCalibration]]'s monotone step map:
    * fit σ(a + b·s) to the labels by the same exact micro-unit GD (two
    * features: intercept + the 1e-6-snapped raw score), then report the
    * ml2-style reliability bins of the CALIBRATED probabilities. Platt
    * needs ~2 parameters where isotonic spends a step per violation, so
    * it generalizes from less data when the miscalibration is a smooth
    * squash — the bins make the comparison measurable.
    *
    * Exactness: raw scores are ml1's snapped s6; (a, b) land on the
    * 1e-6 grid each GD step; calibrated q6 = σ(a + b·s6) snaps to the
    * 1e-6 grid; bin sums fold as exact micro-unit BIGINTs (ml2's
    * accounting). Shape: iters+3 1-row aggregates over one projected
    * frame + one 10-group rollup. */
  def plattCalibration(orders: DataFrame, iters: Int = 5,
                       scoreIters: Int = 3, lr: Double = 0.5,
                       bins: Int = 10): DataFrame = {
    require(bins >= 2 && bins <= 1000, s"bins out of range: $bins")
    val sc = logregScores(orders, scoreIters, lr).localCheckpoint()
    val d = sc.select(col("y"), lit(1.0).as("x0"), col("s6").as("x1"))
    val b = logisticGdVector(d, 2, iters, lr = 1.0)
    val q = floor((lit(1.0) / (lit(1.0) +
      exp(-(lit(b(0)) * lit(1.0) + lit(b(1)) * col("s6")))))
      * 1000000.0 + 0.5) / 1000000.0
    val binned = sc.withColumn("q6", q)
      .withColumn("bin", least(floor(col("q6") * bins).cast("long"),
        lit(bins - 1L)))
    binned.groupBy(col("bin")).agg(
        count(lit(1)).as("n"),
        sum(floor(col("q6") * 1000000.0 + 0.5).cast("long")).as("ps"),
        sum(col("y")).as("ys"))
      .select(col("bin"), col("n"),
        lit(b(0)).as("platt_a"), lit(b(1)).as("platt_b"),
        portableRound(col("ps").cast("double") / 1000000.0
          / col("n").cast("double"), 6).as("avg_cal"),
        portableRound(col("ys") / col("n").cast("double"), 6).as("obs_rate"))
      .orderBy(col("bin"))
  }

  /** FD profiling (the Metanome/Tane family's verification step, done
    * declaratively): for each candidate dependency det → dep, the g3
    * error — the minimum fraction of rows to delete for the FD to hold
    * (1 − Σ_groups max-dep-frequency / N) — plus the violating-group
    * count. `holds` means zero violations. The discovery half (candidate
    * lattice search) is a driver concern; verification of a candidate
    * SET is the data-sized work, and each candidate costs two compact
    * hash aggregations ((det, dep) counts, then det rollup) — map-side
    * combinable, no row wider than its keys ever shuffles.
    */
  def functionalDeps(df: DataFrame,
                     candidates: Seq[(String, String)]): DataFrame = {
    require(candidates.nonEmpty, "need at least one candidate FD")
    candidates.map { case (det, dep) =>
      val perPair = df.groupBy(col(det).as("_det"), col(dep).as("_dep"))
        .agg(count(lit(1)).as("_c"))
      val perDet = perPair.groupBy(col("_det"))
        .agg(sum(col("_c")).as("_n"), count(lit(1)).as("_ndep"),
          max(col("_c")).as("_maxf"))
      perDet.agg(
        count(lit(1)).as("n_groups"),
        sum(col("_ndep") - 1).as("violations"),
        sum(col("_n")).as("_nrows"),
        sum(col("_maxf")).as("_support"))
        .select(lit(det).as("det"), lit(dep).as("dep"),
          col("n_groups"), col("violations"),
          portableRound((col("_nrows") - col("_support")).cast("double") /
            col("_nrows").cast("double"), 6).as("g3_error"),
          (col("violations") === 0L).as("holds"))
    }.reduce(_ unionByName _)
  }

  /** ML4 — k-fold cross-validation of the ml1 trainer: per fold, train on
    * the other folds (the SAME [[logisticGd]] trajectory, on the
    * hash-filtered subset) and report held-out log-loss and accuracy.
    * Folds are md5-bucket assignments of the row key — the engine-portable
    * split every sampler here uses, so the oracle replays each fold's
    * full training AND its evaluation digit-exact.
    *
    * Shape: folds × (training scans + one eval aggregate); driver state
    * is folds × k coefficients. Eval terms fold as micro-unit BIGINTs
    * and accuracy compares the 1e-6-snapped score — deterministic on
    * both sides of the oracle. */
  def crossValLogreg(orders: DataFrame, folds: Int = 3, iters: Int = 3,
                     lr: Double = 0.5): DataFrame = {
    require(folds >= 2, s"folds must be >= 2, got $folds")
    val foldOf = Sampling.hashBucket(col("o_orderkey"), folds)
    // pin the feature projection ONCE: every fold's training iterations
    // and its eval read the cached frame instead of re-scanning the
    // source — the standard persist-the-training-set discipline for
    // iterative ML (folds × iters scans become one)
    val feat = logregFeatures(orders, Seq(foldOf.as("_fold"))).localCheckpoint()
    // ALL folds' GD steps ride ONE aggregate per iteration (ml5's
    // one-agg-per-iteration head-batching applied to folds — VERDICT r15
    // item 4): fold f's gradient terms are the SAME micro-unit longs the
    // per-fold filter produced, summed under a `_fold =!= f` guard with
    // 0 elsewhere, so every β trajectory is bit-identical to
    // logisticGdOnFeatures over the filtered frame while the job count
    // drops from folds × iters collects to iters. (The per-iteration
    // training logloss the trajectory form also computed is dropped: ml4
    // never read it — only the final betas feed the eval.)
    def micro(c: Column): Column = floor(c * 1000000.0 + 0.5).cast("long")
    var betas = Array.fill(folds)(Array(0.0, 0.0, 0.0))
    for (_ <- 1 to iters) {
      val aggs = (0 until folds).flatMap { f =>
        val b = betas(f)
        val z = lit(b(0)) * col("x0") + lit(b(1)) * col("x1") + lit(b(2)) * col("x2")
        val sg = lit(1.0) / (lit(1.0) + exp(-z))
        val m = col("_fold") =!= f
        sum(when(m, 1L).otherwise(0L)).as(s"n$f") +: (0 until 3).map(j =>
          sum(when(m, micro((sg - col("y")) * col(s"x$j"))).otherwise(0L))
            .as(s"g${f}_$j"))
      }
      val a = feat.agg(aggs.head, aggs.tail: _*).head
      betas = Array.tabulate(folds) { f =>
        val n = a.getLong(f * 4).toDouble
        require(n > 0, "crossValLogreg needs a non-empty training set per fold")
        Array.tabulate(3) { j =>
          val g = a.getLong(f * 4 + 1 + j)
          math.floor((betas(f)(j) - lr * (g.toDouble / 1000000.0 / n))
            * 1000000.0 + 0.5) / 1000000.0
        }
      }
    }
    // held-out eval: each row belongs to exactly ONE fold's validation
    // set, so the three per-fold aggregates fuse into one groupBy(_fold)
    // whose sigmoid picks the row's own fold's coefficients — same rows,
    // same arithmetic, one exchange instead of three aggregate branches
    val zF = (0 until folds).foldRight(lit(0.0)) { case (f, rest) =>
      val b = betas(f)
      when(col("_fold") === f,
        lit(b(0)) * col("x0") + lit(b(1)) * col("x1") + lit(b(2)) * col("x2"))
        .otherwise(rest)
    }
    val sg = (lit(1.0) / (lit(1.0) + exp(-zF))).as("sg")
    val sgcV = least(greatest(col("sg"), lit(1e-9)), lit(1.0) - lit(1e-9))
    feat.select(col("_fold"), col("y"), sg)
      .groupBy(col("_fold"))
      .agg(count(lit(1)).as("n_val"),
        sum(floor(-(col("y") * log(sgcV) +
            (lit(1.0) - col("y")) * log(lit(1.0) - sgcV)) * 1000000.0 + 0.5)
          .cast("long")).as("_ll"),
        sum(when((floor(col("sg") * 1000000.0 + 0.5) / 1000000.0 >= 0.5)
            === (col("y") === 1.0), 1L).otherwise(0L)).as("_ok"))
      .select(col("_fold").cast("long").as("fold"), col("n_val"),
        portableRound(col("_ll").cast("double") / 1000000.0 /
          col("n_val").cast("double"), 6).as("val_logloss"),
        portableRound(col("_ok").cast("double") /
          col("n_val").cast("double"), 6).as("val_acc"))
  }

  /** ML2 — reliability (calibration) bins of the trained model: decile
    * bins of predicted probability vs the observed positive rate — the
    * standard "is the classifier's confidence honest" readout after ml1.
    *
    * Shape: training (iters scans, §ml1) + ONE grouped aggregate over 10
    * bins; mean-predicted sums snap to micro-units (exact fold), observed
    * rates are integer ratios — every emitted double is a deterministic
    * function of exact integers. */
  def calibrationBins(orders: DataFrame, iters: Int = 3, lr: Double = 0.5,
                      bins: Int = 10): DataFrame = {
    require(bins >= 2, s"bins must be >= 2, got $bins")
    val scored = logregScores(orders, iters, lr)
    scored
      .withColumn("bin",
        least(floor(col("s6") * bins).cast("long"), lit(bins - 1L)))
      .groupBy(col("bin"))
      .agg(count(lit(1)).as("n"),
        sum(floor(col("s6") * 1000000.0 + 0.5).cast("long")).as("_ps"),
        sum(col("y")).as("_ys"))
      .select(col("bin"), col("n"),
        portableRound(col("_ps").cast("double") / 1000000.0 / col("n").cast("double"), 6)
          .as("avg_pred"),
        portableRound(col("_ys") / col("n").cast("double"), 6).as("obs_rate"))
  }

  /** ML3 — threshold-free discrimination of the trained model: exact AUC
    * by the grouped rank-sum (Mann–Whitney with midrank tie handling) +
    * accuracy at the 0.5 threshold.
    *
    * The AUC is computed over SCORE GROUPS, not rows: σ lives on the 1e-6
    * snap grid, so there are at most 10⁶ distinct scores AT ANY CORPUS
    * SIZE — the grouped cumulative window is bounded-size by construction
    * (the reason the snap exists), where a per-row rank window would be a
    * global sort of the corpus. Per-group contributions pos·(cumNegBelow
    * + neg/2) are half-integer-exact doubles, so the final sum is
    * order-free. */
  def logisticAuc(orders: DataFrame, iters: Int = 3, lr: Double = 0.5): DataFrame = {
    val scored = logregScores(orders, iters, lr)
    val g = scored.groupBy(col("s6"))
      .agg(count(lit(1)).cast("double").as("n_s"), sum(col("y")).as("pos_s"))
      .withColumn("neg_s", col("n_s") - col("pos_s"))
    val w = Window.orderBy(col("s6").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val contrib = g
      .withColumn("cum_neg_below", sum(col("neg_s")).over(w) - col("neg_s"))
      .select(col("pos_s"), col("neg_s"), col("n_s"),
        (col("pos_s") * (col("cum_neg_below") + col("neg_s") / 2.0)).as("c"),
        (when(col("s6") >= 0.5, col("pos_s")).otherwise(col("neg_s"))).as("correct"))
    // a single-class input has no rankable pairs: report the coin-flip
    // 0.5 instead of dividing by zero (reg1's degenerate-series posture)
    val nPos = sum(col("pos_s"))
    val nNeg = sum(col("n_s")) - sum(col("pos_s"))
    contrib.agg(
      sum(col("n_s")).cast("long").as("n"),
      sum(col("pos_s")).cast("long").as("n_pos"),
      when(nPos > 0 && nNeg > 0,
        portableRound(sum(col("c")) / (nPos * nNeg), 6))
        .otherwise(0.5).as("auc"),
      portableRound(sum(col("correct")) / sum(col("n_s")), 6).as("accuracy"))
  }

  def olsTrend(events: DataFrame): DataFrame = {
    val daily = events.groupBy(col("event_type"), to_date(col("ts")).as("day"))
      .agg((sum(col("value").cast("decimal(18,2)")) * 100).cast("long").as("cents"))
      .withColumn("eday",
        datediff(col("day"), lit("1970-01-01").cast("date")).cast("long"))
    val perType = Window.partitionBy(col("event_type"))
    val based = daily.withColumn("x", col("eday") - min(col("eday")).over(perType))
    // 19-digit operands so products land exactly in decimal(38,0) in BOTH
    // engines (38×38 would exceed DuckDB's precision cap)
    def d19(c: Column): Column = c.cast("decimal(19,0)")
    val m = based.groupBy(col("event_type")).agg(
      count(lit(1)).as("n_days"),
      sum(d19(col("x"))).as("sx"),
      sum(d19(col("cents"))).as("sy"),
      sum((d19(col("x")) * d19(col("cents"))).cast("decimal(38,0)")).as("sxy"),
      sum((d19(col("x")) * d19(col("x"))).cast("decimal(38,0)")).as("sxx"),
      sum((d19(col("cents")) * d19(col("cents"))).cast("decimal(38,0)")).as("syy"))
    val n = col("n_days").cast("double")
    val sx = col("sx").cast("double"); val sy = col("sy").cast("double")
    val sxy = col("sxy").cast("double"); val sxx = col("sxx").cast("double")
    val syy = col("syy").cast("double")
    val covN = n * sxy - sx * sy
    val varX = n * sxx - sx * sx
    val varY = n * syy - sy * sy
    val slope = covN / varX
    val intercept = (sy - slope * sx) / n
    val ok = col("n_days") > 1 && varX > 0
    m.select(col("event_type"), col("n_days"),
      when(ok, portableRound(slope / 100, 6)).otherwise(0.0).as("slope_per_day"),
      when(ok, portableRound(intercept / 100, 4)).otherwise(0.0).as("intercept"),
      when(ok && varY > 0, portableRound(covN * covN / (varX * varY), 6))
        .otherwise(0.0).as("r2"))
  }

  /** Ridge regression by distributed normal equations — the multivariate
    * sibling of [[olsTrend]]: price is regressed on quantity and discount
    * with an L2 penalty on the non-intercept coefficients, solved in
    * closed form from ONE Gram-matrix fold. This is the canonical
    * "X^T X fits in a register, X doesn't fit anywhere" pattern: at
    * 100 TB the only data-sized work is a map-side aggregate of nine
    * moments; the 3×3 Cramer solve runs on the single result row.
    *
    * Exactness: inputs integerize losslessly (quantity units, discount
    * hundredths, price cents), every Gram entry is an exact
    * decimal(38,0) fold (order-free under any partitioning), and the
    * Cramer determinants are ONE fixed textual double formula over
    * those exact operands — the oracle replays them digit for digit.
    * λ adds to the double-stage diagonal, so λ = 0 recovers OLS. */
  def ridgeNormalEq(lineitem: DataFrame, lambda: Double = 1000.0): DataFrame = {
    require(lambda >= 0, s"lambda must be >= 0, got $lambda")
    val base = lineitem.select(
      // via decimal, not a direct double→long cast: Spark ANSI truncates
      // there while DuckDB rounds — the decimal route rounds HALF_UP in
      // both engines, so a fractional quantity can never diverge
      col("l_quantity").cast("decimal(18,0)").cast("long").as("q"),
      (col("l_discount").cast("decimal(18,2)") * 100).cast("long").as("d"),
      (col("l_extendedprice").cast("decimal(18,2)") * 100).cast("long").as("y"))
    def d19(c: Column): Column = c.cast("decimal(19,0)")
    def p38(a: Column, b: Column): Column = (d19(a) * d19(b)).cast("decimal(38,0)")
    val m = base.agg(
      count(lit(1)).as("n"),
      sum(d19(col("q"))).as("sx1"), sum(d19(col("d"))).as("sx2"),
      sum(d19(col("y"))).as("sy"),
      sum(p38(col("q"), col("q"))).as("sx11"),
      sum(p38(col("q"), col("d"))).as("sx12"),
      sum(p38(col("d"), col("d"))).as("sx22"),
      sum(p38(col("q"), col("y"))).as("sx1y"),
      sum(p38(col("d"), col("y"))).as("sx2y"))
    val a11 = col("n").cast("double")
    val a12 = col("sx1").cast("double"); val a13 = col("sx2").cast("double")
    val a22 = col("sx11").cast("double") + lit(lambda)
    val a23 = col("sx12").cast("double")
    val a33 = col("sx22").cast("double") + lit(lambda)
    val b1 = col("sy").cast("double"); val b2 = col("sx1y").cast("double")
    val b3 = col("sx2y").cast("double")
    val dA = a11 * (a22 * a33 - a23 * a23) - a12 * (a12 * a33 - a23 * a13) +
      a13 * (a12 * a23 - a22 * a13)
    val d0 = b1 * (a22 * a33 - a23 * a23) - a12 * (b2 * a33 - a23 * b3) +
      a13 * (b2 * a23 - a22 * b3)
    val d1 = a11 * (b2 * a33 - a23 * b3) - b1 * (a12 * a33 - a23 * a13) +
      a13 * (a12 * b3 - b2 * a13)
    val d2 = a11 * (a22 * b3 - b2 * a23) - a12 * (a12 * b3 - b2 * a13) +
      b1 * (a12 * a23 - a22 * a13)
    val ok = dA =!= 0.0
    m.select(col("n"),
      when(ok, portableRound(d0 / dA / 100, 4)).otherwise(0.0).as("intercept"),
      when(ok, portableRound(d1 / dA / 100, 6)).otherwise(0.0).as("beta_qty"),
      when(ok, portableRound(d2 / dA / 100, 6)).otherwise(0.0).as("beta_disc"))
  }

  /** Lag-k autocorrelation of total daily revenue, k = 1..`maxLag` — the
    * seasonality fingerprint (a weekly cycle shows as a peak at lag 7)
    * that motivates [[dailyAnomaliesSeasonal]]'s weekday baseline. Each
    * lag's coefficient is the Pearson correlation of (day t, day t−k)
    * over the day pairs where BOTH ends exist — sparse calendars drop
    * pairs rather than fabricating zero-revenue days.
    *
    * Shape: after the daily rollup the series is one row per day —
    * codebook-sized forever — so the lag×day cross join and the
    * epoch-day equi self-join are metadata work, and each lag reduces to
    * ONE exact-decimal moment aggregate with a fixed-order double
    * formula. */
  def autocorrelation(events: DataFrame, maxLag: Int = 7): DataFrame = {
    require(maxLag >= 1, s"maxLag must be >= 1, got $maxLag")
    val daily = events.groupBy(to_date(col("ts")).as("day"))
      .agg((sum(col("value").cast("decimal(18,2)")) * 100).cast("long").as("cents"))
      .withColumn("eday",
        datediff(col("day"), lit("1970-01-01").cast("date")).cast("long"))
    val lags = events.sparkSession.range(1, maxLag + 1).select(col("id").as("lag"))
    val a = daily.select(col("eday").as("ea"), col("cents").as("xa"))
    val b = daily.select(col("eday").as("eb"), col("cents").as("xb"))
    def d19(c: Column): Column = c.cast("decimal(19,0)")
    val m = lags.crossJoin(a)
      .join(b, col("eb") === col("ea") - col("lag"))
      .groupBy(col("lag")).agg(
        count(lit(1)).as("n_pairs"),
        sum(d19(col("xa"))).as("sa"),
        sum(d19(col("xb"))).as("sb"),
        sum((d19(col("xa")) * d19(col("xb"))).cast("decimal(38,0)")).as("sab"),
        sum((d19(col("xa")) * d19(col("xa"))).cast("decimal(38,0)")).as("saa"),
        sum((d19(col("xb")) * d19(col("xb"))).cast("decimal(38,0)")).as("sbb"))
    val n = col("n_pairs").cast("double")
    val sa = col("sa").cast("double"); val sb = col("sb").cast("double")
    val sab = col("sab").cast("double"); val saa = col("saa").cast("double")
    val sbb = col("sbb").cast("double")
    val cov = n * sab - sa * sb
    val va = n * saa - sa * sa
    val vb = n * sbb - sb * sb
    val ok = col("n_pairs") > 1 && va > 0 && vb > 0
    m.select(col("lag"), col("n_pairs"),
      when(ok, portableRound(cov / (sqrt(va) * sqrt(vb)), 4))
        .otherwise(0.0).as("acf"))
  }

  /** Day-distance-weighted exponential moving average of daily revenue per
    * event type: each day's smoothed value averages the trailing `span`
    * CALENDAR days with weight (1−α)^distance — a gap ages out of the
    * smooth exactly as it would in the recursive EWMA, unlike a rows-frame
    * that would let month-old observations masquerade as "yesterday" for
    * sparse types.
    *
    * The weights are (1−α)^k rounded to 6 decimals IN THE PLAN (BigDecimal
    * constants, identical literals in both engines), each weighted term is
    * an exact decimal product, and only the final num/den division is
    * IEEE — so the result is independent of accumulation order AND of
    * libm's pow, which is not guaranteed bit-equal across engines.
    *
    * Shape: the band self-join runs on the post-rollup daily grid (one
    * row per type×day — codebook-sized), each row meeting at most `span`
    * partners; at 100 TB the only data-sized work is the first daily
    * aggregation. */
  /** The (1−α)^k weight ladder [[ewmaDaily]] embeds as decimal literals —
    * public so the oracle SQL is generated from the SAME constants (the
    * whole point: no cross-engine pow in the plan). */
  def ewmaWeights(alpha: Double, span: Int): Seq[java.math.BigDecimal] = {
    require(alpha > 0 && alpha < 1, s"alpha in (0,1), got $alpha")
    require(span >= 1, s"span must be >= 1, got $span")
    (0 until span).map { k =>
      new java.math.BigDecimal(1.0 - alpha).pow(k)
        .setScale(6, java.math.RoundingMode.HALF_UP)
    }
  }

  def ewmaDaily(events: DataFrame, alpha: Double = 0.3, span: Int = 10): DataFrame = {
    val weights = ewmaWeights(alpha, span)
    val daily = events.groupBy(col("event_type"), to_date(col("ts")).as("day"))
      .agg((sum(col("value").cast("decimal(18,2)")) * 100).cast("long").as("cents"))
      .withColumn("eday",
        datediff(col("day"), lit("1970-01-01").cast("date")).cast("long"))
    val cur = daily.select(col("event_type"), col("day"), col("eday"))
    val past = daily.select(col("event_type").as("bt"),
      col("eday").as("beday"), col("cents").as("bcents"))
    val wExpr = element_at(
      array(weights.map(w => lit(w).cast("decimal(10,6)")): _*),
      (col("eday") - col("beday")).cast("int") + 1)
    cur.join(past, col("bt") === col("event_type") &&
        col("beday") <= col("eday") && col("beday") > col("eday") - span)
      .groupBy(col("event_type"), col("day"))
      .agg(
        count(lit(1)).as("n_obs"),
        sum(wExpr * col("bcents").cast("decimal(19,0)")).as("num"),
        sum(wExpr).as("den"))
      .select(col("event_type"), date_format(col("day"), "yyyy-MM-dd").as("day"),
        col("n_obs"),
        portableRound(col("num").cast("double") / col("den").cast("double") / 100, 4)
          .as("ewma"))
  }

  /** Holt linear (double-exponential) smoothing of total daily revenue —
    * the level+trend sibling of [[ewmaDaily]]: l_t = α·y_t +
    * (1−α)(l_{t−1}+b_{t−1}), b_t = β(l_t−l_{t−1}) + (1−β)b_{t−1}, with
    * the classic init l_1 = y_1, b_1 = y_2−y_1, plus the one-step-ahead
    * forecast f_t = l_{t−1}+b_{t−1} that makes it a baseline
    * forecaster. α = 1/2 and β = 1/4 are exact binary fractions.
    *
    * Determinism: the recurrence is genuinely sequential, so each step
    * SNAPS level and trend to the 1e-6 grid (the ml1 trajectory
    * discipline) and the DuckDB oracle replays the fold as a recursive
    * CTE over the identical textual formula — bit-equal at every step.
    *
    * Shape: the ONLY data-sized work is the daily rollup (map-side
    * combinable); the fold runs on the collected daily grid, which is
    * calendar-bounded driver state (a decade of days is ~3.7k rows no
    * matter how many petabytes feed each day) — same bounded-metadata
    * discipline as the kmeans centroid collect. */
  def holtLinearDaily(events: DataFrame, alpha: Double = 0.5,
                      beta: Double = 0.25): DataFrame = {
    require(alpha > 0 && alpha < 1, s"alpha in (0,1), got $alpha")
    require(beta > 0 && beta < 1, s"beta in (0,1), got $beta")
    val daily = events.groupBy(to_date(col("ts")).as("day"))
      .agg((sum(col("value").cast("decimal(18,2)")) * 100).cast("long").as("cents"))
    val rows = daily.orderBy(col("day")).collect()
      .map(r => (r.getDate(0).toString, r.getLong(1)))
    require(rows.length >= 2, "holtLinearDaily needs at least 2 observed days")
    def r6(x: Double) = math.floor(x * 1000000.0 + 0.5) / 1000000.0
    def y(i: Int) = rows(i)._2.toDouble / 100
    var level = r6(y(0))
    var trend = r6(y(1) - y(0))
    val out = Array.newBuilder[(String, Double, Double, Double, Double)]
    out += ((rows(0)._1, y(0), level, trend, 0.0))
    for (i <- 1 until rows.length) {
      val f = r6(level + trend)
      val lNew = r6(alpha * y(i) + (1 - alpha) * (level + trend))
      val bNew = r6(beta * (lNew - level) + (1 - beta) * trend)
      level = lNew; trend = bNew
      out += ((rows(i)._1, y(i), level, trend, f))
    }
    val spark = events.sparkSession
    import spark.implicits._
    out.result().toSeq
      .toDF("day", "revenue", "level", "trend", "forecast")
  }

  /** Forecast-accuracy audit of [[holtLinearDaily]]'s one-step-ahead
    * forecasts — the eval leg the forecasting family lacked (hw1/st16
    * produce forecasts; nothing scored them), the same completion move
    * as the MT-eval quartet for translation: MAE, RMSE, sMAPE, and
    * MASE, the scale-free headline (Hyndman & Koehler 2006 — error
    * scaled by the in-sample naive lag-1 MAE, so MASE < 1 means the
    * model beats the naive "tomorrow = today" forecaster).
    *
    * Scored days are the rows with a real forecast (day 2 onward; day
    * 1's forecast is the 0.0 placeholder). Exactness: every per-day
    * term — |e|, e², the sMAPE ratio, the naive |Δy| — snaps to the
    * 1e-6 grid and folds as exact integer micro-units; the four finals
    * are single double formulas over those sums, replayed textually in
    * the oracle. A zero naive MAE (a constant series) fails loudly:
    * MASE is undefined there, not infinite-and-silent.
    *
    * Shape: [[holtLinearDaily]]'s daily rollup is the only data-sized
    * work; the scoring fold runs on the calendar-bounded grid. */
  def forecastAccuracy(events: DataFrame, alpha: Double = 0.5,
                       beta: Double = 0.25): DataFrame = {
    val h = holtLinearDaily(events, alpha, beta)
      .select(col("day"), col("revenue"), col("forecast"))
      .orderBy(col("day")).collect()
      .map(r => (r.getDouble(1), r.getDouble(2)))
    def micro(x: Double): Long = math.floor(x * 1000000.0 + 0.5).toLong
    var sae = 0L; var sse = 0L; var ssm = 0L; var snd = 0L
    for (i <- 1 until h.length) {
      val (y, f) = h(i); val yPrev = h(i - 1)._1
      val e = y - f
      sae += micro(math.abs(e))
      sse += micro(e * e)
      ssm += (if (math.abs(y) + math.abs(f) > 0)
        micro(2.0 * math.abs(e) / (math.abs(y) + math.abs(f))) else 0L)
      snd += micro(math.abs(y - yPrev))
    }
    require(snd > 0,
      "forecastAccuracy: constant series — the naive MAE is zero and MASE is undefined")
    val m = (h.length - 1).toDouble
    def r6(x: Double) = math.floor(x * 1000000.0 + 0.5) / 1000000.0
    val spark = events.sparkSession
    import spark.implicits._
    Seq((h.length.toLong, (h.length - 1).toLong,
      r6(sae.toDouble / 1000000.0 / m),
      r6(math.sqrt(sse.toDouble / 1000000.0 / m)),
      r6(ssm.toDouble / 1000000.0 / m),
      r6(sae.toDouble / snd.toDouble)))
      .toDF("n_days", "n_scored", "mae", "rmse", "smape", "mase")
  }

  /** Weekly OHLC bars per event type — open/high/low/close/volume, the
    * downsampling that turns a raw event stream into a chartable series.
    * Open/close are the values at the earliest/latest (ts, event_id) in
    * the bar (the id tiebreak makes simultaneous events deterministic);
    * high/low/total are plain extrema and an exact-decimal sum.
    *
    * Shape: ONE shuffle on (event_type, week) serves both the row_number
    * windows and the final aggregation (same keys → the exchange is
    * reused), and every aggregate is map-side combinable. Weeks are epoch
    * weeks (floor(epoch_day / 7)) — engine-portable, no locale WEEKOFYEAR
    * drift. */
  def weeklyOhlc(events: DataFrame): DataFrame = {
    val e = events.select(col("event_type"), col("ts"), col("event_id"),
      (col("value").cast("decimal(18,2)") * 100).cast("long").as("cents"),
      floor(datediff(to_date(col("ts")), lit("1970-01-01").cast("date")) / 7)
        .cast("long").as("week"))
    val asc = Window.partitionBy(col("event_type"), col("week"))
      .orderBy(col("ts").asc, col("event_id").asc)
    val desc = Window.partitionBy(col("event_type"), col("week"))
      .orderBy(col("ts").desc, col("event_id").desc)
    e.withColumn("rn", row_number().over(asc))
      .withColumn("rd", row_number().over(desc))
      .groupBy(col("event_type"), col("week"))
      .agg(
        count(lit(1)).as("n_events"),
        (max(when(col("rn") === 1, col("cents"))).cast("double") / 100).as("open"),
        (max(col("cents")).cast("double") / 100).as("high"),
        (min(col("cents")).cast("double") / 100).as("low"),
        (max(when(col("rd") === 1, col("cents"))).cast("double") / 100).as("close"),
        (sum(col("cents").cast("decimal(19,0)")).cast("double") / 100).as("total"))
      .select(col("event_type"),
        date_format(date_add(lit("1970-01-01").cast("date"),
          (col("week") * 7).cast("int")), "yyyy-MM-dd").as("week_start"),
        col("n_events"), col("open"), col("high"), col("low"), col("close"),
        col("total"))
  }

  /** Kaplan–Meier survival curve of user lifetime (first→last event day):
    * the non-parametric estimator Ŝ(t) = Π_{u≤t}(1 − d_u/n_u) over death
    * times, with right-censoring — a user whose last activity falls
    * within `censorDays` of the corpus end hasn't "churned", they're
    * still at risk, and counting them as deaths (the naive churn query)
    * biases every survival estimate down.
    *
    * Float discipline for the product: each factor's ln is rounded to 8
    * decimals, the running sum is exact decimal, and exp is applied once
    * per output row — the lm1/card1 entropy precedent, so both engines
    * replay identical values. A time point where EVERYONE at risk dies
    * (d = n) sends the curve exactly to 0 from then on (flag carried by a
    * prefix max, no ln(0) evaluated).
    *
    * Shape: one user-keyed aggregation (data-sized), then everything
    * runs on the distinct-duration grid — bounded by the observation
    * span in days, codebook-sized forever. */
  def survivalCurve(events: DataFrame, censorDays: Int = 7): DataFrame = {
    require(censorDays >= 0, s"censorDays: $censorDays")
    val byUser = events.groupBy(col("user_id")).agg(
      to_date(min(col("ts"))).as("first_day"),
      to_date(max(col("ts"))).as("last_day"))
    val end = events.agg(to_date(max(col("ts"))).as("end_day"))
    val durs = byUser.crossJoin(broadcast(end))
      .select(
        datediff(col("last_day"), col("first_day")).cast("long").as("t"),
        (datediff(col("end_day"), col("last_day")) < censorDays).as("censored"))
    val grid = durs.groupBy(col("t")).agg(
      count(lit(1)).as("m"),
      sum(when(col("censored"), 0L).otherwise(1L)).as("d"))
    val ord = Window.orderBy(col("t"))
    val pre = ord.rowsBetween(Window.unboundedPreceding, -1)
    val run = ord.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val whole = Window.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    val staged = grid
      .withColumn("n_risk", sum(col("m")).over(whole) -
        coalesce(sum(col("m")).over(pre), lit(0L)))
      .withColumn("lnterm",
        when(col("d") > 0 && col("d") < col("n_risk"),
          portableRound(log(lit(1.0) -
            col("d").cast("double") / col("n_risk").cast("double")), 8))
          .otherwise(lit(0.0)).cast("decimal(18,8)"))
      .withColumn("dead", max((col("d") === col("n_risk")).cast("int")).over(run))
      .withColumn("lnsum", sum(col("lnterm")).over(run))
    staged.filter(col("d") > 0)
      .select(col("t"), col("n_risk"), col("d").as("d_events"),
        when(col("dead") === 1, 0.0)
          .otherwise(portableRound(exp(col("lnsum").cast("double")), 4))
          .as("survival"))
  }

  /** Benford first-digit audit of order totals — the classic fabricated-
    * numbers screen: the observed first-significant-digit distribution of
    * o_totalprice against Benford's log10(1 + 1/d) expectation, with the
    * per-digit chi-square contribution. Organic multiplicative data
    * tracks Benford; invented or clipped values don't.
    *
    * First digit is taken from the EXACT cent representation (leading
    * char of the decimal string — no float formatting drift). One
    * map-side-combinable digit aggregation; expectations are literals. */
  def benfordAudit(orders: DataFrame): DataFrame = {
    val cents = (col("o_totalprice").cast("decimal(18,2)") * 100).cast("long")
    val digit = substring(cents.cast("string"), 1, 1)
    val byDigit = orders.filter(cents > 0)
      .select(digit.as("digit"))
      .groupBy(col("digit")).agg(count(lit(1)).as("n"))
    val total = byDigit.agg(sum(col("n")).as("n_total"))
    val expected = (1 to 9).map { dd =>
      (dd.toString, BigDecimal(math.log10(1.0 + 1.0 / dd))
        .setScale(8, BigDecimal.RoundingMode.HALF_UP))
    }
    val expDf = orders.sparkSession.createDataFrame(expected)
      .toDF("digit", "p_benford")
      .select(col("digit"), col("p_benford").cast("decimal(10,8)"))
    byDigit.join(broadcast(expDf), Seq("digit"))
      .crossJoin(broadcast(total))
      .select(col("digit"), col("n"),
        portableRound(col("n").cast("double") / col("n_total").cast("double"), 6)
          .as("p_observed"),
        col("p_benford").cast("double").as("p_benford"),
        portableRound(
          (col("n").cast("double") -
            col("p_benford").cast("double") * col("n_total").cast("double")) *
            (col("n").cast("double") -
              col("p_benford").cast("double") * col("n_total").cast("double")) /
            (col("p_benford").cast("double") * col("n_total").cast("double")), 6)
          .as("chi2_term"))
  }

  /** Weight-of-evidence binning of order value against a binary target
    * (urgent-or-high priority) — the credit-scoring feature transform:
    * per value-quartile WOE = ln(good-share / bad-share) with +1 Laplace
    * smoothing (so empty cells stay finite and deterministic), plus the
    * bin's information-value contribution and the total IV on every row.
    *
    * Shape: fences are ONE exact-percentile aggregate broadcast back
    * (the q7/hist2 anchor, swap in the sketch at 100 TB); the rest is a
    * digit-sized grid. WOE doubles follow the ln-then-round discipline;
    * IV sums the ROUNDED terms as decimals. */
  def woeBins(orders: DataFrame, bins: Int = 4): DataFrame = {
    require(bins >= 2, s"bins must be >= 2, got $bins")
    val good = col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    val fenceCols = (1 until bins).map(i =>
      portableRound(percentile(col("o_totalprice"), lit(i.toDouble / bins)), 4)
        .as(s"f$i"))
    val fences = orders.agg(fenceCols.head, fenceCols.tail: _*)
    val bin = (1 until bins).map(i =>
      (col("o_totalprice") > col(s"f$i")).cast("int")).reduce(_ + _).cast("long")
    val observed = orders.crossJoin(broadcast(fences))
      .select(bin.as("bin"), good.as("good"))
      .groupBy(col("bin")).agg(
        sum(when(col("good"), 1L).otherwise(0L)).as("n_good"),
        sum(when(col("good"), 0L).otherwise(1L)).as("n_bad"))
    // Densify onto the full 0..bins-1 grid: percentile fences can
    // collapse on skewed/discrete values, leaving bins with no rows —
    // those must still emit their Laplace-smoothed WOE rows (the
    // smoothing denominators already count ALL `bins` cells).
    val grid = orders.sparkSession.range(bins).select(col("id").as("bin"))
    val cells = grid.join(observed, Seq("bin"), "left")
      .select(col("bin"),
        coalesce(col("n_good"), lit(0L)).as("n_good"),
        coalesce(col("n_bad"), lit(0L)).as("n_bad"))
    val totals = cells.agg(sum(col("n_good")).as("g_all"), sum(col("n_bad")).as("b_all"))
    val pg = (col("n_good") + 1).cast("double") / (col("g_all") + bins).cast("double")
    val pb = (col("n_bad") + 1).cast("double") / (col("b_all") + bins).cast("double")
    val woe = portableRound(log(pg / pb), 6)
    val scored = cells.crossJoin(broadcast(totals))
      .withColumn("woe", woe)
      .withColumn("iv_term",
        portableRound((pg - pb) * col("woe"), 8).cast("decimal(18,8)"))
    val whole = Window.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    scored
      .withColumn("iv_total", portableRound(sum(col("iv_term")).over(whole).cast("double"), 4))
      .select(col("bin"), col("n_good"), col("n_bad"), col("woe"),
        col("iv_term").cast("double").as("iv_term"), col("iv_total"))
  }

  /** Leave-one-out target encoding of a categorical key — the standard
    * leakage-safe way to turn a high-cardinality category into a numeric
    * feature: each row gets the mean target of its category EXCLUDING
    * ITSELF ((Σ_cat − y)/(n_cat − 1)), so the feature never contains the
    * row's own label; singleton categories fall back to the global mean.
    *
    * Shape: one hash aggregation on the category key (map-side
    * combinable), the per-category sums broadcast back (dimension-sized),
    * the global mean a 1-row broadcast — no window, no self-join, one
    * data-sized pass. Exact decimal sums; the subtraction happens in
    * decimals and only the final division is IEEE. */
  def targetEncodeLoo(orders: DataFrame): DataFrame = {
    val o = orders.select(col("o_orderkey"), col("o_orderpriority"),
      (col("o_totalprice").cast("decimal(18,2)") * 100).cast("long").as("cents"))
    val cat = o.groupBy(col("o_orderpriority")).agg(
      count(lit(1)).as("n_cat"),
      sum(col("cents").cast("decimal(19,0)")).as("s_cat"))
    val glob = o.agg(count(lit(1)).as("n_all"),
      sum(col("cents").cast("decimal(19,0)")).as("s_all"))
    o.join(broadcast(cat), Seq("o_orderpriority"))
      .crossJoin(broadcast(glob))
      .select(col("o_orderkey"), col("o_orderpriority"),
        portableRound(
          when(col("n_cat") > 1,
            (col("s_cat") - col("cents")).cast("double") /
              (col("n_cat") - 1).cast("double"))
            .otherwise(col("s_all").cast("double") / col("n_all").cast("double"))
            / 100, 4).as("loo_target_mean"))
  }

  /** Unbiased pass@k (Chen et al. 2021, "Evaluating Large Language
    * Models Trained on Code"): per problem with `n` samples of which `c`
    * pass, pass@k = 1 − C(n−c, k)/C(n, k), computed in the numerically
    * stable product form 1 − Π_{j=0..k−1} (n−c−j)/(n−j) — the estimator
    * every code-eval harness reports. Problems are the documents;
    * per-sample verdicts are salted-hash draws (sample s of problem d
    * passes iff md5Bucket("passk:d:s") clears a per-problem threshold),
    * so the whole "eval run" is reproducible cross-engine — scoring a
    * REAL eval table swaps the verdict expression for a column.
    *
    * Determinism: c is an exact integer fold of `n` in-row hash
    * verdicts; each problem's pass@k is a fixed-order product of exact
    * small-integer ratios snapped to 1e-6; per-source means fold the
    * snapped values as micro-unit BIGINTs. One projection + ONE
    * aggregation on source — corpus-linear, no joins. */
  def passAtK(documents: DataFrame, n: Int = 10, ks: Seq[Int] = Seq(1, 5),
              salt: String = "passk"): DataFrame = {
    require(n >= 1 && n <= 64, s"n out of range: $n")
    require(ks.nonEmpty && ks.forall(k => k >= 1 && k <= n),
      s"each k must be in [1, $n]: $ks")
    // per-problem pass rate varies by doc_id so c spans the full range
    val thresh = pmod(col("doc_id"), lit(11)) * 1000
    val c = (1 to n).map { s =>
      (graft.operators.Sampling.hashBucket(
        concat(lit(s"$salt:"), col("doc_id").cast("string"),
          lit(":"), lit(s.toString))) < thresh).cast("int")
    }.reduce(_ + _)
    def r6(x: Column) = floor(x * 1000000.0 + 0.5) / 1000000.0
    // Π greatest(n−c−j, 0)/(n−j), j ascending — a zero factor (c > n−k)
    // pins the product at 0 → pass@k = 1, the C(n−c,k) = 0 case
    def passK(k: Int): Column = r6(lit(1.0) - (0 until k).map(j =>
      greatest(lit((n - j).toDouble) - col("_c").cast("double"), lit(0.0)) /
        lit((n - j).toDouble)).reduce(_ * _))
    val perDoc = documents.select(col("source"), c.as("_c"))
    val aggs = Seq(count(lit(1)).as("n_problems"),
      sum(col("_c").cast("long")).as("total_passed")) ++
      ks.map(k => sum(floor(col(s"_p$k") * 1000000.0 + 0.5).cast("long"))
        .as(s"_m$k"))
    val withP = ks.foldLeft(perDoc)((d, k) => d.withColumn(s"_p$k", passK(k)))
    withP.groupBy(col("source")).agg(aggs.head, aggs.tail: _*)
      .select(Seq(col("source"), col("n_problems"), col("total_passed")) ++
        ks.map(k => r6(col(s"_m$k").cast("double") / 1000000.0 /
          col("n_problems").cast("double")).as(s"pass_at_$k")): _*)
  }

  /** Bradley–Terry strengths from pairwise preferences, fit by Zermelo's
    * MM iteration — the preference-ranking primitive under RLHF reward
    * evaluation and arena-style model leaderboards: given win counts
    * w_ij, iterate s_i ← W_i / Σ_j n_ij/(s_i + s_j), renormalizing to
    * mean 1. Preferences here are deterministic: consecutive documents
    * (doc_id, doc_id+1) with different langs are a comparison between
    * their langs, won by the higher t2 quality score (snapped — ties
    * skipped), so the tournament replays cross-engine; a REAL preference
    * table drops in by swapping the pair construction.
    *
    * Determinism, the ml1/kmeans discipline end to end: per-iteration
    * denominator TERMS snap to micro-units and fold as exact BIGINTs
    * (order-free), strengths snap to the 1e-6 grid after the update AND
    * after the integer-total renormalization, so the DuckDB oracle
    * unrolls all `iters` MM steps digit-exact. Two items that compared
    * can never both sit at strength 0 (one of them won), so the update
    * is total.
    *
    * Scale shape: one corpus-sized self-join on the consecutive-id key +
    * ONE aggregation to the ≤ items² win matrix; MM runs on the matrix
    * (driver state = items × strengths, the codebook contract). */
  def bradleyTerry(documents: DataFrame, iters: Int = 5): DataFrame = {
    require(iters >= 1, s"iters must be >= 1, got $iters")
    val scored = documents.select(col("doc_id"), col("lang"),
      graft.operators.TextAnalysis.qualityExpr.as("q"))
    val pairs = scored.alias("x").join(scored.alias("y"),
        col("x.doc_id") + 1 === col("y.doc_id"))
      .filter(col("x.lang") =!= col("y.lang") && col("x.q") =!= col("y.q"))
      .select(
        when(col("x.q") > col("y.q"), col("x.lang")).otherwise(col("y.lang"))
          .as("winner"),
        when(col("x.q") > col("y.q"), col("y.lang")).otherwise(col("x.lang"))
          .as("loser"))
    val cells = pairs.groupBy(col("winner"), col("loser"))
      .agg(count(lit(1)).as("w")).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2)))
    require(cells.nonEmpty, "no comparisons — need ≥ 2 langs with quality ties broken")
    val items = cells.flatMap(c => Seq(c._1, c._2)).distinct.sorted
    val wins = items.map(i => i -> cells.filter(_._1 == i).map(_._3).sum).toMap
    val nij = items.map(i => i -> items.map(j =>
      j -> (cells.filter(c => c._1 == i && c._2 == j).map(_._3).sum +
        cells.filter(c => c._1 == j && c._2 == i).map(_._3).sum)).toMap).toMap
    var s = items.map(_ => 1.0).toArray
    for (_ <- 1 to iters) {
      val raw = items.zipWithIndex.map { case (i, ii) =>
        val den = items.zipWithIndex.collect {
          case (j, jj) if j != i && nij(i)(j) > 0 =>
            math.floor(nij(i)(j).toDouble / (s(ii) + s(jj)) * 1000000.0 + 0.5).toLong
        }.sum
        val r = wins(i).toDouble * 1000000.0 / den.toDouble
        math.floor(r * 1000000.0 + 0.5) / 1000000.0
      }
      val tot = raw.map(v => math.floor(v * 1000000.0 + 0.5).toLong).sum
      s = raw.map(v => math.floor(
        v * items.size.toDouble * 1000000.0 / tot.toDouble * 1000000.0 + 0.5)
        / 1000000.0).toArray
    }
    val spark = documents.sparkSession
    import spark.implicits._
    val ranked = items.zipWithIndex
      .map { case (i, ii) => (i, wins(i), items.collect {
        case j if j != i => nij(i)(j) }.sum, s(ii)) }
      .sortBy { case (i, _, _, st) => (-st, i) }
      .zipWithIndex
      .map { case ((i, w, nc, st), r) => (i, w, nc, st, (r + 1).toLong) }
    ranked.toSeq.toDF("lang", "wins", "comparisons", "strength", "rank")
  }

  /** GBT1 — gradient-boosted depth-1 regression trees (stumps) under
    * squared loss, the XGBoost/LightGBM histogram discipline taken to its
    * contraction limit. Features are PRE-BINNED (price cents into 8
    * equi-width bins over the public [0, 600k) range, order priority
    * ordinal 0..4, order month 0..11) and the loss is squared, so the
    * per-row gradient is linear in the label — which means the ENTIRE
    * boosted ensemble is a function of the ≤ 8·5·12 = 480-cell bin-grid
    * contraction (per cell: row count + label sum). One map-side-
    * combinable corpus aggregation, then every round runs on that
    * bounded state: residual histograms, split gains, leaf weights and
    * the training SSE are all exact integer functions of (n, Σy, pred)
    * per cell. Per-round trees beat one deep tree here because each
    * round re-fits the residual left by every earlier split.
    *
    * Determinism is total — there are NO floating-point steps in the
    * trajectory: labels are micro-units (1e6·y), predictions are sums of
    * micro-leaf weights, split gains compare as exact integers
    * (gain_micro = (GL²·NR + GR²·NL)·1e6 div (NL·NR), all terms
    * non-negative so floor = truncate in every engine), and leaf weights
    * are half-up-rounded η·mean-residual in micro-units via the
    * non-negative identity round(|G|/(2N)) = (2|G| + 2N) div (4N).
    * Ties break on (feature, split) ascending. The DuckDB oracle replays
    * each round as a materialized CTE chain over the same cell table
    * (HUGEINT arithmetic; exact through ~sf10, unbounded BigInt here).
    *
    * Shape at 100 TB: ONE corpus scan contracting to ≤480 rows
    * (partial-agg combines to 480/partition before the exchange), then
    * `rounds` iterations of driver math on that grid — collect() is
    * bounded by the bin-grid product, CONSTANT in corpus size (kmeans1's
    * k×dim discipline). No per-round corpus passes: the classic
    * boosting re-scan disappears because squared-loss gradients
    * aggregate linearly. */
  def boostedStumps(orders: DataFrame, rounds: Int = 5): DataFrame = {
    require(rounds >= 1 && rounds <= 16, s"rounds out of range: $rounds")
    val nbins = Array(8, 5, 12)
    val featName = Array("price", "priority", "month")
    val cells = orders.select(
        least(expr("cast(cast(o_totalprice as decimal(18,2)) * 100 as bigint) div 7500000"),
          lit(7L)).cast("int").as("b0"),
        (substring(col("o_orderpriority"), 1, 1).cast("int") - 1).as("b1"),
        (month(col("o_orderdate")) - 1).as("b2"),
        when(col("o_orderstatus") === "F", 1000000L).otherwise(0L).as("ym"))
      .groupBy(col("b0"), col("b1"), col("b2"))
      .agg(count(lit(1)).as("n"), sum(col("ym")).as("sy"))
      .collect()  // bounded: <= 480 bin-grid cells, constant in corpus size
      .map(r => (Array(r.getInt(0), r.getInt(1), r.getInt(2)),
        r.getLong(3), r.getLong(4)))
    require(cells.nonEmpty, "boostedStumps needs a non-empty training set")
    // half-up-rounded eta*mean-residual in micro-units (eta = 1/2):
    // sign-split so both divisions are non-negative (floor = truncate)
    def leaf(g: BigInt, cnt: BigInt): Long = {
      val q = (2 * g.abs + 2 * cnt) / (4 * cnt)
      (if (g < 0) -q else q).toLong
    }
    var stumps = Vector.empty[(Int, Int, Long, Long)] // (feat, split, wl, wr)
    val out = scala.collection.mutable.ArrayBuffer
      .empty[(Long, String, Long, Long, Long, Double, Double, Double, Double)]
    for (t <- 1 to rounds) {
      val state = cells.map { case (b, n, sy) =>
        val p = stumps.iterator
          .map { case (f, s, wl, wr) => if (b(f) <= s) wl else wr }.sum
        (b, BigInt(n), BigInt(sy), BigInt(p))
      }
      // SSE of the current ensemble: y in {0, 1e6} so sum(y^2) = 1e6*sy
      val sse = state.iterator.map { case (_, n, sy, p) =>
        BigInt(1000000) * sy - 2 * p * sy + n * p * p }.sum
      // residual histograms over PRESENT bins only (mirrors the oracle,
      // which can only see bins that occur in the cell table)
      val g = Array.tabulate(3)(f => Array.fill(nbins(f))(BigInt(0)))
      val c = Array.tabulate(3)(f => Array.fill(nbins(f))(BigInt(0)))
      for ((b, n, sy, p) <- state; f <- 0 until 3) {
        g(f)(b(f)) += sy - n * p
        c(f)(b(f)) += n
      }
      // candidates: present bins below the top present bin of the feature
      var best: (BigInt, Int, Int, BigInt, BigInt, BigInt, BigInt) = null
      for (f <- 0 until 3) {
        val present = (0 until nbins(f)).filter(b => c(f)(b) > 0)
        val gt = present.map(g(f)(_)).sum
        val nt = present.map(c(f)(_)).sum
        var gl = BigInt(0); var nl = BigInt(0)
        for (s <- present.dropRight(1)) {
          gl += g(f)(s); nl += c(f)(s)
          val (gr, nr) = (gt - gl, nt - nl)
          val gain = (gl * gl * nr + gr * gr * nl) * 1000000 / (nl * nr)
          if (best == null || gain > best._1) best = (gain, f, s, gl, nl, gr, nr)
        }
      }
      require(best != null,
        "boostedStumps found no valid split: every row falls in one bin cell")
      val (gain, f, s, gl, nl, gr, nr) = best
      val (wl, wr) = (leaf(gl, nl), leaf(gr, nr))
      stumps :+= ((f, s, wl, wr))
      out += ((t.toLong, featName(f), s.toLong, nl.toLong, nr.toLong,
        wl.toDouble / 1e6, wr.toDouble / 1e6,
        gain.toDouble / 1e6, sse.toDouble / 1e12))
    }
    val spark = orders.sparkSession
    import spark.implicits._
    out.toSeq.toDF("iter", "feature", "split", "n_left", "n_right",
      "wl", "wr", "gain", "sse_before").orderBy(col("iter"))
  }

  /** ALS1 — rank-2 alternating least squares on the customer × part
    * purchase matrix (rating = total quantity), the matrix-factorization
    * family done the Spark-classic way: NO driver state at all — each
    * half-step is one grouped aggregation of Gram moments plus a per-row
    * closed-form 2×2 ridge solve (Cramer), i.e. the per-key incarnation
    * of ridge1's "X^T X fits in a register" pattern. Item factors seed
    * from an integer hash of the part key (deterministic "random" init,
    * identical in any engine); one full alternation solves users then
    * re-solves items; per-item fit SSE against the updated factors is
    * the readout.
    *
    * Exactness: factors live on the MILLI (1e-3) grid as integers, so
    * every Gram entry (milli², scale 1e-6) and moment (milli·rating,
    * scale 1e-3) folds as an exact decimal(38,0); λ = 0.1 is exactly
    * 100000 in the shared 1e-6 Gram scale in BOTH half-steps. The solve
    * snaps via the non-negative half-up identity
    * sign(n)·((2|n|·1e6 + det) div (2·det)) — operands non-negative, so
    * Spark's truncating `div` and DuckDB's flooring `//` agree; det > 0
    * always (ridge-regularized PSD Gram). Prediction error is exact in
    * micro-units (milli·milli), so the per-item SSE replays digit for
    * digit. Magnitudes stay under decimal(38,0)/HUGEINT through ~sf10.
    *
    * Shape at 100 TB: the ratings rollup is the only corpus-sized
    * exchange, localCheckpointed so its four consumers (item init, user
    * solve, item solve, fit join) never re-scan lineitem; everything
    * after is keyed by user or item and map-side combinable. Factors
    * shuffle as 2 longs per key — never a dense matrix. */
  def alternatingLs(lineitem: DataFrame, orders: DataFrame,
                    lambdaGramMicro: Long = 100000L): DataFrame = {
    require(lambdaGramMicro > 0,
      s"lambdaGramMicro must be positive, got $lambdaGramMicro")
    def d38(c: Column): Column = c.cast("decimal(38,0)")
    // total quantity a customer bought of a part — the rating matrix;
    // quantity integerizes via decimal (ANSI-safe, HALF_UP both engines)
    val ratings = lineitem
      .join(orders.select(col("o_orderkey"), col("o_custkey")),
        col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("o_custkey").as("u"), col("l_partkey").as("p"))
      .agg(sum(col("l_quantity").cast("decimal(18,0)").cast("long")).as("r"))
      .localCheckpoint()
    // hash-seeded item factors in milli-units, [-500, 500): two odd
    // multipliers, pure functions of p computed INLINE on the ratings
    // (no distinct/join — the "factor table" for the init never exists)
    val withQ0 = ratings
      .withColumn("q1", col("p") * lit(2654435761L) % 1000 - 500)
      .withColumn("q2", col("p") * lit(97003L) % 1000 - 500)
    // one ridge-regularized 2x2 Cramer solve per group, milli-snapped:
    // shared by both half-steps (same scales by construction)
    def solve(grouped: DataFrame, key: String, f1: String, f2: String) = {
      // Gram moments fold as LONGS (codegen'd hash-agg fast path, ~2x
      // the decimal fold): |factor| <= ~1e6 milli so each term is
      // <= 1e12 and a group needs > ~9e6 ratings on one key to overflow
      // — ANSI throws loudly there, never silently wrong. The Cramer
      // products below go through decimal(38,0) where 128-bit is real.
      val a = grouped.groupBy(col(key))
        .agg((sum(col(f1) * col(f1)) + lambdaGramMicro).as("a11"),
          sum(col(f1) * col(f2)).as("a12"),
          (sum(col(f2) * col(f2)) + lambdaGramMicro).as("a22"),
          sum(col(f1) * col("r")).as("b1"),
          sum(col(f2) * col("r")).as("b2"),
          count(lit(1)).as("n"))
      val withDet = a.select(col(key), col("n"),
        (d38(col("a11")) * d38(col("a22"))
          - d38(col("a12")) * d38(col("a12"))).as("dd"),
        (d38(col("b1")) * d38(col("a22"))
          - d38(col("b2")) * d38(col("a12"))).as("n1"),
        (d38(col("a11")) * d38(col("b2"))
          - d38(col("a12")) * d38(col("b1"))).as("n2"))
      def snap(num: Column) = when(num >= 0, milliQuot(num, col("dd")))
        .otherwise(-milliQuot(-num, col("dd")))
      withDet.select(col(key), col("n"),
        snap(col("n1")).as("f1m"), snap(col("n2")).as("f2m"))
    }
    val uf = solve(withQ0, "u", "q1", "q2")
    // corpus-sized and consumed twice (item solve + fit): materialize so
    // the user solve never replays
    val withU = ratings.join(uf.select(col("u"), col("f1m").as("u1"),
      col("f2m").as("u2")), "u").localCheckpoint()
    val qf = solve(withU, "p", "u1", "u2")
    // fit: per-item SSE of the updated factors against the solved users
    // (prediction is exact micro-units: milli * milli)
    val fit = withU
      .join(qf.select(col("p"), col("n").as("n_ratings"),
        col("f1m").as("nq1"), col("f2m").as("nq2")), "p")
      .select(col("p"), col("n_ratings"), col("nq1"), col("nq2"),
        (col("r") * 1000000L
          - (col("u1") * col("nq1") + col("u2") * col("nq2"))).as("e"))
      .groupBy(col("p"), col("n_ratings"), col("nq1"), col("nq2"))
      .agg(sum(d38(col("e")) * d38(col("e"))).as("sse_micro2"))
    // init factors are a pure function of p — recomputed inline, no join
    fit.select(col("p").as("p_partkey"), col("n_ratings"),
        ((col("p") * lit(2654435761L) % 1000 - 500).cast("double") / 1000)
          .as("q1_init"),
        ((col("p") * lit(97003L) % 1000 - 500).cast("double") / 1000)
          .as("q2_init"),
        (col("nq1").cast("double") / 1000).as("q1_new"),
        (col("nq2").cast("double") / 1000).as("q2_new"),
        (col("sse_micro2").cast("double") / 1e12).as("sse"))
      .orderBy(col("p_partkey"))
  }

  /** ISO1 — isotonic calibration of the ml1-trained model by
    * pool-adjacent-violators (PAVA) over score-ventile bins: the
    * monotone calibration MAP that ml2's reliability diagram only
    * diagnoses. Scores bin exactly as ml2 (floor(s6·bins) on the
    * 1e-6-snapped sigmoid); per-bin (n, Σy) are exact longs; PAVA then
    * repeatedly merges the FIRST adjacent violation — rate_i > rate_i+1
    * compared as the exact cross product sy_i·n_i+1 > sy_i+1·n_i, no
    * division anywhere — until the pooled rates are monotone. The
    * deterministic first-violation order replays in the oracle as
    * bins−1 materialized merge stages (identity stages once converged),
    * and each original bin reports its pooled segment.
    *
    * Shape at 100 TB: the iters GD scans (ml1's budget) + ONE grouped
    * aggregation to ≤ bins rows; PAVA runs on that constant-size state
    * (collect bounded by `bins`, like gbt1's grid). The isotonic fit
    * over B bins is O(B) — the classic in-core PAVA — because pooling
    * only ever needs the bin sums, never the rows. */
  def isotonicCalibration(orders: DataFrame, iters: Int = 3,
                          lr: Double = 0.5, bins: Int = 20): DataFrame = {
    require(bins >= 2 && bins <= 64, s"bins out of range: $bins")
    val raw = logregScores(orders, iters, lr)
      .withColumn("bin",
        least(floor(col("s6") * bins).cast("long"), lit(bins - 1L)))
      .groupBy(col("bin"))
      .agg(count(lit(1)).as("n"), sum(col("y")).cast("long").as("sy"))
      .collect()  // bounded: <= bins rows, constant in corpus size
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      .sortBy(_._1)
    require(raw.nonEmpty, "isotonicCalibration needs a non-empty corpus")
    val segs = pava(raw.map { case (b, n, sy) => (b, sy, n) })
    val rows = raw.map { case (b, n, sy) =>
      val (_, psy, pn) = segs.filter(_._1 <= b).last
      (b, n, sy, sy.toDouble / n, psy, pn, psy.toDouble / pn)
    }
    val spark = orders.sparkSession
    import spark.implicits._
    rows.toSeq
      .toDF("bin", "n", "sy", "raw_rate", "iso_sy", "iso_n", "iso_rate")
      .orderBy(col("bin"))
  }

  /** DTW1 — banded (Sakoe–Chiba) dynamic time warping between the
    * purchase and click daily-revenue series: the sequence-alignment
    * family's entry (acf1 compares a series to itself at a lag; DTW
    * aligns two series allowing local tempo drift). Unit steps
    * (diag/up/left), per-cell cost |a_i − b_j| in exact cents, band
    * half-width max(7, |n−m|+1) so the corner is always reachable — the
    * standard O(days·w) variant that survives long calendars where the
    * full days² table would not. The alignment window is the TRAILING
    * `maxDays` of each series (a static contract, like uni1's
    * maxWordLen, so the oracle's DP stages unroll to a fixed count).
    *
    * Exactness: the DP is pure long arithmetic; the emitted warping
    * path uses the deterministic backtrace tie order diag ≻ up ≻ left.
    * The oracle replays the band DP as a recursive anti-diagonal
    * wavefront (each generation carries the previous one, uni1's
    * multi-recursive-CTE discipline) and the backtrace as a second
    * recursion over the deduped cell table.
    *
    * Shape at 100 TB: ONE corpus scan (the (day, type) rollup,
    * map-side combinable); the DP runs on calendar-bounded driver state
    * — days·w cells, constant in corpus size (hw1's collect contract). */
  def dtwDaily(events: DataFrame, minBand: Int = 7,
               maxDays: Int = 40): DataFrame = {
    require(minBand >= 1, s"minBand: $minBand")
    require(maxDays >= 2 && maxDays <= 128, s"maxDays: $maxDays")
    val daily = events
      .filter(col("event_type").isin("purchase", "click"))
      .groupBy(to_date(col("ts")).as("day"), col("event_type"))
      .agg((sum(col("value").cast("decimal(18,2)")) * 100).cast("long")
        .as("cents"))
      .collect()  // calendar-bounded: <= 2 rows per observed day
      .map(r => (r.getDate(0).toString, r.getString(1), r.getLong(2)))
    // the alignment CONTRACT is the trailing maxDays of each series:
    // it bounds the unrolled oracle stages and the DP table statically
    val a = daily.filter(_._2 == "purchase").sortBy(_._1).map(_._3)
      .takeRight(maxDays)
    val b = daily.filter(_._2 == "click").sortBy(_._1).map(_._3)
      .takeRight(maxDays)
    require(a.nonEmpty && b.nonEmpty,
      "dtwDaily needs both purchase and click days")
    val (n, m) = (a.length, b.length)
    val w = math.max(minBand, math.abs(n - m) + 1)
    val INF = Long.MaxValue / 4
    val d = Array.fill(n + 1, m + 1)(INF)
    d(0)(0) = 0L
    for (i <- 1 to n; j <- 1 to m if math.abs(i - j) <= w) {
      val c = math.abs(a(i - 1) - b(j - 1))
      d(i)(j) = c + math.min(d(i - 1)(j - 1), math.min(d(i - 1)(j), d(i)(j - 1)))
    }
    require(d(n)(m) < INF, "dtwDaily: band left the corner unreachable")
    // backtrace, tie order diag > up > left (mirrored in the oracle)
    var (i, j) = (n, m)
    val path = scala.collection.mutable.ArrayBuffer.empty[(Int, Int, Long)]
    while (i > 0 && j > 0) {
      path += ((i, j, math.abs(a(i - 1) - b(j - 1))))
      if (i == 1 && j == 1) { i = 0; j = 0 }
      else {
        val diag = if (i > 1 && j > 1) d(i - 1)(j - 1) else INF
        val up = if (i > 1) d(i - 1)(j) else INF
        val left = if (j > 1) d(i)(j - 1) else INF
        val best = math.min(diag, math.min(up, left))
        if (diag == best) { i -= 1; j -= 1 }
        else if (up == best) { i -= 1 }
        else { j -= 1 }
      }
    }
    val ordered = path.reverse
    val cum = ordered.scanLeft(0L)(_ + _._3).tail
    val spark = events.sparkSession
    import spark.implicits._
    ordered.zip(cum).zipWithIndex.map { case (((pi, pj, c), cc), idx) =>
      ((idx + 1).toLong, pi.toLong, pj.toLong,
        c.toDouble / 100, cc.toDouble / 100)
    }.toSeq.toDF("step", "i", "j", "step_cost", "cum_cost")
      .orderBy(col("step"))
  }

  /** ATT1 — position-based (U-shaped) multi-touch attribution: each
    * purchase's revenue splits across ALL the user's preceding touches
    * since their prior purchase — 40% to the first touch, 40% to the
    * last, 20% shared by the middles (1 touch → 100%, 2 → 50/50) — the
    * many-touch complement of asof1's single last-click credit.
    *
    * Assignment is one backward fill: the union stream of touches and
    * purchases, ordered per user by (ts, event_id) DESCENDING, carries
    * each purchase's id and exact cents back to every earlier touch via
    * `last(..., ignoreNulls)` — the nearest FOLLOWING purchase in real
    * order. Touches after the user's final purchase stay unattributed
    * and drop. Credit fractions are exact rationals (2/5, 1/2, 1,
    * 1/(5·(n−2))) applied in micro-units with the half-up
    * subtract-mod-divide floor — cents·1e6·num stays well under 2^53,
    * so the double division is exact.
    *
    * Shape at 100 TB: two windows (the per-user backward fill, the
    * per-conversion rank) and one grouped rollup to the channel
    * dimension — no joins at all; the stream shuffles once on user_id
    * and once on (user, purchase), both map-side combinable after. */
  def positionAttribution(events: DataFrame): DataFrame = {
    val st = events
      .filter(col("event_type").isin("click", "view", "purchase"))
      .select(col("user_id"), col("ts"), col("event_id"),
        when(col("event_type") === "purchase", col("event_id")).as("pid"),
        when(col("event_type") === "purchase",
          (col("value").cast("decimal(18,2)") * 100).cast("long")).as("cents"),
        when(col("event_type").isin("click", "view"),
          concat(col("event_type"), lit("_"),
            (get_json_object(col("props"), "$.k").cast("long") % 4)
              .cast("string"))).as("channel"))
    val back = Window.partitionBy(col("user_id"))
      .orderBy(col("ts").desc, col("event_id").desc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val assigned = st
      .withColumn("cpid", last(col("pid"), ignoreNulls = true).over(back))
      .withColumn("ccents", last(col("cents"), ignoreNulls = true).over(back))
      .filter(col("channel").isNotNull && col("cpid").isNotNull)
    val conv = Window.partitionBy(col("user_id"), col("cpid"))
    val ranked = assigned
      .withColumn("rn", row_number().over(
        conv.orderBy(col("ts"), col("event_id"))))
      .withColumn("n", count(lit(1)).over(conv))
    val credited = ranked.select(col("channel"), col("cpid"),
      when(col("n") === 1, struct(lit(1L).as("num"), lit(1L).as("den")))
        .when(col("n") === 2, struct(lit(1L).as("num"), lit(2L).as("den")))
        .when(col("rn") === 1 || col("rn") === col("n"),
          struct(lit(2L).as("num"), lit(5L).as("den")))
        .otherwise(struct(lit(1L).as("num"),
          (lit(5L) * (col("n") - 2)).as("den"))).as("f"),
      col("ccents"))
      .select(col("channel"), col("cpid"), {
        // half-up micro credit: floor((2·cents·1e6·num + den) / (2·den));
        // numerator <= ~4e11 so the exact-multiple double division is safe
        val a = col("ccents") * 1000000L * col("f.num") * 2 + col("f.den")
        val b = col("f.den") * 2L
        ((a - pmod(a, b)) / b).cast("long").as("credit_micro")
      })
    credited.groupBy(col("channel"))
      .agg(count(lit(1)).as("n_touches"),
        countDistinct(col("cpid")).as("n_conversions"),
        (sum(col("credit_micro")).cast("double") / 100000000L).as("credit"))
      .orderBy(col("channel"))
  }

  /** LOGRANK1 — the two-arm log-rank test on user lifetimes: does arm A
    * (the deterministic md5-bucket split every experiment op shares)
    * churn at a different hazard than arm B? surv1 ESTIMATES the curve;
    * this is the matching hypothesis TEST — the Mantel–Haenszel sum of
    * per-event-time (observed − expected) under the pooled-hazard null,
    * with the usual hypergeometric variance.
    *
    * Exactness: at-risk and death counts are exact longs from the same
    * duration/censoring contract as surv1; each time's expectation and
    * variance term snaps to the 1e-6 grid via the non-negative half-up
    * identity ((2·num·1e6 + den) div (2·den)) BEFORE summation, so the
    * fold is an exact integer sum in any order/engine (float Σ of
    * rationals would be partitioning-dependent). O1+O2 = E1+E2 holds
    * exactly in micro-units by construction. The z/chi² readouts are one
    * fixed double formula over the snapped sums.
    *
    * Shape at 100 TB: one corpus-sized per-user rollup (map-side
    * combinable); the event-time grid is calendar-bounded, so the
    * descending at-risk window and the variance fold run on constant-
    * size state — surv1's discipline with an arm dimension. */
  def logrankTest(events: DataFrame, censorDays: Int = 7): DataFrame = {
    require(censorDays >= 0, s"censorDays: $censorDays")
    val byUser = events.groupBy(col("user_id")).agg(
      to_date(min(col("ts"))).as("first_day"),
      to_date(max(col("ts"))).as("last_day"))
    val end = events.agg(to_date(max(col("ts"))).as("end_day"))
    val durs = byUser.crossJoin(broadcast(end))
      .select(col("user_id"),
        datediff(col("last_day"), col("first_day")).cast("long").as("t"),
        when(datediff(col("end_day"), col("last_day")) < censorDays, 0L)
          .otherwise(1L).as("e"))
      .withColumn("a",
        (Sampling.hashBucket(col("user_id")) < 5000).cast("long"))
    val grid = durs.groupBy(col("t")).agg(
      sum(col("a")).as("ma"), sum(lit(1L) - col("a")).as("mb"),
      sum(col("e") * col("a")).as("da"),
      sum(col("e") * (lit(1L) - col("a"))).as("db"))
    val desc = Window.orderBy(col("t").desc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    def d38(c: Column): Column = c.cast("decimal(38,0)")
    val staged = grid
      .withColumn("na", sum(col("ma")).over(desc))
      .withColumn("nb", sum(col("mb")).over(desc))
      .filter(col("da") + col("db") > 0)
      .select(col("da"), col("db"),
        (col("na") + col("nb")).as("n"), col("na").as("n1"),
        (col("da") + col("db")).as("d"))
    def halfUp(num: Column, den: Column): Column = {
      val x = num * 2000000L + den
      ((x - pmod(x, den * 2L)) / (den * 2L)).cast("long")
    }
    val terms = staged.select(col("da"), col("db"), col("d"),
      halfUp(d38(col("d")) * d38(col("n1")), d38(col("n"))).as("e1_micro"),
      when(col("n") > 1,
        halfUp(d38(col("d")) * d38(col("n1")) * d38(col("n") - col("n1"))
          * d38(col("n") - col("d")),
          d38(col("n")) * d38(col("n")) * d38(col("n") - 1)))
        .otherwise(0L).as("v_micro"))
    // coalesce: an all-censored corpus (surv1's fixture regime) has an
    // empty term table — report exact zeros, not NULLs
    val m = terms.agg(coalesce(sum(col("da")), lit(0L)).as("o1"),
      coalesce(sum(col("db")), lit(0L)).as("o2"),
      coalesce(sum(col("d")), lit(0L)).as("d_total"),
      coalesce(sum(col("e1_micro")), lit(0L)).as("e1m"),
      coalesce(sum(col("v_micro")), lit(0L)).as("vm"))
    val arms = durs.agg(sum(col("a")).as("n_a"),
      sum(lit(1L) - col("a")).as("n_b"))
    m.crossJoin(broadcast(arms)).select(
      col("n_a"), col("n_b"), col("d_total"), col("o1"), col("o2"),
      (col("e1m").cast("double") / 1000000).as("e1"),
      ((col("d_total") * 1000000L - col("e1m")).cast("double") / 1000000)
        .as("e2"),
      (col("vm").cast("double") / 1000000).as("v"),
      when(col("vm") > 0,
        (col("o1") * 1000000L - col("e1m")).cast("double") / 1000000
          / sqrt(col("vm").cast("double") / 1000000))
        .otherwise(0.0).as("z"))
      .withColumn("chi2", col("z") * col("z"))
  }

  /** TS3 — Theil–Sen robust trend of daily revenue: the median of all
    * pairwise day-to-day slopes plus the matching median intercept —
    * reg1's distribution-free sibling (a single wild day moves OLS by
    * its leverage; it moves a median by at most one rank). Pair
    * generation is DOMAIN-bounded (ks1's discipline): the self-join runs
    * on the calendar-sized daily rollup, so pair work is days², constant
    * in corpus size — a decade is ~6.7M pairs regardless of how many
    * events fold into each day.
    *
    * Exactness: slopes snap to the 1e-6 cents/day grid via the
    * sign-split half-up identity (2|num|·1e6 + den) div (2·den) —
    * non-negative operands, truncate == floor in every engine; the
    * median is selected BY POSITION (rank (n+1) div 2, the lower median
    * on even counts — deterministic, no averaging), and the intercept
    * is the positional median of cents·1e6 − slope·x over observed days
    * (decimal-routed so no magnitude can overflow). Ties in the ordered
    * value are harmless: selection by rank over the same key always
    * lands on the same value.
    *
    * Shape at 100 TB: ONE corpus-sized exchange (the daily rollup,
    * localCheckpointed for its four consumers); everything downstream
    * is calendar-bounded, including the single-partition median sorts. */
  def theilSenDaily(events: DataFrame): DataFrame = {
    val daily = events.groupBy(to_date(col("ts")).as("day"))
      .agg((sum(col("value").cast("decimal(18,2)")) * 100).cast("long")
        .as("cents"))
      .localCheckpoint()
    require(daily.count() >= 2, "theilSenDaily needs at least 2 observed days")
    val mn = daily.agg(min(col("day")).as("d0"))
    val d = daily.crossJoin(broadcast(mn))
      .select(datediff(col("day"), col("d0")).cast("long").as("x"),
        col("cents"))
      .localCheckpoint()
    val slopes = d.as("a").join(d.as("b"), col("a.x") < col("b.x"))
      .select((col("b.cents") - col("a.cents")).as("num"),
        (col("b.x") - col("a.x")).as("den"))
      .selectExpr("""CASE WHEN num >= 0
        THEN (2 * num * 1000000 + den) div (2 * den)
        ELSE -((2 * (-num) * 1000000 + den) div (2 * den)) END AS slope_micro""")
      .localCheckpoint()
    val st = slopes.agg(count(lit(1)).as("n_pairs"),
      sum(when(col("slope_micro") > 0, 1L).otherwise(0L)).as("n_rising"))
    val med = slopes
      .withColumn("rn", row_number().over(Window.orderBy(col("slope_micro"))))
      .crossJoin(broadcast(st))
      .filter(expr("rn = (n_pairs + 1) div 2"))
      .select(col("slope_micro"), col("n_pairs"), col("n_rising"))
    val ic = d.crossJoin(broadcast(med.select(col("slope_micro"))))
      .select((col("cents").cast("decimal(38,0)") * 1000000L
        - col("slope_micro").cast("decimal(38,0)") * col("x")).as("b_micro"))
    val ib = ic
      .withColumn("rn", row_number().over(Window.orderBy(col("b_micro"))))
      .crossJoin(broadcast(d.agg(count(lit(1)).as("n_days"))))
      .filter(expr("rn = (n_days + 1) div 2"))
      .select(col("b_micro"), col("n_days"))
    med.crossJoin(ib).select(col("n_days"), col("n_pairs"), col("n_rising"),
      (col("slope_micro").cast("double") / 100000000L).as("slope_per_day"),
      (col("b_micro").cast("double") / 100000000L).as("intercept"),
      (col("n_rising").cast("double") / col("n_pairs")).as("frac_rising"))
  }

  /** Pool-adjacent-violators on (leader, Σy, n) segments ordered by
    * leader: merge the FIRST adjacent pair whose pooled rates violate
    * monotonicity — compared as the exact cross product
    * sy_i·n_i+1 > sy_i+1·n_i, division-free — until none remains. The
    * first-violation order is what the oracle's unrolled merge stages
    * replay, so it is part of the operator contract. */
  private[operators] def pava(
      bins: Seq[(Long, Long, Long)]): Seq[(Long, Long, Long)] = {
    val segs = scala.collection.mutable.ArrayBuffer(bins: _*)
    var merged = true
    while (merged) {
      val i = (0 until segs.length - 1).indexWhere { i =>
        segs(i)._2 * segs(i + 1)._3 > segs(i + 1)._2 * segs(i)._3 }
      merged = i >= 0
      if (merged) {
        val (lo, sy1, n1) = segs(i)
        val (_, sy2, n2) = segs(i + 1)
        segs.remove(i + 1)
        segs(i) = (lo, sy1 + sy2, n1 + n2)
      }
    }
    segs.toSeq
  }

  /** Half-up milli-grid quotient of two non-negative decimal(38,0)
    * columns — round(1e6·num/det) = floor((2·num·1e6 + det)/(2·det)) —
    * via the house subtract-mod-then-divide floor: the numerator becomes
    * an exact multiple of the divisor, so the decimal division is exact
    * at any magnitude (no double round-trip; DuckDB mirrors with `//`). */
  private def milliQuot(num: Column, det: Column): Column = {
    val a = num * 2000000L + det
    val b = det * 2L
    ((a - pmod(a, b)) / b).cast("long")
  }
}
