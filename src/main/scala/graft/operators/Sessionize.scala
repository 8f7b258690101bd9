package graft.operators

import graft.functions._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.DataFrame

/** Event-time windowing and sessionization over the `events` table. */
object Windows {

  /** Tumbling event-time window aggregation (batch form; the streaming twin
    * is graft.streaming.EventStream). Window start is emitted truncated to
    * seconds so results are comparable across timestamp precisions. */
  def tumbling(events: DataFrame, width: String = "1 day"): DataFrame =
    events
      .groupBy(window(col("ts"), width).as("w"), col("event_type"))
      .agg(count(lit(1)).as("n_events"), decSum(col("value")).as("sum_value"))
      .select(col("w.start").as("window_start"), col("event_type"),
        col("n_events"), col("sum_value"))

  /** Gap-based sessionization via `session_window` (Spark-native state
    * machine; in streaming mode the same expression is incremental). */
  def sessions(events: DataFrame, gap: String = "30 minutes"): DataFrame =
    events
      .groupBy(col("user_id"), session_window(col("ts"), gap).as("w"))
      .agg(count(lit(1)).as("n_events"), decSum(col("value")).as("sum_value"))
      .select(col("user_id"),
        date_trunc("second", col("w.start")).as("session_start"),
        col("n_events"), col("sum_value"))

  /** Lag-based sessionization — the portable formulation (lag → gap flag →
    * running session id). Used by the spec to cross-check [[sessions]] and
    * by the DuckDB oracle, which has no session_window. */
  private[graft] def sessionsViaLag(events: DataFrame, gapMinutes: Int = 30): DataFrame = {
    val byUser = Window.partitionBy(col("user_id")).orderBy(col("ts"))
    // microsecond-precision gap compare: casting ts to long truncates to
    // seconds and disagrees with session_window on sub-second boundaries
    val flagged = events.withColumn("prev_ts", lag(col("ts"), 1).over(byUser))
      .withColumn("new_session",
        (col("prev_ts").isNull ||
          unix_micros(col("ts")) - unix_micros(col("prev_ts")) >= gapMinutes * 60000000L)
          .cast("int"))
    val withId = flagged.withColumn("session_id",
      sum(col("new_session")).over(byUser.rowsBetween(Window.unboundedPreceding, 0)))
    withId.groupBy(col("user_id"), col("session_id"))
      .agg(min(col("ts")).as("start_ts"), count(lit(1)).as("n_events"),
        decSum(col("value")).as("sum_value"))
      .select(col("user_id"), date_trunc("second", col("start_ts")).as("session_start"),
        col("n_events"), col("sum_value"))
  }

  /** Ordered funnel analysis: for each user, the earliest time each stage
    * of `stages` was reached with every stage STRICTLY after the previous
    * one (first view, first click after that view, first purchase after
    * that click) — the conversion-path query behind every product
    * dashboard.
    *
    * Shape: one conditional-min aggregation per stage, each keyed on
    * user_id — every exchange reuses the same hash partitioning, so AQE
    * plans one real shuffle's worth of movement; no self-join explosion,
    * no window over the full event stream. A user appears once they have
    * stage 1; `reached` counts completed stages. */
  def funnel(events: DataFrame, stages: Seq[String]): DataFrame = {
    require(stages.nonEmpty, "funnel needs at least one stage")
    val s0 = events.filter(col("event_type") === stages.head)
      .groupBy(col("user_id")).agg(min(col("ts")).as("t_1"))
    val chained = stages.zipWithIndex.tail.foldLeft(s0) { case (acc, (stage, i)) =>
      val prev = s"t_$i"
      val cur = s"t_${i + 1}"
      val next = events.filter(col("event_type") === stage)
        .select(col("user_id"), col("ts").as("_cand"))
        .join(acc.select(col("user_id"), col(prev)), "user_id")
        .filter(col("_cand") > col(prev))
        .groupBy(col("user_id")).agg(min(col("_cand")).as(cur))
      acc.join(next, Seq("user_id"), "left")
    }
    val stageCols = (1 to stages.length).map(i => col(s"t_$i"))
    chained.select(
      col("user_id") +:
        (stageCols.map(c => date_format(c, "yyyy-MM-dd HH:mm:ss")
          .as(c.toString.replace("t_", "ts_stage_"))) :+
          stageCols.map(c => when(c.isNotNull, 1).otherwise(0))
            .reduce(_ + _).cast("long").as("reached")): _*)
  }
}
