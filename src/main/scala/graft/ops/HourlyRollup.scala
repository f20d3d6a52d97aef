package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DateType

/** Hourly machine summary: cycle stats + conditional force stats + per-rule
  * error counts, outer-joined and zero-filled.
  *
  * Re-expresses `src/daily_aggregator.py:193-265` with identical semantics,
  * including the two parity quirks documented in SURVEY §7.4:
  *   - events are bucketed to the hour of their cycle's *start* timestamp
  *     (`:207-214`), not their own timestamp;
  *   - `fillna(0)` after the full-outer join zero-fills the avg/min/max
  *     columns too (`:238-243`), so an hour with cycles but no force
  *     readings reports 0.0 averages, not NULL.
  *
  * Scale: both aggregations shuffle once on (summary_date, hour_of_day,
  * machine_id); partial aggregation (map-side combine) is automatic for
  * avg/min/max/sum. `countDistinct("cycle_seq")` (`:201`) is kept for parity
  * — its input already has one row per cycle so it costs the same as count.
  * The final join is tiny (<= 24 rows/machine/day) — AQE broadcasts it.
  */
object HourlyRollup {

  private val zeroFillCols = Seq(
    "cycle_count", "avg_cycle_time_seconds", "min_cycle_time_seconds", "max_cycle_time_seconds",
    "avg_pick_force", "max_pick_force", "min_pick_force",
    "avg_place_force", "max_place_force", "min_place_force",
    "as_vacuum_error_count", "pp_vacuum_error_count", "as_release_error_count",
    "pp_release_error_count", "pick_force_error_count", "place_force_error_count",
    "total_error_count")

  private val roundedCols = Seq(
    "min_cycle_time_seconds" -> 3, "max_cycle_time_seconds" -> 3, "avg_cycle_time_seconds" -> 3,
    "avg_pick_force" -> 2, "max_pick_force" -> 2, "min_pick_force" -> 2,
    "avg_place_force" -> 2, "max_place_force" -> 2, "min_place_force" -> 2)

  private val outputCols = Seq(
    "summary_date", "hour_of_day", "machine_id",
    "avg_pick_force", "max_pick_force", "min_pick_force",
    "avg_place_force", "max_place_force", "min_place_force",
    "as_vacuum_error_count", "pp_vacuum_error_count",
    "as_release_error_count", "pp_release_error_count",
    "pick_force_error_count", "place_force_error_count",
    "cycle_count", "min_cycle_time_seconds",
    "max_cycle_time_seconds", "avg_cycle_time_seconds")

  private def withHourBucket(df: DataFrame): DataFrame = df
    // date_format(..).cast(date) in the reference (`:194`); to_date is the
    // same result under the UTC session timezone.
    .withColumn("summary_date", date_format(col("cycle_start_ts"), "yyyy-MM-dd").cast(DateType))
    .withColumn("hour_of_day", hour(col("cycle_start_ts")))
    .filter(col("summary_date").isNotNull)

  /** Cycle-side hourly stats (`daily_aggregator.py:193-205`). */
  def cycleSummary(cycleTimes: DataFrame): DataFrame =
    withHourBucket(cycleTimes)
      .groupBy("summary_date", "hour_of_day", "machine_id")
      .agg(
        countDistinct("cycle_seq").as("cycle_count"),
        avg("cycle_time_seconds").as("avg_cycle_time_seconds"),
        min("cycle_time_seconds").as("min_cycle_time_seconds"),
        max("cycle_time_seconds").as("max_cycle_time_seconds"))

  /** Event-side hourly stats: conditional (filtered) force aggregates and
    * per-rule error counters (`daily_aggregator.py:207-232`). Aggregates over
    * `when(cond, value)` skip the NULLs produced by non-matching rows — a
    * manual pivot with no extra pass over the data.
    */
  def eventSummary(flaggedEvents: DataFrame, cycleTimes: DataFrame): DataFrame = {
    // No broadcast hint here on purpose: cycle_times grows linearly with
    // the input (one row per cycle ≈ 1/8th of events), so a forced
    // broadcast would hard-fail past the 8 GB broadcast limit at scale.
    // AQE picks broadcast-hash at runtime when the actual size is small
    // (a machine-day is ~140 k rows) and falls back to SMJ when it isn't.
    val withStart = flaggedEvents.join(
      cycleTimes.select("machine_id", "cycle_seq", "cycle_start_ts"),
      Seq("machine_id", "cycle_seq"),
      "left")

    val aggs = eventAggregates(rowsOn = None)
    withHourBucket(withStart)
      .groupBy("summary_date", "hour_of_day", "machine_id")
      .agg(aggs.head, aggs.tail: _*)
  }

  /** The event-side aggregates: six force stats and seven error counters.
    * `rowsOn` restricts every one of them to the rows it selects — the
    * stream's windowed aggregation passes its event-row tag (`side =
    * "e"`, see `StreamingPipeline.SummaryRow`); the batch, whose input
    * holds events only, passes none.
    */
  private[graft] def eventAggregates(rowsOn: Option[Column]): Seq[Column] = {
    def on(cond: Column) = rowsOn.fold(cond)(_ && cond)
    def forceValue(event: String) =
      when(on(col("event_name") === event && col("parameter_name") === "PP_Force"), col("value"))
    def errorCount(param: String, event: String) =
      sum(when(on(col("parameter_name") === param && col("event_name") === event &&
        col("is_error") === 1), 1).otherwise(0))
    Seq(
      avg(forceValue("Pick_Check")).as("avg_pick_force"),
      max(forceValue("Pick_Check")).as("max_pick_force"),
      min(forceValue("Pick_Check")).as("min_pick_force"),
      avg(forceValue("Place_Check")).as("avg_place_force"),
      max(forceValue("Place_Check")).as("max_place_force"),
      min(forceValue("Place_Check")).as("min_place_force"),
      errorCount("AS_VacuumUnits", "AS_Check").as("as_vacuum_error_count"),
      errorCount("PP_VacuumUnits", "Pick_Check").as("pp_vacuum_error_count"),
      errorCount("AS_VacuumUnits", "AS_Blowoff_Check").as("as_release_error_count"),
      errorCount("PP_VacuumUnits", "Place_Check").as("pp_release_error_count"),
      errorCount("PP_Force", "Pick_Check").as("pick_force_error_count"),
      errorCount("PP_Force", "Place_Check").as("place_force_error_count"),
      rowsOn.fold(sum("is_error"))(r => sum(when(r, col("is_error")).otherwise(0)))
        .as("total_error_count"))
  }

  /** Zero-fill, rounding and the 19-column output order
    * (`daily_aggregator.py:238-265`), applied to aggregated rows that
    * already carry `summary_date` and `hour_of_day`.
    */
  private[graft] def finishSummary(aggregated: DataFrame): DataFrame =
    roundedCols
      .foldLeft(aggregated.na.fill(0, zeroFillCols)) { case (df, (c, scale)) =>
        df.withColumn(c, round(col(c), scale))
      }
      .select(outputCols.map(col): _*)

  /** Full-outer join of the two summaries + zero-fill + rounding + final
    * column order (`daily_aggregator.py:234-265`).
    */
  def hourlySummary(flaggedEvents: DataFrame, cycleTimes: DataFrame): DataFrame =
    finishSummary(cycleSummary(cycleTimes)
      .join(eventSummary(flaggedEvents, cycleTimes),
        Seq("summary_date", "hour_of_day", "machine_id"), "outer"))
}
