package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Slowly-changing-dimension (type 2) derivation — the warehouse-side
  * counterpart of the event-log pipelines: turn a change log into
  * validity intervals.
  *
  * Scale shape: one shuffle on the dimension key followed by per-key
  * windows — the same partitioning the key's downstream joins want, so
  * at 100 TB the exchange is reused, not repeated. No driver actions, no
  * skew beyond per-key history length (bounded by change frequency, not
  * corpus size).
  */
object Scd2 {

  /** Compress an event log into SCD2 validity intervals of `stateCol`
    * per `keyCol`: one row per RUN of equal consecutive states, valid
    * from its first event to the next run's start (open/current for the
    * last run — `valid_to` null, `is_current` 1).
    *
    * Classic change-detection window plan: lag() marks run starts,
    * a running count of marks labels each run (the same prefix-sum
    * sessionization the cycle detector uses — reference
    * daily_aggregator.py's start-flag + cumulative-sum idiom, applied to
    * dimension history), then one groupBy collapses runs and lead()
    * closes intervals. Consecutive-dedup BEFORE interval building means
    * a state flapping A→A→A costs one row, not three.
    */
  def fromEvents(
      events: DataFrame,
      keyCol: String = "user_id",
      stateCol: String = "event_type",
      tsCol: String = "ts"): DataFrame = {
    val byTs = Window.partitionBy(col(keyCol)).orderBy(col(tsCol), col("event_id"))
    val runs = events
      .withColumn("chg",
        when(lag(col(stateCol), 1).over(byTs).isNull ||
          lag(col(stateCol), 1).over(byTs) =!= col(stateCol), 1).otherwise(0))
      .withColumn("run_id", sum(col("chg")).over(
        byTs.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy(col(keyCol), col("run_id"))
      .agg(min_by(col(stateCol), col(tsCol)).as(stateCol),
        min(col(tsCol)).as("valid_from"),
        count(lit(1)).as("n_events"))
    val byFrom = Window.partitionBy(col(keyCol)).orderBy(col("valid_from"))
    runs
      .withColumn("valid_to", lead(col("valid_from"), 1).over(byFrom))
      .withColumn("is_current", col("valid_to").isNull.cast("int"))
      .select(col(keyCol), col(stateCol), col("valid_from"), col("valid_to"),
        col("n_events"), col("is_current"))
  }
}
