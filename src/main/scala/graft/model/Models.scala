package graft.model

import org.apache.spark.sql.types._

/** Schema and event-name constants of the machine-event pipeline's
  * input (`src/daily_aggregator.py:152-156`, `:15`, `:51-65` of the
  * reference). The enriched-event and hourly-summary columns are built
  * in `ops.CycleDetection` and `ops.HourlyRollup`.
  */
object Schemas {

  /** Explicit input schema — never inferred (`daily_aggregator.py:152-156`). */
  val rawEvents: StructType = StructType(Seq(
    StructField("timestamp", StringType, nullable = true),
    StructField("machine_id", StringType, nullable = true),
    StructField("event_name", StringType, nullable = true),
    StructField("parameter_name", StringType, nullable = true),
    StructField("value", StringType, nullable = true)
  ))

  /** ISO-8601 UTC with literal Z, ms precision (`daily_aggregator.py:15`). */
  val inputTimestampFormat = "yyyy-MM-dd'T'HH:mm:ss.SSS'Z'"

  val cycleStartEvent = "Cycle_Start"
  val cycleEndEvent   = "Cycle_End"
}
