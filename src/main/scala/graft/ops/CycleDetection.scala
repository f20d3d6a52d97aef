package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.FloatType

import graft.model.Schemas

/** Sessionization-by-marker: assign every event to its enclosing machine
  * cycle via a running count of `Cycle_Start` markers, then derive per-cycle
  * boundary timestamps and durations.
  *
  * Re-expresses `berechne_zyklen` (`src/daily_aggregator.py:32-67`) with
  * identical semantics:
  *   - running sum of a start flag over a window partitioned by machine and
  *     ordered by (event_timestamp, uid) — the frame is made explicit here
  *     (`rowsBetween(unboundedPreceding, currentRow)`); note Spark's
  *     implicit frame under ORDER BY is RANGE-based, which coincides with
  *     ROWS only because the uid tiebreaker makes the ordering key unique
  *     (`:40-43`);
  *   - events before the first `Cycle_Start` keep `cycle_seq = 0` and flow
  *     through un-filtered (`:64`) — they later get NULL cycle_time;
  *   - boundaries come from min/max timestamp over only Start/End rows
  *     (`:47-54`), so a trailing cycle missing its `Cycle_End` gets
  *     `cycle_time` from the Start row alone (duration 0.0);
  *   - cycle_time is an epoch-seconds double difference cast to float
  *     (`:56-62`) to keep fractional seconds.
  *
  * Scale note (100 TB): the window is partitioned by `machine_id`; a machine
  * with a huge single-day file is one Spark partition for the running sum
  * (inherently sequential per key). This matches the reference's semantics.
  * For wider keys use [[sessionizeByMarker]] with a composite partition key
  * (e.g. machine + day) chosen at ingest; the running count resets per
  * partition key exactly like the reference resets per file.
  */
object CycleDetection {

  /** Generic form: running count of `marker` rows per `partitionKeys`,
    * ordered by `orderCols` — usable for any marker-delimited sessionization
    * (machine cycles, user sessions, ...). Returns the input plus `seqCol`.
    */
  def sessionizeByMarker(
      df: DataFrame,
      partitionKeys: Seq[String],
      orderCols: Seq[Column],
      isMarker: Column,
      seqCol: String = "cycle_seq"): DataFrame = {
    val w = Window
      .partitionBy(partitionKeys.map(col): _*)
      .orderBy(orderCols: _*)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    df.withColumn(seqCol, sum(when(isMarker, 1).otherwise(0)).over(w))
  }

  /** Gap-based (timeout) sessionization — the complement of the marker
    * form: a new session starts when the gap to the previous event of the
    * same key exceeds `gapSeconds` (or at the key's first event). This is
    * the canonical clickstream/session-window semantics; the marker form
    * covers explicit delimiters, this one covers inactivity timeouts.
    * Returns the input plus `seqCol` (sessions numbered from 1).
    *
    * Same scale shape as [[sessionizeByMarker]] (one window per key,
    * running sum of boundary flags), and the same two-phase prefix-sum
    * escape hatch applies when one key outgrows a partition.
    */
  def sessionizeByGap(
      df: DataFrame,
      partitionKeys: Seq[String],
      tsCol: String,
      gapSeconds: Long,
      orderTiebreak: Seq[Column] = Seq.empty,
      seqCol: String = "session_seq"): DataFrame = {
    val order = col(tsCol).asc +: orderTiebreak
    val lagW = Window.partitionBy(partitionKeys.map(col): _*).orderBy(order: _*)
    val sumW = lagW.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val prev = lag(col(tsCol), 1).over(lagW)
    val isNew = prev.isNull ||
      (unix_micros(col(tsCol)) - unix_micros(prev)) > gapSeconds * 1000000L
    df.withColumn(seqCol, sum(when(isNew, 1).otherwise(0)).over(sumW))
  }

  /** Scale-safe form of [[sessionizeByMarker]]: a two-phase distributed
    * prefix sum that removes the one-partition-per-key bottleneck.
    *
    * The plain window is sequential per partition key — fine for a
    * machine-day (~1.12 M rows), a cliff for a machine-year in one key.
    * Here rows are first bucketed by a time chunk (`bucketCol`, e.g.
    * `floor(epoch/3600)`): phase 1 runs the running sum *within* each
    * (key, bucket) — all buckets in parallel; phase 2 computes per-bucket
    * marker totals (tiny: one row per bucket), prefix-sums those per key
    * with a second window (over #buckets rows, not #events), and adds the
    * offset of all prior buckets back. Output is identical to the
    * single-window form (same running count; bucket boundaries are
    * time-ordered), verified by CycleDetectionSpec's equivalence test.
    *
    * It reads `df` twice: once in the phase-1 window branch and once in
    * the phase-2 per-bucket totals. Column pruning drops the window from
    * the totals branch, so the two branches plan different exchanges and
    * Spark reuses neither; over a file scan, the file is parsed twice.
    * Pass a cached input.
    */
  def sessionizeByMarkerScalable(
      df: DataFrame,
      partitionKeys: Seq[String],
      orderCols: Seq[Column],
      isMarker: Column,
      bucketCol: Column,
      seqCol: String = "cycle_seq"): DataFrame = {
    val keyed = df.withColumn("graft_bucket", bucketCol)
    // Phase 1: local running sum inside each (key, bucket) — parallel.
    val localW = Window
      .partitionBy((partitionKeys.map(col) :+ col("graft_bucket")): _*)
      .orderBy(orderCols: _*)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val local = keyed.withColumn("graft_local_seq",
      sum(when(isMarker, 1).otherwise(0)).over(localW))
    // Phase 2: offsets = markers in all PRIOR buckets of the same key —
    // a prefix sum over the per-bucket totals (rows = #buckets, tiny).
    val offsetW = Window
      .partitionBy(partitionKeys.map(col): _*)
      .orderBy(col("graft_bucket"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val offsets = local
      .groupBy((partitionKeys.map(col) :+ col("graft_bucket")): _*)
      .agg(sum(when(isMarker, 1).otherwise(0)).as("graft_bucket_markers"))
      .withColumn("graft_offset",
        coalesce(sum("graft_bucket_markers").over(offsetW), lit(0L)))
      .drop("graft_bucket_markers")
    // no broadcast hint: offsets is #keys × #buckets rows and grows
    // linearly with the data this function exists to scale to — AQE
    // broadcasts it when it is actually small and falls back otherwise
    local
      .join(offsets, partitionKeys :+ "graft_bucket")
      .withColumn(seqCol, col("graft_local_seq") + col("graft_offset"))
      // restore the input column order (the join moves its keys first)
      .select(df.columns.toIndexedSeq.map(col) :+ col(seqCol): _*)
  }

  /** Reference-parity cycle detection: [[withUid]], then [[sequence]],
    * then [[cycleTimes]] of the sequenced events. `DailyAggregatorJob`
    * calls the three itself, to persist the stamped events between the
    * first two.
    *
    * `scalable = true` (the default) runs the two-phase distributed
    * prefix sum over 10-minute buckets; `false` keeps the reference's
    * literal single-window plan. The two produce row-identical output
    * (CycleDetectionSpec equivalence, PropertySpec replay; marker rows
    * are never timestamp-tied, so the partition-dependent tie-breaker id
    * cannot move a marker across the bucket boundary either). The default
    * is measurement-driven, per the repo rule that measurements, not fear
    * of the cliff, pick the plan: the round-9 scale curve (PLANS.md)
    * measured the crossover already passed at one machine-day (1.48 s vs
    * 1.72 s) and widening at 10× (5.48 s vs 12.16 s — one task owns a
    * single-machine key's entire sort in the window form).
    *
    * @return (events with `cycle_seq`, cycle_times with
    *         `machine_id, cycle_seq, cycle_start_ts, cycle_time_seconds`)
    */
  def detect(events: DataFrame, scalable: Boolean = true): (DataFrame, DataFrame) = {
    val withSeq = sequence(withUid(events), scalable)
    (withSeq, cycleTimes(withSeq))
  }

  /** Adds the `graft_uid` tie-breaker that orders same-timestamp events;
    * ties never involve Cycle_Start (SURVEY §7.4) so the cycle assignment
    * itself is deterministic. The id depends on the partition a row is in:
    * stamp once and let every consumer read the same stamped frame.
    */
  def withUid(events: DataFrame): DataFrame =
    events.withColumn("graft_uid", monotonically_increasing_id())

  /** Events of a [[withUid]] frame with their `cycle_seq`, without the uid.
    * The scalable form reads `stamped` twice (see
    * [[sessionizeByMarkerScalable]]).
    */
  def sequence(stamped: DataFrame, scalable: Boolean = true): DataFrame = {
    val order = Seq(col("event_timestamp"), col("graft_uid"))
    val marker = col("event_name") === Schemas.cycleStartEvent
    val withSeq =
      if (scalable)
        sessionizeByMarkerScalable(
          stamped,
          partitionKeys = Seq("machine_id"),
          orderCols = order,
          isMarker = marker,
          bucketCol = floor(unix_micros(col("event_timestamp")) / lit(600L * 1000000)))
      else sessionizeByMarker(
        stamped,
        partitionKeys = Seq("machine_id"),
        orderCols = order,
        isMarker = marker)
    withSeq.drop("graft_uid")
  }

  /** Per-cycle boundaries and duration of [[sequence]]'s output. */
  def cycleTimes(withSeq: DataFrame): DataFrame = {
    val boundaries = withSeq
      .filter(col("cycle_seq") > 0)
      .filter(col("event_name").isin(Schemas.cycleStartEvent, Schemas.cycleEndEvent))
      .groupBy("machine_id", "cycle_seq")
      .agg(
        min("event_timestamp").as("cycle_start_ts"),
        max("event_timestamp").as("cycle_end_ts"))

    boundaries
      .withColumn(
        "cycle_time_seconds",
        when(
          col("cycle_start_ts").isNotNull && col("cycle_end_ts").isNotNull,
          col("cycle_end_ts").cast("double") - col("cycle_start_ts").cast("double"))
          .otherwise(lit(null))
          .cast(FloatType))
      .select("machine_id", "cycle_seq", "cycle_start_ts", "cycle_time_seconds")
  }
}
