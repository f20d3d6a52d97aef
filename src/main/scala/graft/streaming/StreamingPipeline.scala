package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

import graft.model.Schemas

/** Structured-Streaming form of the pipeline (SURVEY §7.1 item 6): a file
  * source streams daily CSVs; cycle detection becomes *stateful* — the
  * running `Cycle_Start` count and the open cycle live in
  * `flatMapGroupsWithState` state keyed by machine, so cycles survive
  * micro-batch (and file) boundaries, which the batch job cannot do (it
  * resets per file — an accepted divergence documented in SURVEY §7.4);
  * the 19-column hourly summary becomes a watermarked event-time window
  * aggregation. [[StreamingMain]] wires it to a `foreachBatch` JDBC
  * upsert (idempotent, so retried batches are safe — exactly-once effect
  * on the summary table).
  */
object StreamingPipeline {

  /** Measured default for [[configureStateSizing]]: 8 state partitions —
    * the best setting across BOTH key geometries of the machine-day sweep
    * (1 machine × 24 h and 8 machines × 3 h, PLANS.md round-9 state
    * sweep). */
  val DefaultStatePartitions = 8

  /** Sizes a session for a STATEFUL streaming query — the measured rule,
    * as config instead of lore: shuffle/state partitions scale with
    * active keys and per-trigger commit budget, never inherited from
    * batch sizing. Every state-store instance pays a durable commit
    * (delta file + fsync) on EVERY micro-batch regardless of how little
    * state it holds, so an over-partitioned stateful query is
    * commit-bound twice over (fsync queueing). Measured on the
    * machine-day replay (`graft.tools.StreamProfileBench`, the
    * re-derivation tool for any new deployment): trigger-time sum 83.8 s
    * at 32 partitions vs 26.5 s at 8 — state-store commitTimeMs
    * collapses from ~41 s/batch summed to ~1.4 s.
    *
    * `rocksDbStateStore` swaps the HDFS-backed default for RocksDB —
    * measured to FLIP with key count (PLANS.md: HDFS wins the 1-machine
    * day 26.5 s vs 30.1 s; RocksDB wins the 8-machine geometry 26.0 s vs
    * 34.4 s), so re-derive per deployment with StreamProfileBench rather
    * than hardcoding either.
    *
    * Call BEFORE the query's first `start()`: the state partition count
    * is frozen into the checkpoint on first run, and changing it later
    * requires a fresh checkpoint.
    */
  def configureStateSizing(
      spark: SparkSession,
      statePartitions: Int = DefaultStatePartitions,
      rocksDbStateStore: Boolean = false): Unit = {
    require(statePartitions > 0, "statePartitions must be positive")
    spark.conf.set("spark.sql.shuffle.partitions", statePartitions.toString)
    if (rocksDbStateStore)
      spark.conf.set("spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    else
      // explicit false must MEAN the HDFS-backed default: unset rather
      // than skip, or a provider left behind by an earlier RocksDB
      // configuration on the same session silently survives into this
      // query's checkpoint
      spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
  }

  /** A deployment's state-store choice by name, as the
    * `rocksDbStateStore` flag of [[configureStateSizing]]: `hdfs` (the
    * default store) or `rocksdb`. Anything else is an error naming `key`,
    * the setting it came from, so a misspelt provider cannot silently run
    * the other store.
    */
  def stateStoreFlag(key: String, name: String): Either[String, Boolean] =
    name match {
      case "hdfs" => Right(false)
      case "rocksdb" => Right(true)
      case other => Left(s"invalid $key '$other' (expected hdfs or rocksdb)")
    }

  /** [[configureStateSizing]] scoped to one query start: applies the
    * sizing, runs `startQuery`, and RESTORES the session's prior
    * `spark.sql.shuffle.partitions` / state-store provider before
    * returning — so a session shared with batch work is not silently
    * left on streaming-sized shuffles (8 partitions would cripple every
    * later batch aggregation on a 32-core host).
    *
    * Restoring after `start()` is safe for the running query:
    * `StreamExecution` clones the session synchronously during query
    * construction inside `start()` ("isolated spark session to run the
    * batches"), so the stream keeps the sized confs for its whole
    * lifetime while the caller's session reverts immediately.
    */
  def withStateSizing[T](
      spark: SparkSession,
      statePartitions: Int = DefaultStatePartitions,
      rocksDbStateStore: Boolean = false)(startQuery: => T): T = {
    val keys = Seq("spark.sql.shuffle.partitions",
      "spark.sql.streaming.stateStore.providerClass")
    val prior = keys.map(k => k -> spark.conf.getOption(k))
    configureStateSizing(spark, statePartitions, rocksDbStateStore)
    try startQuery
    finally prior.foreach { case (k, v) =>
      v.fold(spark.conf.unset(k))(spark.conf.set(k, _))
    }
  }

  /** Post-cleanse event (the stream-side mirror of the batch cleanse). */
  final case class CleanedEvent(
      event_timestamp: Timestamp,
      machine_id: String,
      event_name: String,
      parameter_name: String,
      value: Option[Float])

  /** File-source stream of raw daily CSVs (same schema/format as S1). */
  def readCsvStream(spark: SparkSession, dir: String, maxFilesPerTrigger: Int = 1): DataFrame =
    spark.readStream
      .schema(Schemas.rawEvents)
      .option("header", "true")
      .option("timestampFormat", Schemas.inputTimestampFormat)
      .option("maxFilesPerTrigger", maxFilesPerTrigger)
      .csv(dir)

  /** Batch cleanse re-expressed on the stream (identical expressions). */
  def cleanse(raw: DataFrame): Dataset[CleanedEvent] = {
    import raw.sparkSession.implicits._
    graft.pipeline.DailyAggregatorJob.cleanse(raw).as[CleanedEvent]
  }

  /** Exactly-once ingest under at-least-once delivery: drop re-delivered
    * events (bit-identical rows) whose duplicates arrive within the
    * watermark of the first copy. `dropDuplicatesWithinWatermark` keys
    * state on the full row but EVICTS it once the watermark passes — the
    * state-bounded form of streaming dedup (plain `dropDuplicates` on a
    * stream keeps every key forever, which is unbounded state on an
    * always-on 100 TB ingest). Place this between cleanse and the
    * stateful stages so replays from a source that cannot give
    * exactly-once (file redelivery, kafka producer retries) do not
    * double-count cycles or error rates.
    */
  def dedupedEvents(
      clean: Dataset[CleanedEvent], watermark: String = "2 hours"): Dataset[CleanedEvent] =
    clean.withWatermark("event_timestamp", watermark)
      .dropDuplicatesWithinWatermark()

  /** One tagged row of the streaming summary's input union: `side = "e"`
    * rows are events enriched with their cycle's start timestamp (the
    * batch J1 join, resolved from state instead), `side = "c"` rows are
    * closed-cycle boundary rows (one per cycle). Emitting BOTH from one
    * `flatMapGroupsWithState` keeps the whole summary at exactly two
    * stateful operators (FMGWS → windowed agg), the chained pattern
    * Structured Streaming supports in append mode — two separate stateful
    * branches joined downstream would not be.
    */
  final case class SummaryRow(
      cycle_start_ts: Timestamp,
      machine_id: String,
      side: String,
      event_name: String,
      parameter_name: String,
      value: Option[Float],
      cycle_time_seconds: Option[Float])

  /** Per-machine summary state: running cycle counter, the open cycle's
    * start (cleared by its End — drives cycle-row emission), and the
    * CURRENT cycle's start (kept after the End — events between an End
    * and the next Start still belong to the ended cycle, exactly like the
    * batch join on (machine, cycle_seq)).
    */
  final case class SummaryState(
      counter: Long, openStartMs: Option[Long], lastStartMs: Option[Long])

  /** Streaming input for the full hourly summary. Event rows carry the
    * enclosing cycle's start timestamp (events before the first
    * Cycle_Start are dropped — the batch left-join's null-date filter);
    * cycle rows follow the batch C2 boundaries: a Cycle_End closes the
    * open cycle with its epoch-seconds duration, an End-less cycle is
    * closed with 0.0 by the next Start, and the final open cycle never
    * emits (streams have no end-of-file; the documented stream/batch
    * divergence). Events are sorted per micro-batch by (event_timestamp,
    * parameter_name), the batch window's order; an event delivered a
    * micro-batch after a newer one of its machine is replayed out of
    * order, so the source must deliver each machine's events in
    * event-time order across files.
    */
  def summaryRows(clean: Dataset[CleanedEvent]): Dataset[SummaryRow] = {
    import clean.sparkSession.implicits._
    clean
      .groupByKey(_.machine_id)
      .flatMapGroupsWithState[SummaryState, SummaryRow](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        (machine: String, events: Iterator[CleanedEvent], state: GroupState[SummaryState]) =>
          var st = state.getOption.getOrElse(SummaryState(0L, None, None))
          val out = scala.collection.mutable.ArrayBuffer[SummaryRow]()
          events.toSeq
            .sortBy(e => (e.event_timestamp.getTime, e.parameter_name))
            .foreach { e => st = summaryStep(machine, st, e, out) }
          state.update(st)
          out.iterator
      }
  }

  private def summaryStep(
      machine: String, st0: SummaryState, e: CleanedEvent,
      out: scala.collection.mutable.ArrayBuffer[SummaryRow]): SummaryState = {
    var st = st0
    e.event_name match {
      case Schemas.cycleStartEvent =>
        st.openStartMs.foreach { startMs =>
          out += SummaryRow(new Timestamp(startMs), machine, "c",
            null, null, None, Some(0.0f))
        }
        val ms = e.event_timestamp.getTime
        st = SummaryState(st.counter + 1, Some(ms), Some(ms))
      case Schemas.cycleEndEvent =>
        st.openStartMs.foreach { startMs =>
          out += SummaryRow(new Timestamp(startMs), machine, "c",
            null, null, None,
            Some(((e.event_timestamp.getTime / 1000.0) - (startMs / 1000.0)).toFloat))
        }
        st = st.copy(openStartMs = None)
      case _ => ()
    }
    if (st.counter > 0)
      out += SummaryRow(new Timestamp(st.lastStartMs.get), machine, "e",
        e.event_name, e.parameter_name, e.value, None)
    st
  }

  /** The FULL streaming hourly summary — all 19 batch columns
    * ([[graft.ops.HourlyRollup.hourlySummary]] semantics) as one
    * watermarked event-time window aggregation over [[summaryRows]]'
    * tagged union. The batch job's full-outer join of cycle-side and
    * event-side aggregations disappears: both sides live in the same
    * (window, machine) group and aggregate conditionally on the tag, and
    * the batch's zero-fill applies to the aggregated row.
    * Late events beyond the watermark are dropped — the streaming
    * trade-off the batch job doesn't make.
    *
    * Deployment sizing: every state-store instance commits durably on
    * every micro-batch, so `spark.sql.shuffle.partitions` for this (or
    * any) stateful query must be sized to ACTIVE KEYS and the per-batch
    * commit budget, not inherited from batch defaults — on the
    * machine-day replay (one machine, 64 store instances at the 32
    * default) commit overhead was 3× the useful work; 8 partitions cut
    * end-to-end time 2.5× (measured: `tools/StreamProfileBench`,
    * PLANS.md sweep table).
    */
  def hourlySummaryStream(
      clean: Dataset[CleanedEvent],
      rules: Seq[graft.model.EventRule],
      watermark: String = "2 hours"): DataFrame =
    summaryAggregate(
      graft.ops.ErrorRules.flag(summaryRows(clean).toDF(), rules), watermark)

  /** The 19-column windowed aggregation over tagged summary rows (see
    * [[hourlySummaryStream]] for the semantics). The event-side
    * aggregates, zero-fill, rounding and column order are
    * [[graft.ops.HourlyRollup]]'s own; only the cycle-side stats (one
    * tagged row per closed cycle here, not the batch's cycle table) and
    * the window → (date, hour) keys are the stream's.
    */
  private def summaryAggregate(flagged: DataFrame, watermark: String): DataFrame = {
    val cy = col("side") === "c"
    val aggs = graft.ops.HourlyRollup.eventAggregates(Some(col("side") === "e")) ++ Seq(
      count(when(cy, lit(1))).as("cycle_count"),
      min(when(cy, col("cycle_time_seconds"))).as("min_cycle_time_seconds"),
      max(when(cy, col("cycle_time_seconds"))).as("max_cycle_time_seconds"),
      avg(when(cy, col("cycle_time_seconds"))).as("avg_cycle_time_seconds"))
    graft.ops.HourlyRollup.finishSummary(flagged
      .withWatermark("cycle_start_ts", watermark)
      .groupBy(window(col("cycle_start_ts"), "1 hour").as("w"), col("machine_id"))
      .agg(aggs.head, aggs.tail: _*)
      .withColumn("summary_date", to_date(col("w.start")))
      .withColumn("hour_of_day", hour(col("w.start"))))
  }
}
