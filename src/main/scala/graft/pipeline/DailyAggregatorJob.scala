package graft.pipeline

import org.apache.hadoop.io.{LongWritable, Text}
import org.apache.hadoop.mapred.TextInputFormat
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.FloatType
import org.apache.spark.storage.StorageLevel

import graft.model.{EventRule, Schemas}
import graft.ops.{CycleDetection, ErrorRules, HourlyRollup}

/** The full reference pipeline, end to end: raw machine-event CSV ->
  * cleaned events -> cycle detection -> error flagging -> (enriched events,
  * hourly summary).
  *
  * Wires SURVEY §3.1 steps 4-8 with one deliberate improvement: the day is
  * read and parsed once. The reference (`daily_aggregator.py`) has no
  * cache/persist, so both of its writes re-run the CSV scan, window and
  * joins (SURVEY §3.1 step 9). Here [[readRawCsv]] splits the file across
  * `defaultParallelism` tasks, and [[process]] persists the cleaned,
  * uid-stamped events and fills that cache with one job before anything
  * fans out from it; the sequencing, the flags and the cycle times all
  * read the cache. Writing the enriched events and collecting the summary
  * of one day scans the CSV once (DailyAggregatorScanSpec); persisting only
  * the flagged events and the cycle times scanned it four times, because
  * each cache re-ran the whole cycle detection and the two-phase prefix
  * sum reads its input twice.
  */
object DailyAggregatorJob {

  final case class Outputs(
      enrichedEvents: DataFrame,
      hourlySummary: DataFrame,
      private val persisted: Seq[DataFrame] = Nil) {
    /** Release the intermediates persisted by [[process]]. */
    def unpersist(): Unit = persisted.foreach(_.unpersist())
  }

  /** Step 4 — scan + normalize (`daily_aggregator.py:152-168`).
    *
    * The lines come from Hadoop's text input at `defaultParallelism`
    * splits and are parsed by the CSV reader with the file source's schema
    * and options. The file source cuts no split smaller than
    * `spark.sql.files.openCostInBytes` (4 MB), so it read a 4.6 MB
    * machine-day in two tasks, one of which parsed ~87 % of it. The header
    * is each file's line at byte offset 0, dropped here as the file source
    * drops it from each file's first split.
    */
  def readRawCsv(spark: SparkSession, path: String): DataFrame = {
    import spark.implicits._
    val sc = spark.sparkContext
    val lines = sc.hadoopFile(path, classOf[TextInputFormat], classOf[LongWritable],
        classOf[Text], sc.defaultParallelism)
      .collect { case (offset, line) if offset.get != 0L => line.toString }
    spark.read
      .schema(Schemas.rawEvents)
      .option("timestampFormat", Schemas.inputTimestampFormat)
      .csv(lines.toDS())
  }

  /** P1-P7: parse timestamp, cast value, null handling, drop/rename
    * (`daily_aggregator.py:161-168`).
    */
  def cleanse(raw: DataFrame): DataFrame = raw
    .withColumn("event_timestamp", to_timestamp(col("timestamp"), Schemas.inputTimestampFormat))
    .withColumn("value_float", col("value").cast(FloatType))
    .na.fill("", Seq("parameter_name"))
    .na.drop(Seq("event_timestamp", "machine_id", "event_name"))
    .drop("timestamp", "value")
    .withColumnRenamed("value_float", "value")
    .filter(col("event_timestamp").isNotNull)

  /** Steps 5-8 on an already-cleaned event frame. Runs one job, which
    * reads `cleanEvents` into a cache that [[Outputs.unpersist]] releases.
    */
  def process(cleanEvents: DataFrame, rules: Seq[EventRule]): Outputs = {
    // The one read of the input: every branch below starts from this
    // cache, filled by one job before the branches race to build it.
    val stamped = CycleDetection.withUid(cleanEvents).persist(StorageLevel.MEMORY_AND_DISK)
    try stamped.count()
    catch { case e: Throwable => stamped.unpersist(); throw e }
    val eventsWithSeq = CycleDetection.sequence(stamped)

    // Both frames feed two downstream consumers each — persist once.
    val flagged = ErrorRules.flag(eventsWithSeq, rules).persist(StorageLevel.MEMORY_AND_DISK)
    val cycles  = CycleDetection.cycleTimes(eventsWithSeq).persist(StorageLevel.MEMORY_AND_DISK)

    // Enriched events: attach cycle_time (left join keeps pre-first-cycle
    // rows with cycle_seq = 0 and NULL cycle_time — parity, SURVEY §7.4).
    val enriched = flagged
      .join(cycles.select("machine_id", "cycle_seq", "cycle_time_seconds"),
        Seq("machine_id", "cycle_seq"), "left")
      .withColumn("cycle_time_seconds", round(col("cycle_time_seconds"), 3))
      .select("event_timestamp", "machine_id", "event_name", "parameter_name",
        "value", "is_error", "cycle_seq", "cycle_time_seconds")

    val summary = HourlyRollup.hourlySummary(flagged, cycles)

    Outputs(enriched, summary, persisted = Seq(flagged, cycles, stamped))
  }

  /** Convenience: full run from a CSV path. */
  def run(spark: SparkSession, csvPath: String, rules: Seq[EventRule]): Outputs =
    process(cleanse(readRawCsv(spark, csvPath)), rules)
}
