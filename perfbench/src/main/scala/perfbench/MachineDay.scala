package perfbench

import java.io.File
import java.sql.DriverManager
import java.time.{Instant, LocalDate, ZoneOffset}

import scala.collection.mutable.ArrayBuffer
import scala.collection.parallel.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import graft.fixtures.FixtureGen
import graft.io.JdbcSinks
import graft.model.{EventRule, Rules, Threshold}
import graft.ops.{CycleDetection, ErrorRules, HourlyRollup}
import graft.pipeline.DailyAggregatorJob

/** `machine_day`: the reference's daily batch job. One op is one
  * machine-day through `DailyAggregatorJob.run`, a parquet write of the
  * enriched events and a `JdbcSinks.upsert` of the hourly summary into
  * embedded Derby — `DailyAggregatorMain`'s body with parquet standing in
  * for the Postgres append. Every third op replays the day the op before
  * it loaded, which runs the upsert's update path.
  */
object MachineDay {
  import Main._

  private val Url = "jdbc:derby:memory:perfbench;create=true"
  private val Table = "hourly_machine_summary"
  private val TracedTable = "hourly_machine_summary_traced"
  private val Keys = Seq("summary_date", "hour_of_day", "machine_id")
  private val Rules6: Seq[EventRule] = Rules.referenceDefaults
  /** The summary's count columns the check compares, in rule order. */
  private val CountCols = Seq("cycle_count", "as_vacuum_error_count", "pp_vacuum_error_count",
    "as_release_error_count", "pp_release_error_count", "pick_force_error_count",
    "place_force_error_count")

  /** Hours per day and the idle gap between cycles (ms). The generator's
    * gap-free cadence gives ~1.12 M rows per day; the gap thins it. */
  private final case class Size(hours: Int, gapMs: (Int, Int), warmupOps: Int, warmupHours: Int)
  private val Full = Size(24, (8500, 9500), warmupOps = 2, warmupHours = 8)
  private val Tiny = Size(2, (20000, 22000), warmupOps = 1, warmupHours = 2)

  /** One generated machine-day and the summary counts the generator's own
    * clean events imply: hour → cycle count, then one error count per rule. */
  final case class Day(machine: String, date: LocalDate, csv: File, rows: Long,
      expected: Map[Int, Seq[Long]])

  def genDay(dir: File, machine: String, date: LocalDate, seed: Long, size: Size,
      hours: Int): Day = {
    val start = date.atStartOfDay(ZoneOffset.UTC).toInstant.toEpochMilli
    val g = FixtureGen.generate(Seq(machine), start, start + hours * 3600L * 1000L,
      idleGapMs = size.gapMs, errorRate = 0.02, seed = seed, withEdgeCases = false)
    val csv = new File(dir, s"${machine}_$date.csv")
    FixtureGen.writeCsv(csv.getPath, g.csvLines)
    Day(machine, date, csv, g.csvLines.size - 1L, expectedCounts(g.clean))
  }

  /** Cycle and per-rule error counts per hour of cycle start, computed from
    * the generator's events in emit order without Spark. */
  def expectedCounts(events: Seq[FixtureGen.CleanEvent]): Map[Int, Seq[Long]] = {
    val counts = scala.collection.mutable.Map[Int, Array[Long]]()
    var hour = -1
    events.foreach { e =>
      if (e.event_name == "Cycle_Start") {
        hour = Instant.ofEpochMilli(e.event_timestamp.getTime).atZone(ZoneOffset.UTC).getHour
        counts.getOrElseUpdate(hour, new Array[Long](1 + Rules6.size))(0) += 1
      } else if (hour >= 0) e.value.foreach { v =>
        Rules6.zipWithIndex.foreach { case (r, i) =>
          if (r.paramName == e.parameter_name && r.eventName == e.event_name && violates(r.threshold, v))
            counts(hour)(1 + i) += 1
        }
      }
    }
    counts.map { case (h, a) => h -> a.toSeq }.toMap
  }

  private def violates(t: Threshold, v: Double): Boolean = t match {
    case Threshold.Above(l) => v > l
    case Threshold.Below(l) => v < l
    case Threshold.OutsideRange(lo, hi) => v < lo || v > hi
  }

  private def withConn[A](f: java.sql.Connection => A): A = {
    val c = DriverManager.getConnection(Url)
    try f(c) finally c.close()
  }

  private def createTable(name: String): Unit = withConn { c =>
    val st = c.createStatement()
    try st.execute(
      s"""CREATE TABLE $name (
         |  summary_date DATE NOT NULL, hour_of_day INT NOT NULL, machine_id VARCHAR(50) NOT NULL,
         |  avg_pick_force DOUBLE, max_pick_force FLOAT, min_pick_force FLOAT,
         |  avg_place_force DOUBLE, max_place_force FLOAT, min_place_force FLOAT,
         |  as_vacuum_error_count BIGINT, pp_vacuum_error_count BIGINT,
         |  as_release_error_count BIGINT, pp_release_error_count BIGINT,
         |  pick_force_error_count BIGINT, place_force_error_count BIGINT,
         |  cycle_count BIGINT,
         |  min_cycle_time_seconds FLOAT, max_cycle_time_seconds FLOAT,
         |  avg_cycle_time_seconds DOUBLE,
         |  PRIMARY KEY (summary_date, hour_of_day, machine_id))""".stripMargin)
    finally st.close()
  }

  /** Rows of `table` (one day's, or all), each rendered as one string. */
  private def tableRows(table: String, day: Option[Day]): Seq[String] = withConn { c =>
    val st = c.prepareStatement(s"SELECT * FROM $table" +
      day.fold("")(_ => " WHERE machine_id = ? AND summary_date = ?") +
      s" ORDER BY ${Keys.mkString(", ")}")
    try {
      day.foreach { d =>
        st.setString(1, d.machine)
        st.setDate(2, java.sql.Date.valueOf(d.date))
      }
      val rs = st.executeQuery()
      val n = rs.getMetaData.getColumnCount
      val out = ArrayBuffer[String]()
      while (rs.next()) out += (1 to n).map(i => String.valueOf(rs.getObject(i))).mkString("|")
      out.toSeq
    } finally st.close()
  }

  /** Does the loaded summary carry the generator's counts for every hour? */
  private def summaryMatches(day: Day): Boolean = withConn { c =>
    val st = c.prepareStatement(
      s"SELECT hour_of_day, ${CountCols.mkString(", ")} FROM $Table " +
        "WHERE machine_id = ? AND summary_date = ?")
    try {
      st.setString(1, day.machine)
      st.setDate(2, java.sql.Date.valueOf(day.date))
      val rs = st.executeQuery()
      val got = scala.collection.mutable.Map[Int, Seq[Long]]()
      while (rs.next()) got(rs.getInt(1)) = CountCols.indices.map(i => rs.getLong(2 + i))
      got.toMap == day.expected
    } finally st.close()
  }

  private def enrichedDir(root: File, day: Day): String =
    new File(root, s"${day.machine}_${day.date}").getPath

  /** The timed op: `DailyAggregatorMain`'s body on one day. */
  private def op(spark: SparkSession, day: Day, outDir: String): Unit = {
    val out = DailyAggregatorJob.run(spark, day.csv.getPath, Rules6)
    try {
      out.enrichedEvents.write.mode("overwrite").parquet(outDir)
      JdbcSinks.upsert(out.hourlySummary, Url, Table, Keys, JdbcSinks.dialectFor(Url))
    } finally out.unpersist()
  }

  /** The traced twin of [[op]]: the same public functions
    * `DailyAggregatorJob.process` composes, each forced at its boundary
    * so it runs inside its own span. Returns (span name, start, end). */
  private def tracedOp(spark: SparkSession, day: Day, outDir: String): Seq[(String, Long, Long)] = {
    val spans = ArrayBuffer[(String, Long, Long)]()
    def span[A](name: String)(body: => A): A = {
      val s = System.currentTimeMillis()
      val a = body
      spans += ((name, s, System.currentTimeMillis()))
      a
    }
    val persisted = ArrayBuffer[DataFrame]()
    def force(df: DataFrame): DataFrame = {
      persisted += df.persist(StorageLevel.MEMORY_AND_DISK)
      df.count()
      df
    }
    try {
      val clean = span("pipeline.cleanse")(force(
        DailyAggregatorJob.cleanse(DailyAggregatorJob.readRawCsv(spark, day.csv.getPath))))
      val (withSeq, cycles) = span("ops.cycles") {
        val (e, c) = CycleDetection.detect(clean)
        (force(e), force(c))
      }
      val flagged = span("ops.rules")(force(ErrorRules.flag(withSeq, Rules6)))
      val summary = span("ops.rollup")(force(HourlyRollup.hourlySummary(flagged, cycles)))
      val out = DailyAggregatorJob.process(clean, Rules6)
      try {
        span("pipeline.enriched_write")(
          out.enrichedEvents.write.mode("overwrite").parquet(outDir))
        span("io.upsert")(
          JdbcSinks.upsert(summary, Url, TracedTable, Keys, JdbcSinks.dialectFor(Url)))
      } finally out.unpersist()
    } finally persisted.foreach(_.unpersist())
    spans.toSeq
  }

  /** Order-independent content hash of a parquet directory. */
  private def contentHash(spark: SparkSession, dir: String): (Long, Long) = {
    val df = spark.read.parquet(dir)
    val r = df.agg(count(lit(1)), coalesce(sum(xxhash64(df.columns.map(col): _*)), lit(0L))).head()
    (r.getLong(0), r.getLong(1))
  }

  def run(spark: SparkSession, args: Args, sessionS: Double): Result = {
    val size = if (args.tiny) Tiny else Full
    val rnd = new scala.util.Random(args.seed)
    val inputs = new File(args.work, "input")
    val enriched = new File(args.work, "enriched")
    val enrichedTraced = new File(args.work, "enriched_traced")
    createTable(Table)
    createTable(TracedTable)

    // Input generation is the repeated part of set-up: each repetition
    // draws the same days again, and the median repetition is reported.
    val poolSize = math.max(3, math.ceil(args.seconds / 3.0).toInt)
    val firstDate = LocalDate.of(2024, 1, 1).plusDays(rnd.nextInt(300).toLong)
    val daySeeds = Seq.fill(poolSize + size.warmupOps)(rnd.nextLong())
    def generate(): (Seq[Day], Seq[Day]) = {
      Main.deleteRecursively(inputs)
      inputs.mkdirs()
      val days = daySeeds.zipWithIndex.par.map { case (s, i) =>
        if (i < size.warmupOps)
          genDay(inputs, "DieBonder_90", firstDate.plusDays(i.toLong), s, size, size.warmupHours)
        else genDay(inputs, "DieBonder_01", firstDate.plusDays(i.toLong), s, size, size.hours)
      }.seq
      (days.take(size.warmupOps), days.drop(size.warmupOps))
    }
    val genTimes = (1 to 3).map(_ => time(generate()))
    val (warmDays, pool) = genTimes.last._1
    val genS = median(genTimes.map(_._2))

    val (_, warmupS) = time {
      (1 to 3).foreach(_ => Canary.time())
      warmDays.foreach(d => op(spark, d, enrichedDir(enriched, d)))
    }

    val trace = if (args.trace) new Trace(spark) else null
    val latencies = ArrayBuffer[Double]()
    val scaled = ArrayBuffer[Double]()
    val canaries = ArrayBuffer[Double]()
    val tracedLatencies = ArrayBuffer[Double]()
    val layerOps = ArrayBuffer[Seq[(String, Double)]]()
    val loaded = ArrayBuffer[Day]()
    var rows = 0L
    var failed = 0
    var attempted = 0
    var next = 0
    val t0 = System.nanoTime()
    while (seconds(t0) < args.seconds) {
      val i = attempted
      val replay = (i % 3 == 2 && loaded.nonEmpty) || next >= pool.size
      val day = if (replay) loaded(if (next >= pool.size) i % loaded.size else loaded.size - 1)
                else { next += 1; pool(next - 1) }
      val before = if (replay) tableRows(Table, None) else Seq.empty
      attempted += 1
      val canary = Canary.time()
      val ok = try {
        val (_, dt) = time(op(spark, day, enrichedDir(enriched, day)))
        latencies += dt
        scaled += Canary.scale(dt, canary)
        canaries += canary
        rows += day.rows
        if (!replay) loaded += day
        if (replay) tableRows(Table, None) == before else summaryMatches(day)
      } catch { case e: Exception => System.err.println(s"[perfbench] op $i failed: $e"); false }
      if (args.trace) {
        trace.attach()
        val t = System.nanoTime()
        val traced = try Some(tracedOp(spark, day, enrichedDir(enrichedTraced, day)))
          catch { case e: Exception => System.err.println(s"[perfbench] traced op $i failed: $e"); None }
        tracedLatencies += seconds(t)
        trace.detach()
        traced.foreach { spans =>
          layerOps += spans.flatMap { case (n, s, e) => trace.span(s, e).metrics(n) } ++
            trace.modules(spans.head._2, spans.last._3).toSeq.flatMap { case (n, m) => m.metrics(n) }
        }
        trace.clear()
        val same = traced.isDefined &&
          contentHash(spark, enrichedDir(enriched, day)) == contentHash(spark, enrichedDir(enrichedTraced, day)) &&
          tableRows(Table, Some(day)) == tableRows(TracedTable, Some(day))
        if (!same) System.err.println(s"[perfbench] traced op $i differs from the untraced op")
        if (!ok || !same) failed += 1
      } else if (!ok) failed += 1
    }
    val heapMb = retainedHeapMb()

    if (args.corrupt && loaded.nonEmpty) withConn { c =>
      val st = c.createStatement()
      try st.executeUpdate(s"UPDATE $Table SET cycle_count = cycle_count + 1 WHERE hour_of_day = 0")
      finally st.close()
    }
    // after the timed phase: every loaded day's summary against the
    // generator, and every enriched write's row count against its CSV
    attempted += warmDays.size
    val badDays = (warmDays ++ loaded.distinct).count { d =>
      !summaryMatches(d) || contentHash(spark, enrichedDir(enriched, d))._1 != d.rows
    }
    failed += badDays

    val csvBytes = loaded.distinct.map(_.csv.length()).sum.toDouble
    val parquetBytes = loaded.distinct.map(d => dirBytes(new File(enrichedDir(enriched, d)))).sum
    val endToEnd = Seq(
      "setup_s" -> (sessionS + genS + warmupS),
      "throughput_rows_s" -> rows / scaled.sum,
      "op_p50_s" -> median(scaled.toSeq),
      "planted_recall" -> plantedRecall(loaded.distinct.toSeq),
      "stored_bytes_per_input_byte" -> parquetBytes / csvBytes,
      "retained_heap_mb" -> heapMb,
      "ok_op_frac" -> (attempted - math.min(failed, attempted)).toDouble / attempted)
    val layers =
      if (!args.trace) Seq.empty
      else medians(layerOps.toSeq) ++ zeroSpans(StreamingSpans) ++ Seq(
        "loop.compaction.wall_s" -> 0.0, "loop.rebuild.wall_s" -> 0.0,
        "trace.overhead_s" -> (median(tracedLatencies.toSeq) - median(latencies.toSeq)))
    Result(attempted, failed, endToEnd, layers, Seq(
      "ops" -> attempted, "rows" -> rows, "session_s" -> sessionS, "input_gen_s" -> genS,
      "input_gen_reps_s" -> genTimes.map(_._2).mkString(","), "warmup_s" -> warmupS,
      "timed_s" -> latencies.sum, "raw_op_p50_s" -> median(latencies.toSeq),
      "raw_throughput_rows_s" -> rows / latencies.sum, "canary_s" -> median(canaries.toSeq),
      "op_latencies_s" -> latencies.map(d => f"$d%.3f").mkString(","),
      "fresh_days" -> loaded.distinct.size, "bad_days_after_run" -> badDays))
  }

  /** Share of the rule violations the generator planted that the loaded
    * summaries report. */
  private def plantedRecall(days: Seq[Day]): Double = {
    val planted = days.map(_.expected.values.map(_.drop(1).sum).sum).sum
    val found = days.map { d => withConn { c =>
      val st = c.prepareStatement(
        s"SELECT ${CountCols.drop(1).mkString(" + ")} FROM $Table WHERE machine_id = ? AND summary_date = ?")
      try {
        st.setString(1, d.machine)
        st.setDate(2, java.sql.Date.valueOf(d.date))
        val rs = st.executeQuery()
        var n = 0L
        while (rs.next()) n += rs.getLong(1)
        n
      } finally st.close()
    }}.sum
    if (planted == 0) 1.0 else math.min(found, planted).toDouble / planted
  }
}
