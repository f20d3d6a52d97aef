package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.fixtures.{FixtureGen, Fixtures}
import graft.io.JdbcSinks
import graft.ops.CycleDetection
import graft.pipeline.DailyAggregatorJob
import graft.streaming.StreamingPipeline

/** Streaming ≡ batch on the fixture, including cross-micro-batch state. */
class StreamingSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  /** StreamingMain.run restores the session's shuffle sizing itself
    * (withStateSizing) once the query has started; this wrapper is
    * belt-and-braces for the shared test session in case a body throws
    * before reaching that restore. */
  private def withRestoredStateConf[A](body: => A): A = {
    val restore = spark.conf.get("spark.sql.shuffle.partitions")
    try body finally spark.conf.set("spark.sql.shuffle.partitions", restore)
  }

  test("configureStateSizing applies the measured defaults and the RocksDB provider switch") {
    val s2 = spark.newSession()
    graft.streaming.StreamingPipeline.configureStateSizing(s2)
    assert(s2.conf.get("spark.sql.shuffle.partitions") ==
      graft.streaming.StreamingPipeline.DefaultStatePartitions.toString)
    // default leaves the provider untouched (HDFS-backed store)
    val defaultProvider = "org.apache.spark.sql.execution.streaming.state.HDFSBackedStateStoreProvider"
    assert(s2.conf.get(
      "spark.sql.streaming.stateStore.providerClass", defaultProvider) == defaultProvider)
    graft.streaming.StreamingPipeline.configureStateSizing(
      s2, statePartitions = 16, rocksDbStateStore = true)
    assert(s2.conf.get("spark.sql.shuffle.partitions") == "16")
    assert(s2.conf.get("spark.sql.streaming.stateStore.providerClass")
      .contains("RocksDBStateStoreProvider"))
    // an explicit false must CLEAR a previously-set RocksDB provider,
    // not silently keep it — rocksDbStateStore=false means "the
    // HDFS-backed default", the measured 1-machine-geometry winner
    graft.streaming.StreamingPipeline.configureStateSizing(
      s2, statePartitions = 16, rocksDbStateStore = false)
    assert(s2.conf.get(
      "spark.sql.streaming.stateStore.providerClass", defaultProvider) == defaultProvider)
    intercept[IllegalArgumentException](
      graft.streaming.StreamingPipeline.configureStateSizing(s2, statePartitions = 0))
  }

  test("withStateSizing applies inside the scope and restores the caller's conf after") {
    val s2 = spark.newSession()
    s2.conf.set("spark.sql.shuffle.partitions", "17")
    val providerKey = "spark.sql.streaming.stateStore.providerClass"
    val priorProvider = s2.conf.getOption(providerKey)
    assert(priorProvider.forall(!_.contains("RocksDB")))
    val seen = graft.streaming.StreamingPipeline.withStateSizing(
      s2, statePartitions = 4, rocksDbStateStore = true) {
      (s2.conf.get("spark.sql.shuffle.partitions"), s2.conf.get(providerKey))
    }
    assert(seen._1 == "4" && seen._2.contains("RocksDBStateStoreProvider"))
    assert(s2.conf.get("spark.sql.shuffle.partitions") == "17")
    // provider reverts to its pre-scope value (not left on RocksDB)
    assert(s2.conf.getOption(providerKey) == priorProvider)
    // restore also runs when the body throws
    intercept[RuntimeException](
      graft.streaming.StreamingPipeline.withStateSizing(s2, 4)(
        throw new RuntimeException("boom")))
    assert(s2.conf.get("spark.sql.shuffle.partitions") == "17")
  }

  /** A split inside one cycle of each machine and inside the 23:00
    * hour: a stream that loses its cycle or window state across a batch
    * boundary at this instant reads differently from the batch job. */
  private val midCycle = java.time.Instant.parse("2024-10-16T23:39:00.200Z")

  /** The fixture CSV's header, then its rows split at `at`: those
    * stamped before it (unparseable garbage rows included) and the rest.
    */
  private def splitFixture(at: java.time.Instant): (String, Seq[String], Seq[String]) = {
    Fixtures.ensure(spark)
    val lines = {
      val src = scala.io.Source.fromFile(Fixtures.rawCsv, "UTF-8")
      try src.getLines().toVector finally src.close()
    }
    val (before, after) = lines.tail.partition { l =>
      try java.time.Instant.parse(l.takeWhile(_ != ',')).isBefore(at)
      catch { case _: Exception => true } // garbage rows -> first file
    }
    (lines.head, before, after)
  }

  /** Fixture CSV split at [[midCycle]] into two time-ordered files => two
    * micro-batches (maxFilesPerTrigger=1), so cycle and hour-window state
    * must survive a batch boundary.
    */
  private lazy val streamDir: String = {
    val (header, early, late) = splitFixture(midCycle)
    val dir = Files.createTempDirectory("graft_stream").toString
    FixtureGen.writeCsv(s"$dir/part1.csv", header +: early)
    FixtureGen.writeCsv(s"$dir/part2.csv", header +: late)
    // Ordering guarantee: the file source sorts pending files by
    // modification time, and two back-to-back writes can land in the same
    // millisecond — under full-suite load the tie broke either way, so the
    // micro-batch order (and with it every cross-batch cycle number)
    // flipped in ~1 of 2 runs. Pinning strictly increasing mtimes makes
    // "part1 before part2" structural rather than a race.
    val base = System.currentTimeMillis()
    new java.io.File(s"$dir/part1.csv").setLastModified(base): Unit
    new java.io.File(s"$dir/part2.csv").setLastModified(base + 60000L): Unit
    dir
  }

  test("streaming 19-column hourly summary equals the batch rollup on the fixture") {
    val clean = StreamingPipeline.cleanse(
      StreamingPipeline.readCsvStream(spark, streamDir, maxFilesPerTrigger = 1))
    val summary = StreamingPipeline.hourlySummaryStream(
      clean, graft.model.Rules.referenceDefaults)
    val schema = summary.schema

    // update-mode foreachBatch upsert into a driver-side map (last write
    // per (date, hour, machine) wins — the JDBC upsert's semantics,
    // without Derby's FLOAT/DOUBLE type laundering in the comparison)
    StreamingSpec.summaryRows.clear()
    val q = summary.writeStream.outputMode("update")
      .foreachBatch { (df: org.apache.spark.sql.DataFrame, _: Long) =>
        StreamingSpec.summaryRows.synchronized {
          df.collect().foreach { r =>
            StreamingSpec.summaryRows((r.getDate(0), r.getInt(1), r.getString(2))) = r
          }
        }: Unit
      }
      .start()
    try q.processAllAvailable() finally q.stop()
    val streamed = spark.createDataFrame(
      java.util.Arrays.asList(StreamingSpec.summaryRows.values.toSeq: _*), schema)

    // batch expectation: full enrichment, but each machine's trailing
    // (still-open, End-less) cycle excluded from the cycle-stat side —
    // the stream never emits a cycle row for a cycle that never closed
    val (events, cycles) = CycleDetection.detect(
      DailyAggregatorJob.cleanse(DailyAggregatorJob.readRawCsv(spark, Fixtures.rawCsv)))
    val flagged = graft.ops.ErrorRules.flag(events, graft.model.Rules.referenceDefaults)
    val lastSeq = cycles.groupBy("machine_id").agg(max("cycle_seq").as("mx"))
    val statCycles = cycles.join(lastSeq, Seq("machine_id"))
      .filter(col("cycle_seq") < col("mx"))
      .drop("mx")
    val expected = ReferenceForms.hourlySummary(flagged, cycles, statCycles)

    assert(streamed.columns.toSeq == expected.columns.toSeq)
    assert(streamed.count() == expected.count())
    assert(expected.exceptAll(streamed).count() == 0)
    assert(streamed.exceptAll(expected).count() == 0)
  }

  test("dropDuplicatesWithinWatermark: replayed delivery still yields exactly-once rows") {
    // simulate at-least-once file delivery: second batch re-delivers the
    // first 200 rows verbatim
    val lines = scala.io.Source.fromFile(Fixtures.rawCsv, "UTF-8").getLines().toSeq
    val (header, rows) = (lines.head, lines.tail)
    val dir = Files.createTempDirectory("graft_replay").toString
    FixtureGen.writeCsv(s"$dir/b1.csv", header +: rows)
    FixtureGen.writeCsv(s"$dir/b2.csv", header +: rows.take(200))
    val clean = StreamingPipeline.cleanse(
      StreamingPipeline.readCsvStream(spark, dir, maxFilesPerTrigger = 1))
    // 48 h watermark: the replayed (old-timestamp) rows are inside the
    // watermark, so they are dropped by DEDUP, not by lateness
    val q = StreamingPipeline.dedupedEvents(clean, watermark = "48 hours")
      .toDF().writeStream.format("memory").queryName("dedup_out")
      .outputMode("append").start()
    try q.processAllAvailable() finally q.stop()
    val streamed = spark.table("dedup_out")
    val expected = DailyAggregatorJob.cleanse(
      DailyAggregatorJob.readRawCsv(spark, Fixtures.rawCsv)).dropDuplicates()
    assert(streamed.count() == expected.count())
    assert(streamed.exceptAll(expected).count() == 0)
    assert(expected.exceptAll(streamed).count() == 0)
  }

  test("StreamingMain.run does not double-count when a day's file is re-delivered") {
    val url = "jdbc:derby:memory:graftreplay;create=true"
    val conn = java.sql.DriverManager.getConnection(url)
    try {
      val st = conn.createStatement()
      st.execute(
        """CREATE TABLE replay_sum (
          |  summary_date DATE NOT NULL, hour_of_day INT NOT NULL,
          |  machine_id VARCHAR(50) NOT NULL,
          |  avg_pick_force DOUBLE, max_pick_force FLOAT, min_pick_force FLOAT,
          |  avg_place_force DOUBLE, max_place_force FLOAT, min_place_force FLOAT,
          |  as_vacuum_error_count BIGINT, pp_vacuum_error_count BIGINT,
          |  as_release_error_count BIGINT, pp_release_error_count BIGINT,
          |  pick_force_error_count BIGINT, place_force_error_count BIGINT,
          |  cycle_count BIGINT,
          |  min_cycle_time_seconds FLOAT, max_cycle_time_seconds FLOAT,
          |  avg_cycle_time_seconds DOUBLE,
          |  PRIMARY KEY (summary_date, hour_of_day, machine_id))""".stripMargin)
      st.close()
    } finally conn.close()

    // same two files as streamDir PLUS a re-delivery of file 1 under a
    // new name — the at-least-once failure mode the ingest dedup guards.
    // mtimes are pinned strictly increasing: the file source orders by
    // modification time, and fast copies land in the same millisecond,
    // which would make the processing order (and thus which micro-batch
    // carries which markers) nondeterministic.
    val src = new java.io.File(streamDir).listFiles().map(_.getPath).sorted
    val dir = Files.createTempDirectory("graft_replay_main").toString
    val base = System.currentTimeMillis()
    src.zipWithIndex.foreach { case (f, i) =>
      java.nio.file.Files.copy(java.nio.file.Paths.get(f),
        java.nio.file.Paths.get(s"$dir/f$i.csv"))
      new java.io.File(s"$dir/f$i.csv").setLastModified(base + i * 2000L): Unit
    }
    java.nio.file.Files.copy(java.nio.file.Paths.get(src.head),
      java.nio.file.Paths.get(s"$dir/z_replay.csv"))
    new java.io.File(s"$dir/z_replay.csv")
      .setLastModified(base + src.length * 2000L): Unit

    val ckpt = Files.createTempDirectory("graft_replay_ckpt").toString
    withRestoredStateConf {
      val q = graft.streaming.StreamingMain.run(
        spark, dir, url, "replay_sum", JdbcSinks.UpdateInsertUpsert, ckpt,
        graft.model.Rules.referenceDefaults, watermark = "48 hours")
      try q.processAllAvailable() finally q.stop()
    }

    // cycle counts must equal the batch run over the ORIGINAL (unreplayed)
    // fixture — re-delivered rows must not inflate anything
    val (events, cycles) = CycleDetection.detect(
      DailyAggregatorJob.cleanse(DailyAggregatorJob.readRawCsv(spark, Fixtures.rawCsv)))
    val flagged = graft.ops.ErrorRules.flag(events, graft.model.Rules.referenceDefaults)
    val lastSeq = cycles.groupBy("machine_id").agg(max("cycle_seq").as("mx"))
    val statCycles = cycles.join(lastSeq, Seq("machine_id"))
      .filter(col("cycle_seq") < col("mx")).drop("mx")
    def key(df: org.apache.spark.sql.DataFrame) = df.select(
      date_format(col("summary_date"), "yyyy-MM-dd"), col("hour_of_day"),
      col("machine_id"), col("cycle_count"), col("as_vacuum_error_count"))
      .as[(String, Int, String, Long, Long)].collect().toSet
    val expected = key(
      ReferenceForms.hourlySummary(flagged, cycles, statCycles))
    val got = key(JdbcSinks.read(spark, url, "replay_sum"))
    assert(got == expected)
  }

  test("StreamingMain.run wires the watched dir into the 19-column JDBC summary") {
    val url = "jdbc:derby:memory:graftmain;create=true"
    val conn = java.sql.DriverManager.getConnection(url)
    try {
      val st = conn.createStatement()
      st.execute(
        """CREATE TABLE stream_full (
          |  summary_date DATE NOT NULL, hour_of_day INT NOT NULL,
          |  machine_id VARCHAR(50) NOT NULL,
          |  avg_pick_force DOUBLE, max_pick_force FLOAT, min_pick_force FLOAT,
          |  avg_place_force DOUBLE, max_place_force FLOAT, min_place_force FLOAT,
          |  as_vacuum_error_count BIGINT, pp_vacuum_error_count BIGINT,
          |  as_release_error_count BIGINT, pp_release_error_count BIGINT,
          |  pick_force_error_count BIGINT, place_force_error_count BIGINT,
          |  cycle_count BIGINT,
          |  min_cycle_time_seconds FLOAT, max_cycle_time_seconds FLOAT,
          |  avg_cycle_time_seconds DOUBLE,
          |  PRIMARY KEY (summary_date, hour_of_day, machine_id))""".stripMargin)
      st.close()
    } finally conn.close()

    val ckpt = Files.createTempDirectory("graft_main_ckpt").toString
    withRestoredStateConf {
      val priorShuffle = spark.conf.get("spark.sql.shuffle.partitions")
      val q = graft.streaming.StreamingMain.run(
        spark, streamDir, url, "stream_full", JdbcSinks.UpdateInsertUpsert, ckpt,
        graft.model.Rules.referenceDefaults)
      try {
        // the caller's session conf is RESTORED as soon as the query has
        // started: the sizing lives only in the query's cloned session,
        // so batch work sharing this session keeps its own shuffle sizing
        assert(spark.conf.get("spark.sql.shuffle.partitions") == priorShuffle)
        q.processAllAvailable()
        // …and the RUNNING query really is sized: the state operator
        // reports the measured default, not the session's batch sizing
        val stateParts = q.recentProgress
          .flatMap(_.stateOperators).map(_.numShufflePartitions).distinct
        assert(stateParts.nonEmpty && stateParts.forall(
          _ == graft.streaming.StreamingPipeline.DefaultStatePartitions.toLong))
      } finally q.stop()
    }

    // batch expectation (trailing open cycles excluded from cycle stats);
    // integer columns compared exactly — Derby launders FLOAT to double
    // precision, so float columns are covered by the memory-sink parity
    // test above, not re-checked through JDBC
    val (events, cycles) = CycleDetection.detect(
      DailyAggregatorJob.cleanse(DailyAggregatorJob.readRawCsv(spark, Fixtures.rawCsv)))
    val flagged = graft.ops.ErrorRules.flag(events, graft.model.Rules.referenceDefaults)
    val lastSeq = cycles.groupBy("machine_id").agg(max("cycle_seq").as("mx"))
    val statCycles = cycles.join(lastSeq, Seq("machine_id"))
      .filter(col("cycle_seq") < col("mx")).drop("mx")
    def key(df: org.apache.spark.sql.DataFrame) = df.select(
      date_format(col("summary_date"), "yyyy-MM-dd"), col("hour_of_day"),
      col("machine_id"), col("cycle_count"), col("as_vacuum_error_count"),
      col("pick_force_error_count"))
      .as[(String, Int, String, Long, Long, Long)].collect().toSet
    val expected = key(
      ReferenceForms.hourlySummary(flagged, cycles, statCycles))
    val got = key(JdbcSinks.read(spark, url, "stream_full"))
    assert(got == expected)
  }

  test("StreamingMain.run resumes cycle and window state from its checkpoint after a restart") {
    val url = "jdbc:derby:memory:graftrestart;create=true"
    val conn = java.sql.DriverManager.getConnection(url)
    try {
      val st = conn.createStatement()
      st.execute(
        """CREATE TABLE restart_sum (
          |  summary_date DATE NOT NULL, hour_of_day INT NOT NULL,
          |  machine_id VARCHAR(50) NOT NULL,
          |  avg_pick_force DOUBLE, max_pick_force FLOAT, min_pick_force FLOAT,
          |  avg_place_force DOUBLE, max_place_force FLOAT, min_place_force FLOAT,
          |  as_vacuum_error_count BIGINT, pp_vacuum_error_count BIGINT,
          |  as_release_error_count BIGINT, pp_release_error_count BIGINT,
          |  pick_force_error_count BIGINT, place_force_error_count BIGINT,
          |  cycle_count BIGINT,
          |  min_cycle_time_seconds FLOAT, max_cycle_time_seconds FLOAT,
          |  avg_cycle_time_seconds DOUBLE,
          |  PRIMARY KEY (summary_date, hour_of_day, machine_id))""".stripMargin)
      st.close()
    } finally conn.close()

    // file 1 arrives, the production query runs and STOPS; file 2
    // arrives and a NEW query on the same checkpoint resumes. The files
    // split the fixture at `midCycle`, in the middle of a cycle of each
    // machine and of the 23:00 hour: had the per-machine cycle state not
    // survived, file 2's events would lose their open cycle and it would
    // never close; had the window state not survived, the resumed query
    // would upsert 23:00 from file 2's rows alone.
    val split = midCycle
    val dir = Files.createTempDirectory("graft_main_restart").toString
    val ckpt = Files.createTempDirectory("graft_main_restart_ckpt").toString
    val (header, before, after) = splitFixture(split)
    def deliver(name: String, part: Seq[String]): Unit =
      FixtureGen.writeCsv(s"$dir/$name", header +: part)
    def runUntilIdle(): Unit = withRestoredStateConf {
      val q = graft.streaming.StreamingMain.run(
        spark, dir, url, "restart_sum", JdbcSinks.UpdateInsertUpsert, ckpt,
        graft.model.Rules.referenceDefaults)
      try q.processAllAvailable() finally q.stop()
    }

    val (events, cycles) = CycleDetection.detect(
      DailyAggregatorJob.cleanse(DailyAggregatorJob.readRawCsv(spark, Fixtures.rawCsv)))
    val flagged = graft.ops.ErrorRules.flag(events, graft.model.Rules.referenceDefaults)
    val lastSeq = cycles.groupBy("machine_id").agg(max("cycle_seq").as("mx"))
    val statCycles = cycles.join(lastSeq, Seq("machine_id"))
      .filter(col("cycle_seq") < col("mx")).drop("mx")
    def key(df: org.apache.spark.sql.DataFrame) = df.select(
      date_format(col("summary_date"), "yyyy-MM-dd"), col("hour_of_day"),
      col("machine_id"), col("cycle_count"), col("as_vacuum_error_count"),
      col("pick_force_error_count"))
      .as[(String, Int, String, Long, Long, Long)].collect().toSet
    val expected = key(
      ReferenceForms.hourlySummary(flagged, cycles, statCycles))

    val spanning = cycles.filter(col("cycle_start_ts") < lit(java.sql.Timestamp.from(split)) &&
      unix_micros(col("cycle_start_ts")) + col("cycle_time_seconds") * 1e6 >
        lit(split.toEpochMilli * 1000L))
    assert(spanning.count() == 2, "the split must cut one cycle of each machine")

    deliver("part1.csv", before)
    runUntilIdle()
    val afterFirst = key(JdbcSinks.read(spark, url, "restart_sum"))
    assert(afterFirst.nonEmpty && afterFirst != expected,
      "the first run alone must leave the summary incomplete")
    deliver("part2.csv", after)
    runUntilIdle()
    assert(key(JdbcSinks.read(spark, url, "restart_sum")) == expected)
  }
}

/** Driver-side collector for the summary parity test (a foreachBatch
  * sink keeps the upsert's last-write-wins semantics; the memory sink
  * cannot).
  */
object StreamingSpec {
  val summaryRows = scala.collection.mutable.LinkedHashMap[
    (java.sql.Date, Int, String), org.apache.spark.sql.Row]()
}
