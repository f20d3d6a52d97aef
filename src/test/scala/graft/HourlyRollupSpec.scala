package graft

import java.sql.Timestamp

import org.scalatest.funsuite.AnyFunSuite

import graft.model.Rules
import graft.ops.{CycleDetection, ErrorRules, HourlyRollup}

/** Rollup semantics incl. the SURVEY §7.4 parity quirks. */
class HourlyRollupSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private def ts(ms: Long) = new Timestamp(1729036800000L + ms)

  /** Minimal machine stream: one cycle with force readings, one without. */
  private def mkEvents(rows: (Long, String, String, String, Option[Float])*) =
    rows.toSeq.map { case (ms, m, e, p, v) => (ts(ms), m, e, p, v) }
      .toDF("event_timestamp", "machine_id", "event_name", "parameter_name", "value")

  test("P12 quirk: hour with cycles but no force events reports 0.0 averages, not NULL") {
    val df = mkEvents(
      (0L, "M1", "Cycle_Start", "", None),
      (100L, "M1", "AS_Check", "AS_VacuumUnits", Some(55.0f)),
      (600L, "M1", "Cycle_End", "", None))
    val (events, cycles) = CycleDetection.detect(df)
    val flagged = ErrorRules.flag(events, Rules.referenceDefaults)
    val row = HourlyRollup.hourlySummary(flagged, cycles).collect().head
    assert(row.getAs[Double]("avg_pick_force") == 0.0)
    assert(row.getAs[Float]("min_place_force") == 0.0f)
    assert(row.getAs[Long]("cycle_count") == 1L)
  }

  test("A4 conditional aggregates skip non-matching rows (manual pivot)") {
    val df = mkEvents(
      (0L, "M1", "Cycle_Start", "", None),
      (100L, "M1", "Pick_Check", "PP_Force", Some(100.0f)),
      (110L, "M1", "Pick_Check", "PP_VacuumUnits", Some(60.0f)), // must not pollute forces
      (200L, "M1", "Place_Check", "PP_Force", Some(80.0f)),
      (600L, "M1", "Cycle_End", "", None))
    val (events, cycles) = CycleDetection.detect(df)
    val flagged = ErrorRules.flag(events, Rules.referenceDefaults)
    val row = HourlyRollup.hourlySummary(flagged, cycles).collect().head
    assert(row.getAs[Double]("avg_pick_force") == 100.0)
    assert(row.getAs[Double]("avg_place_force") == 80.0)
  }

  test("per-rule error counters and total are consistent") {
    val df = mkEvents(
      (0L, "M1", "Cycle_Start", "", None),
      (100L, "M1", "AS_Check", "AS_VacuumUnits", Some(75.0f)),     // AS vac error
      (150L, "M1", "Pick_Check", "PP_Force", Some(50.0f)),         // pick force error
      (200L, "M1", "Place_Check", "PP_Force", Some(80.0f)),        // clean
      (600L, "M1", "Cycle_End", "", None))
    val (events, cycles) = CycleDetection.detect(df)
    val flagged = ErrorRules.flag(events, Rules.referenceDefaults)
    val row = HourlyRollup.hourlySummary(flagged, cycles).collect().head
    assert(row.getAs[Long]("as_vacuum_error_count") == 1L)
    assert(row.getAs[Long]("pick_force_error_count") == 1L)
    assert(row.getAs[Long]("place_force_error_count") == 0L)
  }

  test("events bucket to the hour of their cycle's START timestamp") {
    // cycle starts at 00:59:59.900, its check lands at 01:00:00.100 —
    // the check must be counted in hour 0, not hour 1
    val df = mkEvents(
      (3599900L, "M1", "Cycle_Start", "", None),
      (3600100L, "M1", "Pick_Check", "PP_Force", Some(90.0f)),
      (3600500L, "M1", "Cycle_End", "", None))
    val (events, cycles) = CycleDetection.detect(df)
    val flagged = ErrorRules.flag(events, Rules.referenceDefaults)
    val rows = HourlyRollup.hourlySummary(flagged, cycles).collect()
    assert(rows.length == 1)
    assert(rows.head.getAs[Int]("hour_of_day") == 0)
    assert(rows.head.getAs[Double]("avg_pick_force") == 90.0)
  }
}
