package graft

import java.sql.Timestamp

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.ops.Scd2

/** SCD2 interval derivation. */
class Scd2Spec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  // UTC-instant parse (not Timestamp.valueOf's JVM-default-zone wall
  // clock) so the spec means the same instants under any host TZ.
  private def ts(s: String) = Timestamp.from(
    java.time.LocalDateTime.parse(s.replace(' ', 'T'))
      .toInstant(java.time.ZoneOffset.UTC))

  private def log(rows: (Long, Long, String, String)*) =
    rows.toSeq.map { case (eid, uid, st, t) => (eid, uid, st, ts(t)) }
      .toDF("event_id", "user_id", "event_type", "ts")

  test("fromEvents compresses state runs into closed/open intervals") {
    val events = log(
      (0L, 1L, "A", "2024-01-01 00:00:00"),
      (1L, 1L, "A", "2024-01-01 01:00:00"), // same run
      (2L, 1L, "B", "2024-01-01 02:00:00"),
      (3L, 1L, "A", "2024-01-01 03:00:00"), // A again: NEW run, not merged
      (4L, 2L, "C", "2024-01-01 00:30:00"))
    val out = Scd2.fromEvents(events)
      .select($"user_id", $"event_type", $"valid_from", $"valid_to", $"n_events", $"is_current")
      .as[(Long, String, Timestamp, Option[Timestamp], Long, Int)].collect().toSet
    assert(out == Set(
      (1L, "A", ts("2024-01-01 00:00:00"), Some(ts("2024-01-01 02:00:00")), 2L, 0),
      (1L, "B", ts("2024-01-01 02:00:00"), Some(ts("2024-01-01 03:00:00")), 1L, 0),
      (1L, "A", ts("2024-01-01 03:00:00"), None, 1L, 1),
      (2L, "C", ts("2024-01-01 00:30:00"), None, 1L, 1)))
  }

  test("fromEvents breaks timestamp ties by event_id") {
    val events = log(
      (1L, 1L, "B", "2024-01-01 00:00:00"),
      (0L, 1L, "A", "2024-01-01 00:00:00")) // same ts — event_id orders A first
    val states = Scd2.fromEvents(events).orderBy("valid_from", "event_type")
      .select("event_type", "is_current").as[(String, Int)].collect().toSeq
    assert(states == Seq(("A", 0), ("B", 1)))
  }

  test("fromEvents on the corpus: intervals tile each user's history exactly") {
    val events = graft.core.Tables.events(spark, "/root/testdata/sf0.001")
    val out = Scd2.fromEvents(events).persist()
    // exactly one open row per user
    val opens = out.filter($"is_current" === 1).groupBy("user_id").count()
      .filter($"count" =!= 1).count()
    assert(opens == 0)
    // n_events sums back to the event count per user
    val perUser = out.groupBy("user_id").agg(sum("n_events").as("n"))
    val truth = events.groupBy("user_id").count()
    val bad = perUser.join(truth, "user_id").filter($"n" =!= $"count").count()
    assert(bad == 0)
    // each interval's valid_to equals the next interval's valid_from (tiling)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("user_id").orderBy("valid_from")
    val holes = out.withColumn("nxt", lead($"valid_from", 1).over(w))
      .filter($"nxt".isNotNull && $"valid_to" =!= $"nxt").count()
    assert(holes == 0)
    out.unpersist()
  }
}
