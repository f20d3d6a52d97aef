package graft

import java.sql.Timestamp

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.ops.AsOfJoin

/** As-of join semantics on hand-computed data + plan shape. */
class AsOfJoinSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private def ts(s: String) = Timestamp.valueOf(s)

  // key 1: reads at :10 / :30; sensor states at :05, :10, :20
  // key 2: read at :10, no state ever
  private lazy val reads = Seq(
    (1, ts("2024-01-01 00:00:10"), "r1"),
    (1, ts("2024-01-01 00:00:30"), "r2"),
    (2, ts("2024-01-01 00:00:10"), "r3"))
    .toDF("k", "t", "read_id")
  private lazy val states = Seq(
    (1, ts("2024-01-01 00:00:05"), 100L, "a"),
    (1, ts("2024-01-01 00:00:10"), 101L, "b"),
    (1, ts("2024-01-01 00:00:20"), 102L, "c"))
    .toDF("k", "st", "state_id", "payload")

  private def run() =
    AsOfJoin.asOf(reads, states, keys = Seq("k"), leftTime = "t", rightTime = "st",
      rightCols = Seq("state_id", "payload"), rightTiebreak = "state_id")
      .select("read_id", "r_state_id", "r_payload")
      .as[(String, Option[Long], Option[String])].collect()
      .map(r => r._1 -> ((r._2, r._3))).toMap

  test("inclusive: equal-time right row matches; unmatched left gets nulls") {
    val got = run()
    assert(got("r1") == ((Some(101L), Some("b")))) // :10 state at the read instant
    assert(got("r2") == ((Some(102L), Some("c")))) // latest of the three
    assert(got("r3") == ((None, None)))            // key 2 never had a state
  }

  test("equal-time right rows: greatest tiebreak wins, deterministically") {
    val dupStates = states.union(
      Seq((1, ts("2024-01-01 00:00:10"), 99L, "z")).toDF("k", "st", "state_id", "payload"))
    val got = AsOfJoin.asOf(
      reads.filter($"read_id" === "r1"), dupStates,
      keys = Seq("k"), leftTime = "t", rightTime = "st",
      rightCols = Seq("state_id"), rightTiebreak = "state_id")
      .select("r_state_id").as[Long].collect().toSeq
    // two states at the read instant :10 (99 and 101), both visible;
    // the greater id is the match
    assert(got == Seq(101L))
  }

  test("inputs already containing __-prefixed columns do not collide with helpers") {
    // regression: helper names were hardcoded __t/__side/__tie/__r/__l/__m;
    // a frame that already owns one of them hit ambiguous-column analysis
    // errors. Names are now derived to dodge every input column.
    val l = reads.withColumn("__t", lit("left-owned"))
      .withColumn("__side", lit(7))
    val r = states.withColumn("__tie", lit("right-owned"))
      .withColumn("__r", lit(1))
    val got = AsOfJoin.asOf(l, r, keys = Seq("k"), leftTime = "t", rightTime = "st",
      rightCols = Seq("state_id", "payload"), rightTiebreak = "state_id")
      .select("read_id", "__t", "__side", "r_state_id")
      .as[(String, String, Int, Option[Long])].collect()
      .map(x => x._1 -> ((x._2, x._3, x._4))).toMap
    // user columns pass through untouched; match results are unchanged
    assert(got("r1") == (("left-owned", 7, Some(101L))))
    assert(got("r2") == (("left-owned", 7, Some(102L))))
    assert(got("r3") == (("left-owned", 7, None)))
  }

  test("plan: one shuffle total — union-tag, not a range join") {
    val df = AsOfJoin.asOf(reads, states, keys = Seq("k"), leftTime = "t",
      rightTime = "st", rightCols = Seq("state_id"), rightTiebreak = "state_id")
    df.collect()
    // AQE's toString repeats the tree under "== Initial Plan ==" — count
    // exchanges in the final plan section only
    val plan = df.queryExecution.executedPlan.toString.split("== Initial Plan ==").head
    val exchanges = "Exchange hashpartitioning".r.findAllIn(plan).size
    assert(exchanges == 1, s"expected exactly one exchange, plan:\n$plan")
  }
}
