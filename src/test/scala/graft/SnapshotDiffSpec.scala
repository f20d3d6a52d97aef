package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.ops.SnapshotDiff

/** Dataset version diff (ops/SnapshotDiff): closed-form classification
  * on hand data, null-key and null-value safety, summary roll-up, and
  * the one-shuffle-per-side join shape. The catalog entry
  * (`ext_snapshot_diff`) carries the DuckDB-oracle identity over a
  * derived 10 k-row refresh.
  */
class SnapshotDiffSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private def old = Seq(
    (1L, Some("a"), Some(1.0)),   // unchanged
    (2L, Some("b"), Some(2.0)),   // value changes
    (3L, Some("c"), Some(3.0)),   // both change
    (4L, Some("d"), Some(4.0)),   // removed
    (5L, None, Some(5.0)),        // null -> value appears: changed(event col)
    (6L, Some("f"), None)         // null value unchanged (null-safe eq)
  ).toDF("id", "t", "v")

  private def neu = Seq(
    (1L, Some("a"), Some(1.0)),
    (2L, Some("b"), Some(20.0)),
    (3L, Some("cc"), Some(30.0)),
    (5L, Some("e"), Some(5.0)),
    (6L, Some("f"), None),
    (7L, Some("g"), Some(7.0))    // added
  ).toDF("id", "t", "v")

  test("diff: closed-form classification incl. null-safe comparisons") {
    val out = SnapshotDiff.diff(old, neu, Seq("id"), Seq("t", "v"))
      .select("id", "change_type", "changed_cols")
      .as[(Long, String, Option[String])].collect().sortBy(_._1).toList
    assert(out == List(
      (1L, "unchanged", Some("")),
      (2L, "changed", Some("v")),
      (3L, "changed", Some("t,v")),
      (4L, "removed", None),
      (5L, "changed", Some("t")),
      (6L, "unchanged", Some("")),
      (7L, "added", None)))
  }

  test("diff: null KEYS classify via markers, never by key sniffing") {
    val o = Seq((Option(1L), "x"), (Option.empty[Long], "y")).toDF("id", "t")
    val n = Seq((Option(1L), "x"), (Option.empty[Long], "z")).toDF("id", "t")
    val out = SnapshotDiff.diff(o, n, Seq("id"), Seq("t"))
      .select("id", "change_type")
      .as[(Option[Long], String)].collect().toSet
    // full-outer on a null key never matches (SQL join semantics): the
    // null-keyed rows surface as one removed + one added, NOT as a
    // misclassified pair — and neither is silently dropped
    assert(out == Set(
      (Some(1L), "unchanged"),
      (None, "removed"),
      (None, "added")))
  }

  test("summary: bounded per-class counts") {
    val s = SnapshotDiff.summary(old, neu, Seq("id"), Seq("t", "v"))
      .as[(String, Long)].collect().toMap
    assert(s == Map(
      "unchanged" -> 2L, "changed" -> 3L, "removed" -> 1L, "added" -> 1L))
  }

  test("assertUniqueKeys: duplicate keys fail loudly, incl. under key-only and summary projections") {
    val o = Seq((1L, "x"), (1L, "x2"), (2L, "y")).toDF("id", "t") // id=1 duplicated
    val n = Seq((1L, "x"), (2L, "y")).toDF("id", "t")
    // guard off (default): silent many-to-many — the caller-owned contract
    assert(SnapshotDiff.diff(o, n, Seq("id"), Seq("t")).count() == 3)
    def fails(body: => Unit): Unit = {
      val e = intercept[Exception](body)
      def msgs(t: Throwable): Seq[String] =
        Option(t).toSeq.flatMap(x => x.getMessage +: msgs(x.getCause))
      assert(msgs(e).exists(m => m != null && m.contains("duplicate key")), e.toString)
    }
    fails(SnapshotDiff.diff(o, n, Seq("id"), Seq("t"), assertUniqueKeys = true).collect())
    // column pruning must not disarm the guard: a key-only projection
    // keeps the guarded first key column, summary keeps change_type
    fails(SnapshotDiff.diff(o, n, Seq("id"), Seq("t"), assertUniqueKeys = true)
      .select("id").collect())
    fails(SnapshotDiff.summary(o, n, Seq("id"), Seq("t"), assertUniqueKeys = true)
      .collect())
    // a changed_cols-ONLY projection is also diff-derived (corrupted by
    // the many-to-many join) — pruning down to it must keep the guard
    fails(SnapshotDiff.diff(o, n, Seq("id"), Seq("t"), assertUniqueKeys = true)
      .select("changed_cols").collect())
    // duplicate NEW-side keys caught too
    fails(SnapshotDiff.diff(n, o, Seq("id"), Seq("t"), assertUniqueKeys = true).collect())
  }

  test("assertUniqueKeys: repeated NULL-keyed rows are exempt (the join classifies them safely)") {
    val o = Seq((Option.empty[Long], "y"), (Option.empty[Long], "y2"), (Option(1L), "x"))
      .toDF("id", "t")
    val n = Seq((Option(1L), "x")).toDF("id", "t")
    val out = SnapshotDiff.diff(o, n, Seq("id"), Seq("t"), assertUniqueKeys = true)
      .select("id", "change_type")
      .as[(Option[Long], String)].collect().toSet
    // two null-keyed old rows never join-match anything — each surfaces
    // independently as removed; the guard must not abort this legal diff
    assert(out == Set((Some(1L), "unchanged"), (None, "removed")))
  }

  test("diff plan: one shuffle per side, comparison map-side after the join") {
    val dir = graft.core.TmpDirs.scoped("snapdiff_plan")
    old.write.mode("overwrite").parquet(s"$dir/old")
    neu.write.mode("overwrite").parquet(s"$dir/new")
    val plan = SnapshotDiff.diff(
        spark.read.parquet(s"$dir/old"), spark.read.parquet(s"$dir/new"),
        Seq("id"), Seq("t", "v"))
      .queryExecution.executedPlan.toString
    val exchanges = "Exchange hashpartitioning".r.findAllIn(plan).size
    assert(exchanges <= 2, s"expected at most one shuffle per side:\n$plan")
    assert(plan.contains("SortMergeJoin") || plan.contains("ShuffledHashJoin")
      || plan.contains("BroadcastHashJoin"))
  }
}
