package graft

import java.sql.Timestamp

import org.scalatest.funsuite.AnyFunSuite

import graft.ops.{Anomaly, Cohort, Funnel}

/** Funnel ordering semantics and cohort retention arithmetic on
  * hand-built event sequences. */
class FunnelSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  // Parse as a UTC instant, not Timestamp.valueOf's JVM-default-zone wall
  // clock: the engine buckets in the session timezone (pinned UTC), so the
  // spec's inputs must mean the same instant under ANY host TZ — caught by
  // the round-9 TZ=America/New_York full-suite run, where valueOf shifted
  // a Sunday-23:59 event into the next UTC Monday.
  private def ts(s: String) = Timestamp.from(
    java.time.LocalDateTime.parse(s.replace(' ', 'T'))
      .toInstant(java.time.ZoneOffset.UTC))

  private val steps = Seq("view", "click", "purchase")

  private def summary(rows: Seq[(Long, String, Timestamp)]): Map[String, (Long, Int)] =
    Funnel.conversionSummary(
      rows.toDF("user_id", "event_type", "t"),
      "user_id", "event_type", "t", steps)
      .collect()
      .map(r => r.getString(1) -> (r.getLong(2), r.getInt(0)))
      .toMap

  test("funnel honors event order: a purchase BEFORE the click chain does not convert") {
    val rows = Seq(
      // user 1: purchase first, then view+click — step 3 must NOT match
      (1L, "purchase", ts("2024-01-01 09:00:00")),
      (1L, "view", ts("2024-01-01 10:00:00")),
      (1L, "click", ts("2024-01-01 11:00:00")),
      // user 2: full ordered funnel
      (2L, "view", ts("2024-01-01 10:00:00")),
      (2L, "click", ts("2024-01-01 10:05:00")),
      (2L, "purchase", ts("2024-01-01 10:10:00")))
    val got = summary(rows)
    assert(got("view") == (2L, 1) && got("click") == (2L, 2))
    assert(got("purchase") == (1L, 3), "only the ordered user converts")
  }

  test("step match is strictly after the previous step: same-timestamp events do not chain") {
    val rows = Seq(
      (1L, "view", ts("2024-01-01 10:00:00")),
      (1L, "click", ts("2024-01-01 10:00:00")), // simultaneous: no chain
      (2L, "view", ts("2024-01-01 10:00:00")),
      (2L, "click", ts("2024-01-01 10:00:01")))
    val got = summary(rows)
    assert(got("click")._1 == 1L)
  }

  test("earliest matches are used: a later re-view does not reset an achieved chain") {
    val rows = Seq(
      (1L, "view", ts("2024-01-01 10:00:00")),
      (1L, "click", ts("2024-01-01 10:30:00")),
      (1L, "view", ts("2024-01-01 11:00:00")), // ignored: t1 is the FIRST view
      (1L, "purchase", ts("2024-01-01 11:30:00")))
    val got = summary(rows)
    assert(got("purchase")._1 == 1L)
  }

  test("conversion fractions divide by the step-1 population") {
    val rows = Seq(
      (1L, "view", ts("2024-01-01 10:00:00")),
      (2L, "view", ts("2024-01-01 10:00:00")),
      (2L, "click", ts("2024-01-01 10:01:00")),
      (3L, "click", ts("2024-01-01 10:00:00"))) // click w/o view: not in funnel
    val got = Funnel.conversionSummary(
      rows.toDF("user_id", "event_type", "t"),
      "user_id", "event_type", "t", steps)
      .collect().map(r => r.getString(1) -> r.getDouble(3)).toMap
    assert(got("view") == 1.0 && got("click") == 0.5 && got("purchase") == 0.0)
  }

  test("weekly retention: offsets are whole weeks, week 0 is 1.0, sizes are per-cohort") {
    val rows = Seq(
      // cohort of Mon 2024-01-01: users 1,2; user 1 returns week 1 and 3
      (1L, "view", ts("2024-01-03 10:00:00")),
      (1L, "view", ts("2024-01-10 10:00:00")),
      (1L, "view", ts("2024-01-22 10:00:00")),
      (2L, "view", ts("2024-01-05 10:00:00")),
      // cohort of Mon 2024-01-08: user 3 only, returns week 1
      (3L, "view", ts("2024-01-08 00:00:00")),
      (3L, "view", ts("2024-01-14 23:59:59")))
    val got = Cohort.weeklyRetention(rows.toDF("user_id", "event_type", "t"), "user_id", "t")
      .collect()
      .map(r => (r.getTimestamp(0).toInstant.toString.take(10), r.getLong(1)) ->
        (r.getLong(2), r.getLong(3), r.getDouble(4)))
      .toMap
    assert(got(("2024-01-01", 0L)) == (2L, 2L, 0.5 * 2))
    assert(got(("2024-01-01", 1L)) == (1L, 2L, 0.5))
    assert(got(("2024-01-01", 3L)) == (1L, 2L, 0.5))
    assert(got(("2024-01-08", 0L)) == (1L, 1L, 1.0))
    // 2024-01-14 is a SUNDAY — still week offset 0 of the 01-08 cohort
    assert(!got.contains(("2024-01-08", 1L)))
    assert(got.size == 4)
  }

  test("funnel stamping is ONE hash exchange: stacked windows reuse the entity layout") {
    val rows = Seq(
      (1L, "view", ts("2024-01-01 10:00:00")),
      (1L, "click", ts("2024-01-01 10:05:00")),
      (1L, "purchase", ts("2024-01-01 10:10:00")))
      .toDF("user_id", "event_type", "t")
    val stampedDf = Funnel.stamped(rows, "user_id", "event_type", "t", steps)
    stampedDf.collect() // force AQE to finalize the executed plan
    val plan = stampedDf.queryExecution.executedPlan.toString
      .split("== Initial Plan ==").head
    val exchanges = "Exchange hashpartitioning".r.findAllIn(plan).size
    assert(exchanges == 1,
      s"k funnel steps must not cost k shuffles; plan:\n$plan")
    val windows = "Window".r.findAllIn(plan).size
    assert(windows >= steps.size, "each step contributes a window operator")
  }

  test("transitionMatrix: closed-form counts and conditional probabilities") {
    val rows = Seq(
      // user 1: a -> b -> a -> c ; user 2: a -> b
      (1L, 1L, "a", ts("2024-01-01 10:00:00")),
      (1L, 2L, "b", ts("2024-01-01 10:01:00")),
      (1L, 3L, "a", ts("2024-01-01 10:02:00")),
      (1L, 4L, "c", ts("2024-01-01 10:03:00")),
      (2L, 5L, "a", ts("2024-01-01 10:00:00")),
      (2L, 6L, "b", ts("2024-01-01 10:01:00")))
      .toDF("user_id", "event_id", "event_type", "t")
    val got = graft.ops.Funnel.transitionMatrix(rows, "user_id", "event_type", "t", "event_id")
      .select("prev_type", "next_type", "n", "n_prev", "p")
      .as[(String, String, Long, Long, Double)]
      .collect().map(r => (r._1, r._2) -> (r._3, r._4, r._5)).toMap
    // from a: ->b twice, ->c once; from b: ->a once (user 2's b is terminal)
    assert(got(("a", "b")) == (2L, 3L, 0.666667))
    assert(got(("a", "c")) == (1L, 3L, 0.333333))
    assert(got(("b", "a")) == (1L, 1L, 1.0))
    assert(got.size == 3, "terminal events contribute no transition")
    // cross-user sequences never chain: user 2's 'b' -> user 1's 'a' absent
  }

  test("rollingActiveUsers: trailing-window distinct counts, only observed days") {
    val rows = Seq(
      (1L, ts("2024-01-01 10:00:00")),
      (2L, ts("2024-01-01 11:00:00")),
      (1L, ts("2024-01-02 10:00:00")), // repeat user within window
      (3L, ts("2024-01-05 10:00:00")))
      .toDF("user_id", "t")
    val got = Cohort.rollingActiveUsers(rows, "user_id", "t", windowDays = 3)
      .collect().map(r => r.getDate(0).toString -> r.getLong(1)).toMap
    // observed days only: 01, 02, 05 (03/04 have no events -> no rows)
    assert(got == Map(
      "2024-01-01" -> 2L, // users 1,2
      "2024-01-02" -> 2L, // users 1 (deduped), 2 (from day 1)
      "2024-01-05" -> 1L)) // user 3 alone: day-2 contributions expired
  }

  test("edge cases: empty inputs and null keys do not crash or mis-count") {
    val empty = Seq.empty[(Long, String, Timestamp)].toDF("user_id", "event_type", "t")
    // empty funnel: k rows, zero users, null conversions (0/0)
    val f = Funnel.conversionSummary(empty, "user_id", "event_type", "t", steps)
      .select("step_idx", "n_users").as[(Int, Long)].collect().toMap
    assert(f == Map(1 -> 0L, 2 -> 0L, 3 -> 0L))
    // empty cohort: empty matrix
    assert(Cohort.weeklyRetention(empty, "user_id", "t").count() == 0)
    // null entity ids form their own funnel group rather than crashing
    val withNull = Seq(
      (Option.empty[Long], "view", ts("2024-01-01 10:00:00")),
      (Some(1L), "view", ts("2024-01-01 10:00:00")))
      .toDF("user_id", "event_type", "t")
    val n = Funnel.conversionSummary(withNull, "user_id", "event_type", "t", steps)
      .filter($"step_idx" === 1).select("n_users").as[Long].collect().head
    assert(n == 2L, "the null-id group still counts as a funnel entity")
    // empty transition matrix
    assert(graft.ops.Funnel.transitionMatrix(
      empty, "user_id", "event_type", "t", "t").count() == 0)
    // all-null profile column: zero distinct, null min/max
    val p = graft.ops.Profile.table(
      Seq.empty[Option[Double]].toDF("v").union(Seq(Option.empty[Double]).toDF("v")),
      numericCols = Seq("v"), stringCols = Nil).collect().head
    assert(p.getLong(1) == 1L && p.getLong(2) == 1L && p.getLong(3) == 0L)
    assert(p.isNullAt(4) && p.isNullAt(5))
  }

  test("Profile.table: per-column counts, nulls, distinct, typed min/max in one pass") {
    val df = Seq(
      (Some(3.0), Some("b")), (Some(1.0), None),
      (None, Some("a")), (Some(3.0), Some("b")))
      .toDF("v", "s")
    val got = graft.ops.Profile.table(df, numericCols = Seq("v"), stringCols = Seq("s"))
      .collect().map(r => r.getString(0) -> r).toMap
    val v = got("v")
    assert((v.getLong(1), v.getLong(2), v.getLong(3)) == ((4L, 1L, 2L)))
    assert((v.getDouble(4), v.getDouble(5)) == ((1.0, 3.0)))
    assert(v.isNullAt(6) && v.isNullAt(7))
    val s = got("s")
    assert((s.getLong(1), s.getLong(2), s.getLong(3)) == ((4L, 1L, 2L)))
    assert(s.isNullAt(4) && s.isNullAt(5))
    assert((s.getString(6), s.getString(7)) == (("a", "b")))
  }

  test("correlationMatrix: closed forms, null-row listwise drop, constant-column guard") {
    // y = x -> corr 1; z = -x -> corr -1; w constant -> null vs anything;
    // the row with a null x must be dropped from EVERY pair (same n)
    val df = Seq(
      (Some(1.0), 1.0, -1.0, 5.0), (Some(2.0), 2.0, -2.0, 5.0),
      (Some(3.0), 3.0, -3.0, 5.0), (None, 9.0, 9.0, 5.0))
      .toDF("x", "y", "z", "w")
    val got = graft.ops.Profile.correlationMatrix(df, Seq("x", "y", "z", "w"))
      .collect().map(r => (r.getString(0), r.getString(1)) ->
        (r.getLong(2), if (r.isNullAt(3)) None else Some(r.getDouble(3))))
      .toMap
    assert(got.size == 6 && got.values.forall(_._1 == 3L), "listwise n = 3 everywhere")
    assert(got(("x", "y"))._2.contains(1.0))
    assert(got(("x", "z"))._2.contains(-1.0))
    assert(got(("y", "z"))._2.contains(-1.0))
    assert(got(("x", "w"))._2.isEmpty && got(("y", "w"))._2.isEmpty,
      "zero-variance column correlates with nothing")
    // independent-ish check: a known hand value. x=(1,2,3), u=(1,3,2):
    // corr = 0.5 exactly
    val df2 = Seq((1.0, 1.0), (2.0, 3.0), (3.0, 2.0)).toDF("x", "u")
    val r2 = graft.ops.Profile.correlationMatrix(df2, Seq("x", "u"))
      .collect().head
    assert(r2.getDouble(3) == 0.5)
  }

  test("spearmanMatrix: monotone nonlinearity scores 1, ties average, Pearson differs") {
    // y = 10^x is monotone but wildly nonlinear: Spearman 1, Pearson < 1
    val df = Seq((1.0, 10.0), (2.0, 100.0), (3.0, 1000.0), (4.0, 10000.0))
      .toDF("x", "y")
    val sp = graft.ops.Profile.spearmanMatrix(df, Seq("x", "y")).collect().head
    assert(sp.getDouble(3) == 1.0)
    val pe = graft.ops.Profile.correlationMatrix(df, Seq("x", "y")).collect().head
    assert(pe.getDouble(3) < 1.0, "Pearson must see the nonlinearity")
    // tie-averaged ranks: x=(1,2,2,3) -> (1, 2.5, 2.5, 4); a co-monotone
    // tied y gives exactly 1, an anti-monotone y exactly -1
    val tied = Seq((1.0, 4.0), (2.0, 5.0), (2.0, 5.0), (3.0, 6.0)).toDF("x", "y")
    assert(graft.ops.Profile.spearmanMatrix(tied, Seq("x", "y"))
      .collect().head.getDouble(3) == 1.0)
    val anti = Seq((1.0, 6.0), (2.0, 5.0), (2.0, 5.0), (3.0, 4.0)).toDF("x", "y")
    assert(graft.ops.Profile.spearmanMatrix(anti, Seq("x", "y"))
      .collect().head.getDouble(3) == -1.0)
  }

  test("zscoreFlags: closed-form population moments, per-group isolation, threshold flag") {
    val rows = Seq(
      ("a", 1L, 1.0), ("a", 2L, 2.0), ("a", 3L, 3.0),
      ("b", 4L, 10.0), ("b", 5L, 10.0)) // constant group: sd 0, var guard
      .toDF("grp", "event_id", "value")
    val got = Anomaly.zscoreFlags(rows, Seq("grp"), "value", threshold = 1.2)
      .select("event_id", "n", "mean_v", "sd_v", "z", "is_outlier")
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getDouble(2), r.getDouble(3),
          if (r.isNullAt(4)) Double.NaN else r.getDouble(4), r.getInt(5)))
      .toMap
    val sd = math.sqrt(2.0 / 3.0)
    assert(got(2L)._1 == 3L && got(2L)._2 == 2.0)
    assert(math.abs(got(2L)._3 - sd) < 1e-12)
    assert(got(2L)._4 == 0.0 && got(2L)._5 == 0)
    assert(got(3L)._5 == 1, "z = 1.2247 > 1.2 flags")
    assert(math.abs(got(3L)._4 - BigDecimal(1.0 / sd)
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble) < 1e-9)
    // constant group: sd 0 -> z undefined (null in Spark's /0 semantics),
    // never flagged
    assert(got(4L)._3 == 0.0 && got(4L)._4.isNaN && got(4L)._5 == 0)
  }

  test("cusumFlags: prefix-sum identity equals the sequential recursion; sd=0 guard") {
    // random series: the window form must equal Page's recursion exactly
    val rnd = new scala.util.Random(11)
    val xs = (0 until 40).map(_ => math.rint(rnd.nextDouble() * 100) / 10.0)
    val rows = xs.zipWithIndex.map { case (x, i) => ("a", i.toLong, x) } ++
      Seq(("c", 100L, 7.0), ("c", 101L, 7.0)) // constant key: sd = 0
    val got = Anomaly.cusumFlags(rows.toDF("grp", "seq", "value"),
      keys = Seq("grp"), valueCol = "value", orderCols = Seq("seq"),
      slack = 0.5, threshold = 2.0)
      .select("grp", "seq", "cusum_up", "cusum_dn", "is_drift")
      .collect().map(r => (r.getString(0), r.getLong(1)) ->
        (if (r.isNullAt(2)) Double.NaN else r.getDouble(2),
         if (r.isNullAt(3)) Double.NaN else r.getDouble(3), r.getInt(4)))
      .toMap
    // driver-side reference: the literal recursion on the same moments
    val n = xs.size
    val mean = BigDecimal(xs.sum).setScale(2, BigDecimal.RoundingMode.HALF_UP).toDouble / n
    val s2 = BigDecimal(xs.map(x => x * x).sum)
      .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble / n
    val sd = math.sqrt(math.max(s2 - mean * mean, 0.0))
    var su = 0.0; var sn = 0.0
    xs.zipWithIndex.foreach { case (x, i) =>
      val z = (x - mean) / sd
      su = math.max(0.0, su + z - 0.5)
      sn = math.max(0.0, sn + (-z) - 0.5)
      val (gu, gn, flag) = got(("a", i.toLong))
      assert(math.abs(gu - su) < 1e-6, s"row $i up: $gu vs $su")
      assert(math.abs(gn - sn) < 1e-6, s"row $i dn: $gn vs $sn")
      assert(flag == (if (su > 2.0 || sn > 2.0) 1 else 0), s"row $i flag")
    }
    // sd = 0: cusum undefined, never flagged
    assert(got(("c", 100L))._1.isNaN && got(("c", 100L))._3 == 0)
    assert(got(("c", 101L))._3 == 0)
  }

  test("madFlags: discrete medians, masking resistance, MAD=0 guard") {
    // group a: {1,2,3,4,100} -> med = 3 (rank ceil(5/2)=3), devs
    // {2,1,0,1,97} -> MAD = 1 (sorted {0,1,1,2,97}, rank 3).
    // modified z of 100 = 0.6745*97 = 65.4 -> flagged; z-score would
    // have been dragged toward the outlier (masking).
    // group b: majority-constant {5,5,5,9} -> MAD = 0, nothing flagged.
    val rows = Seq(
      ("a", 1L, 1.0), ("a", 2L, 2.0), ("a", 3L, 3.0), ("a", 4L, 4.0),
      ("a", 5L, 100.0),
      ("b", 6L, 5.0), ("b", 7L, 5.0), ("b", 8L, 5.0), ("b", 9L, 9.0))
      .toDF("grp", "event_id", "value")
    val got = Anomaly.madFlags(rows, Seq("grp"), "value", tieCol = "event_id",
      threshold = 3.5)
      .select("event_id", "med_v", "mad_v", "robust_z", "is_outlier")
      .collect().map(r => r.getLong(0) ->
        (r.getDouble(1), r.getDouble(2),
          if (r.isNullAt(3)) Double.NaN else r.getDouble(3), r.getInt(4)))
      .toMap
    assert(got(1L)._1 == 3.0 && got(1L)._2 == 1.0)
    assert(got(5L)._3 == BigDecimal(0.6745 * 97.0)
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble && got(5L)._4 == 1)
    assert(got(3L)._3 == 0.0 && got(3L)._4 == 0, "the median itself is clean")
    assert(got(2L)._4 == 0 && got(4L)._4 == 0)
    // MAD = 0: robust z undefined (null), the genuine deviant unflagged
    // by design (documented contract, mirrors sd=0)
    (6L to 9L).foreach { id =>
      assert(got(id)._2 == 0.0 && got(id)._3.isNaN && got(id)._4 == 0) }
  }

  test("anomaly detectors: null values neither bias moments nor shift medians") {
    // zscore: [10, 10, null] must read n=2, mean=10, sd=0 — counting the
    // null row would read mean 6.67 and a spurious nonzero sd that
    // un-guards the flag for the two real rows
    val z = Anomaly.zscoreFlags(
      Seq(("a", 1L, Option(10.0)), ("a", 2L, Option(10.0)),
        ("a", 3L, Option.empty[Double])).toDF("grp", "event_id", "value"),
      Seq("grp"), "value", threshold = 0.5)
      .select("n", "mean_v", "sd_v", "is_outlier").collect()
    z.foreach { r =>
      assert(r.getLong(0) == 2L && r.getDouble(1) == 10.0
        && r.getDouble(2) == 0.0 && r.getInt(3) == 0, s"got $r")
    }
    // mad: [null, 1, 2, 3] must read med=2 (nulls excluded from rank AND
    // count) — Spark's NULLS FIRST asc window would otherwise pick 1.0
    // where a NULLS LAST engine picks 2.0, and inflate n to 4
    val m = Anomaly.madFlags(
      Seq(("a", 0L, Option.empty[Double]), ("a", 1L, Option(1.0)),
        ("a", 2L, Option(2.0)), ("a", 3L, Option(3.0)))
        .toDF("grp", "event_id", "value"),
      Seq("grp"), "value", tieCol = "event_id")
      .select("event_id", "med_v", "mad_v", "robust_z", "is_outlier")
      .collect().map(r => r.getLong(0) -> r).toMap
    assert(m(1L).getDouble(1) == 2.0 && m(1L).getDouble(2) == 1.0)
    // the null-value row rides through the output unflagged
    assert(m(0L).isNullAt(3) && m(0L).getInt(4) == 0)
  }

  test("madFlags: a group whose values are ALL null still emits its rows") {
    // such a group has no stats row at all (the medians are computed on
    // the null-filtered frame) — an inner stats join silently dropped it
    // while zscoreFlags kept it; the detectors must agree on row sets
    val df = Seq(
      ("dead", 1L, Option.empty[Double]), ("dead", 2L, Option.empty[Double]),
      ("live", 3L, Option(1.0)), ("live", 4L, Option(2.0)))
      .toDF("grp", "event_id", "value")
    val mad = Anomaly.madFlags(df, Seq("grp"), "value", tieCol = "event_id")
    val z = Anomaly.zscoreFlags(df, Seq("grp"), "value")
    assert(mad.count() == 4 && z.count() == 4,
      "all-null groups must not vanish from either detector")
    val dead = mad.filter($"grp" === "dead")
      .select("med_v", "mad_v", "robust_z", "is_outlier").collect()
    dead.foreach { r =>
      assert(r.isNullAt(0) && r.isNullAt(1) && r.isNullAt(2) && r.getInt(3) == 0)
    }
  }
}
