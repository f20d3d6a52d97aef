package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.ops.Quality
import graft.ops.Quality.Check._

/** Data-quality gates and drift monitors (ops/Quality): closed-form
  * metrics on hand data, spine completeness, and repartition
  * determinism. The catalog entries (`ext_expectations`,
  * `ext_drift_psi`, `ext_drift_ks`, `ext_winsorize`) carry the
  * DuckDB-oracle identity on the real corpus; this suite pins the
  * arithmetic the oracles can't narrate.
  */
class QualitySpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private def handTable = Seq(
    (1L, Some("alice"), Some(10.0), Some("US")),
    (1L, Some("bob"), Some(-5.0), Some("DE")),
    (2L, None, Some(50.0), Some("XX")),
    (3L, Some("carol"), Some(200.0), None)
  ).toDF("id", "name", "score", "country")

  test("expectations: closed-form metrics and pass flags on hand data") {
    val dim = Seq("US", "DE").toDF("code")
    val out = Quality.expectations(handTable, Seq(
      NotNull("name"),                       // 1/4 null -> fail at 0.0
      Unique("id"),                          // 1 dup / 4 -> fail at 0.0
      Unique("id", maxDupFrac = 0.5),        // same metric -> pass at 0.5
      InRange("score", 0.0, 100.0, maxViolFrac = 0.5), // -5, 200 -> 0.5 pass
      InSet("country", Seq("US", "DE")),     // XX -> 0.25 fail
      Matches("name", "^[a-z]+$"),           // all lowercase -> 0 pass
      RowCountBetween(1L, 10L),              // n=4 pass
      RowCountBetween(5L, 10L),              // n=4 fail
      RefIntegrity("country", dim, "code")   // XX orphan -> 0.25 fail
    ))
    val rows = out
      .select("check_type", "col_name", "metric", "threshold", "passed")
      .as[(String, String, Double, Double, Int)].collect().toList
    assert(rows.size == 9, "one row per declared check")
    // declaration order is preserved by the struct-array explode
    assert(rows(0) == ("not_null", "name", 0.25, 0.0, 0))
    assert(rows(1) == ("unique", "id", 0.25, 0.0, 0))
    assert(rows(2) == ("unique", "id", 0.25, 0.5, 1))
    assert(rows(3) == ("in_range", "score", 0.5, 0.5, 1))
    assert(rows(4) == ("in_set", "country", 0.25, 0.0, 0))
    assert(rows(5) == ("matches", "name", 0.0, 0.0, 1))
    assert(rows(6) == ("row_count", "*", 4.0, 10.0, 1))
    assert(rows(7) == ("row_count", "*", 4.0, 10.0, 0))
    assert(rows(8) == ("ref_integrity", "country", 0.25, 0.0, 0))
  }

  test("observedExpectations: same metrics as the standalone gate, zero extra pass") {
    val dim = Seq("US", "DE").toDF("code")
    val checks = Seq(
      NotNull("name"), Unique("id"), InRange("score", 0.0, 100.0, 0.5),
      InSet("country", Seq("US", "DE")), RowCountBetween(1L, 10L),
      RefIntegrity("country", dim, "code"))
    val (gated, obs) = Quality.observedExpectations(handTable, checks)
    // the gated frame IS the input: same rows, same columns (the RI hit
    // markers must not leak through)
    assert(gated.columns.toSeq == handTable.columns.toSeq)
    // ONE action computes the data AND the gate
    assert(gated.count() == 4)
    val got = Quality.observedResults(checks, obs)
    // metric-for-metric parity with the standalone aggregation pass
    // (Unique rides approx_count_distinct here — exact at 3 distincts)
    val want = Quality.expectations(handTable, checks)
      .select("check_type", "col_name", "metric", "threshold", "passed")
      .as[(String, String, Double, Double, Int)].collect().toList
    assert(got.toList == want)
    assert(got.map(_._5) == Seq(0, 0, 1, 0, 1, 0))
  }

  test("expectations: null-heavy and all-clean edges") {
    val clean = Seq((1L, "a"), (2L, "b")).toDF("id", "name")
    val out = Quality.expectations(clean,
      Seq(NotNull("name"), Unique("id"), RowCountBetween(2L, 2L)))
      .select("passed").as[Int].collect()
    assert(out.toSeq == Seq(1, 1, 1))
    // nulls never count as range/set/regex violations
    val nully = Seq((Option.empty[Double], Option.empty[String])).toDF("score", "name")
    val m = Quality.expectations(nully, Seq(
      InRange("score", 0, 1), Matches("name", "^x$")))
      .select("metric").as[Double].collect()
    assert(m.toSeq == Seq(0.0, 0.0))
  }

  test("expectations: a zero-row table yields 0.0 metrics, RowCount gates emptiness") {
    val empty = handTable.filter(lit(false))
    val out = Quality.expectations(empty, Seq(
      NotNull("name"), Unique("id"), InRange("score", 0, 100),
      RowCountBetween(1L, 10L)))
      .select("check_type", "metric", "passed")
      .as[(String, Double, Int)].collect().toList
    // fraction checks: no violations among zero rows -> 0.0 / pass (never
    // null, which a `passed = 0` alert feed would silently swallow);
    // emptiness itself is RowCountBetween's job -> 0 rows fails [1, 10]
    assert(out == List(
      ("not_null", 0.0, 1), ("unique", 0.0, 1),
      ("in_range", 0.0, 1), ("row_count", 0.0, 0)))
  }

  test("ksDrift: an empty side is CDF 0 -> D = 1 and the alert fires") {
    val ref = Seq(1.0, 2.0, 3.0).toDF("value")
    val none = ref.filter(lit(false))
    val (rn, cn, d) = Quality.ksDrift(ref, none, "value")
      .as[(Long, Long, Double)].head()
    assert((rn, cn, d) == ((3L, 0L, 1.0)), "ref vs nothing is maximal drift, not null")
    val (rn2, cn2, d2) = Quality.ksDrift(none, ref, "value")
      .as[(Long, Long, Double)].head()
    assert((rn2, cn2, d2) == ((0L, 3L, 1.0)))
    // binned variant: same guard through the shared epilogue
    val (rb, cb, db) = Quality.ksDriftBinned(ref, none, "value", Seq(2.0))
      .as[(Long, Long, Double)].head()
    assert((rb, cb, db) == ((3L, 0L, 1.0)))
    // BOTH sides empty: ks is null (genuinely undefined) in the binned
    // form too — its always-populated bucket spine must not turn two
    // empty snapshots into a healthy-looking ks = 0.0
    val bothEmpty = Quality.ksDriftBinned(none, none, "value", Seq(2.0))
      .select("ref_n", "cur_n", "ks").head()
    assert(bothEmpty.getLong(0) == 0L && bothEmpty.getLong(1) == 0L
      && bothEmpty.isNullAt(2), s"got $bothEmpty")
    val exactEmpty = Quality.ksDrift(none, none, "value").select("ks").head()
    assert(exactEmpty.isNullAt(0))
  }

  test("winsorize: a null group key is a real group, not silently dropped") {
    val df = Seq((Option("a"), 1.0), (Option("a"), 2.0),
      (Option.empty[String], 10.0), (Option.empty[String], 20.0),
      (Option.empty[String], 30.0)).toDF("g", "value")
    val out = Quality.winsorize(df, "value", "g", 0.25, 0.75)
      .select("g", "n", "lo", "hi")
      .as[(Option[String], Long, Double, Double)].collect()
      .sortBy(_._1.getOrElse("")).toList
    assert(out == List(
      (None, 3L, 10.0, 30.0),
      (Some("a"), 2L, 1.0, 2.0)))
  }

  test("quantileEdges: percentile_disc rank semantics") {
    val df = (1 to 10).map(_.toDouble).toDF("v")
    // quartile edges over 1..10: ceil(0.25*10)=3, ceil(0.5*10)=5, ceil(0.75*10)=8
    assert(Quality.quantileEdges(df, "v", 4) == Seq(3.0, 5.0, 8.0))
    // duplicates collapse into the per-value count table, ranks unchanged
    val dup = ((1 to 10) ++ (1 to 10)).map(_.toDouble).toDF("v")
    assert(Quality.quantileEdges(dup, "v", 4) == Seq(3.0, 5.0, 8.0))
  }

  test("psiDrift: identical snapshots are exactly zero, spine is complete") {
    val ref = (1 to 100).map(_.toDouble).toDF("value")
    val out = Quality.psiDrift(ref, ref, "value", bins = 10)
      .select("bucket", "ref_n", "cur_n", "psi_term")
      .as[(Int, Long, Long, Double)].collect().sortBy(_._1)
    assert(out.map(_._1).toSeq == (0 until 10))
    assert(out.forall { case (_, r, c, t) => r == c && t == 0.0 })
  }

  test("psiDrift: closed-form shifted distribution") {
    val ref = (1 to 10).map(_.toDouble).toDF("value")
    val cur = (6 to 15).map(_.toDouble).toDF("value")
    // bins=2: one edge at ceil(0.5*10)=5th value = 5.0; bucket = [v >= 5]
    // ref: bucket0 {1..4} = 4, bucket1 {5..10} = 6
    // cur: bucket0 {} = 0,     bucket1 {6..15} = 10
    val out = Quality.psiDrift(ref, cur, "value", bins = 2)
      .select("bucket", "ref_n", "cur_n", "psi_term")
      .as[(Int, Long, Long, Double)].collect().sortBy(_._1)
    assert(out.map(t => (t._1, t._2, t._3)).toSeq == Seq((0, 4L, 0L), (1, 6L, 10L)))
    def term(rn: Long, cn: Long): Double = {
      val pr = (rn + 0.5) / 11.0; val pc = (cn + 0.5) / 11.0
      BigDecimal((pc - pr) * math.log(pc / pr))
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    }
    assert(out(0)._4 == term(4, 0) && out(1)._4 == term(6, 10))
    assert(out.map(_._4).sum > 0.2, "a real shift must trip the 0.2 alert")
  }

  test("psiDrift: empty buckets get the smoothed floor, never NaN/Inf") {
    val ref = (1 to 100).map(_.toDouble).toDF("value")
    val cur = Seq(50.0).toDF("value")
    val terms = Quality.psiDrift(ref, cur, "value", bins = 10)
      .select("psi_term").as[Double].collect()
    assert(terms.forall(t => !t.isNaN && !t.isInfinite))
  }

  test("ksDrift: disjoint = 1, identical = 0, interleaved closed form") {
    val a = Seq(1.0, 2.0).toDF("value")
    val b = Seq(3.0, 4.0).toDF("value")
    def ks(x: org.apache.spark.sql.DataFrame, y: org.apache.spark.sql.DataFrame) =
      Quality.ksDrift(x, y, "value").select("ks").as[Double].head()
    assert(ks(a, b) == 1.0)
    assert(ks(a, a) == 0.0)
    val r = Seq(1.0, 2.0, 3.0, 4.0).toDF("value")
    val c = Seq(3.0, 4.0, 5.0, 6.0).toDF("value")
    // F_ref - F_cur peaks at v in {2,3,4}: |0.5 - 0.0| = 0.5
    assert(ks(r, c) == 0.5)
    val (rn, cn) = Quality.ksDrift(r, c, "value")
      .select("ref_n", "cur_n").as[(Long, Long)].head()
    assert((rn, cn) == (4L, 4L))
  }

  test("winsorize: closed-form bounds, clip counts, grid-safe sum") {
    val df = (1 to 100).map(v => ("a", v.toDouble)).toDF("g", "value")
    val out = Quality.winsorize(df, "value", "g", pLo = 0.05, pHi = 0.95)
      .select("g", "n", "lo", "hi", "n_clip_lo", "n_clip_hi", "sum_winsorized")
      .as[(String, Long, Double, Double, Long, Long, Double)].head()
    // lo = 5th of 1..100 = 5, hi = 95th = 95; clip 1..4 up, 96..100 down
    // sum = sum(5..95) + 4*5 + 5*95 = 4550 + 20 + 475 = 5045
    assert(out == (("a", 100L, 5.0, 95.0, 4L, 5L, 5045.0)))
  }

  test("winsorize: groups are independent; nulls dropped before ranking") {
    val df = Seq(("a", Some(1.0)), ("a", Some(2.0)), ("a", Some(3.0)),
      ("a", None), ("b", Some(10.0))).toDF("g", "value")
    val out = Quality.winsorize(df, "value", "g", 0.25, 0.75)
      .select("g", "n", "lo", "hi")
      .as[(String, Long, Double, Double)].collect().sortBy(_._1)
    // group a: n=3 (null dropped), lo = ceil(.25*3)=1st = 1, hi = ceil(.75*3)=3rd = 3
    assert(out(0) == (("a", 3L, 1.0, 3.0)))
    // singleton group: lo = hi = the value, nothing clipped
    assert(out(1) == (("b", 1L, 10.0, 10.0)))
  }

  test("psiCategorical: top-K + (other) tail, closed-form terms") {
    // ref: a×6, b×3, c×2, d×1 ; cur: a×2, b×2, c×2, d×6
    def mk(counts: (String, Int)*) =
      counts.flatMap { case (v, n) => Seq.fill(n)(v) }.toDF("cat")
    val ref = mk("a" -> 6, "b" -> 3, "c" -> 2, "d" -> 1)
    val cur = mk("a" -> 2, "b" -> 2, "c" -> 2, "d" -> 6)
    val out = Quality.psiCategorical(ref, cur, "cat", topK = 2)
      .select("category", "ref_n", "cur_n", "psi_term")
      .as[(String, Long, Long, Double)].collect().sortBy(_._1).toList
    // top-2 of ref = a, b; c and d collapse into (other): ref 3, cur 8
    assert(out.map(t => (t._1, t._2, t._3)) ==
      List(("(other)", 3L, 8L), ("a", 6L, 2L), ("b", 3L, 2L)))
    def term(rn: Long, cn: Long): Double = {
      val pr = (rn + 0.5) / (12 + 0.5 * 3); val pc = (cn + 0.5) / (12 + 0.5 * 3)
      BigDecimal((pc - pr) * math.log(pc / pr))
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    }
    assert(out.find(_._1 == "a").get._4 == term(6, 2))
    assert(out.find(_._1 == "(other)").get._4 == term(3, 8))
  }

  test("psiCategorical: deterministic top-K tie-break, unseen cur category") {
    // tie between x and y at count 2 -> value order picks x; z only in cur
    val ref = Seq("x", "x", "y", "y").toDF("cat")
    val cur = Seq("z", "z", "z").toDF("cat")
    val out = Quality.psiCategorical(ref, cur, "cat", topK = 1)
      .select("category", "ref_n", "cur_n")
      .as[(String, Long, Long)].collect().sortBy(_._1).toList
    assert(out == List(("(other)", 2L, 3L), ("x", 2L, 0L)))
  }

  test("expectations: the fact table is scanned exactly once (no RI)") {
    val dir = graft.core.TmpDirs.scoped("quality_scan_pin")
    handTable.write.mode("overwrite").parquet(dir)
    val pq = spark.read.parquet(dir)
    val plan = Quality.expectations(pq, Seq(
      NotNull("name"), InRange("score", 0, 100), RowCountBetween(1, 10)))
      .queryExecution.executedPlan.toString
    val scans = "Scan parquet".r.findAllIn(plan).size
    assert(scans == 1, s"expected a single fact scan, got $scans:\n$plan")
  }

  test("PSI monitors: an empty current snapshot yields finite floor terms, never null") {
    val ref = (1 to 100).map(_.toDouble).toDF("value")
    val none = ref.filter(lit(false))
    val num = Quality.psiDrift(ref, none, "value", bins = 5)
      .select("cur_n", "psi_term").as[(Long, Double)].collect()
    assert(num.length == 5)
    assert(num.forall { case (c, t) => c == 0L && !t.isNaN && !t.isInfinite })
    val refCat = Seq("a", "a", "b").toDF("cat")
    val cat = Quality.psiCategorical(refCat, refCat.filter(lit(false)), "cat", topK = 1)
      .select("cur_n", "psi_term").as[(Long, Double)].collect()
    assert(cat.forall { case (c, t) => c == 0L && !t.isNaN && !t.isInfinite })
    val rep = Quality.driftReport(ref, none, Seq("value"), bins = 4)
      .select("cur_n", "psi_term").as[(Long, Double)].collect()
    assert(rep.length == 4)
    assert(rep.forall { case (c, t) => c == 0L && !t.isNaN && !t.isInfinite })
    // the floor histogram is near-uniform, so vs a DECILE reference the
    // PSI stays ~0: emptiness is RowCountBetween's alert, not PSI's
    assert(math.abs(num.map(_._2).sum) < 0.05)
  }

  test("categorySpine: the reserved \"(other)\" label in top-K is refused loudly") {
    val bad = Seq("(other)", "(other)", "x").toDF("cat")
    val e = intercept[IllegalArgumentException] {
      Quality.categorySpine(bad, "cat", topK = 1)
    }
    assert(e.getMessage.contains("reserved"))
    // an all-null reference fails with the explicit quantileEdges-style
    // message, not a bare NullPointerException from a null total sum
    val allNull = Seq(Option.empty[String], None).toDF("cat")
    val e2 = intercept[IllegalArgumentException] {
      Quality.categorySpine(allNull, "cat", topK = 1)
    }
    assert(e2.getMessage.contains("no non-null"))
    // below the top-K it folds into the tail like any other value
    val ok = Quality.categorySpine(
      Seq("a", "a", "a", "(other)").toDF("cat"), "cat", topK = 1)
    assert(ok == Seq(("a", 3L), ("(other)", 1L)))
  }

  test("ksDriftBinned: lower bound on exact D, equal when edges = distinct values") {
    val r = Seq(1.0, 2.0, 3.0, 4.0).toDF("value")
    val c = Seq(3.0, 4.0, 5.0, 6.0).toDF("value")
    def ks(df: org.apache.spark.sql.DataFrame): Double =
      df.select("ks").as[Double].head()
    val exact = ks(Quality.ksDrift(r, c, "value"))
    // every distinct value its own edge -> binned == exact
    assert(ks(Quality.ksDriftBinned(r, c, "value", (1 to 6).map(_.toDouble))) == exact)
    // coarse edges -> a valid lower bound (gap between boundaries hidden)
    val coarse = ks(Quality.ksDriftBinned(r, c, "value", Seq(4.0)))
    assert(coarse <= exact && coarse > 0.0)
    // a larger random-ish case: binned at ref deciles stays <= exact
    val ref = (1 to 500).map(v => ((v * 7919) % 1000).toDouble).toDF("value")
    val cur = (1 to 400).map(v => ((v * 6271) % 1300).toDouble).toDF("value")
    val d = ks(Quality.ksDrift(ref, cur, "value"))
    val b = ks(Quality.ksDriftBinned(ref, cur, "value",
      Quality.quantileEdges(ref, "value", 10)))
    assert(b <= d + 1e-12 && b > 0.0)
  }

  test("driftReport: per-column results identical to psiDrift, one melted edge pass") {
    val ref = (1 to 300).map(i => (i.toDouble, (i % 17).toDouble)).toDF("a", "b")
    val cur = (150 to 500).map(i => (i.toDouble, (i % 23).toDouble)).toDF("a", "b")
    val report = Quality.driftReport(ref, cur, Seq("a", "b"), bins = 8)
      .collect().map(r => (r.getString(0), r.getInt(1), r.getLong(2),
        r.getLong(3), r.getDouble(4))).toSet
    val perCol = Seq("a", "b").flatMap { c =>
      Quality.psiDrift(ref.select(c), cur.select(c), c, bins = 8)
        .collect().map(r =>
          (c, r.getInt(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    }.toSet
    assert(report == perCol)
    // null values in one column must not leak into another column's
    // bucket 0 (the null-guarded conditional sums)
    val withNulls = Seq((Some(1.0), Option.empty[Double]),
      (Some(2.0), Some(5.0)), (Some(3.0), Some(6.0))).toDF("a", "b")
    val rep = Quality.driftReport(withNulls, withNulls, Seq("a", "b"), bins = 2)
    val counts = rep.filter(col("col_name") === "b")
      .agg(sum("ref_n")).head().getLong(0)
    assert(counts == 2L, "only b's non-null rows count in b's histogram")
  }

  test("drift metrics are repartition-deterministic") {
    val ref = (1 to 1000).map(v => (v % 37).toDouble).toDF("value")
    val cur = (1 to 800).map(v => (v % 41).toDouble).toDF("value")
    def runPsi(r: org.apache.spark.sql.DataFrame, c: org.apache.spark.sql.DataFrame) =
      Quality.psiDrift(r, c, "value", 10)
        .select("bucket", "ref_n", "cur_n", "psi_term")
        .as[(Int, Long, Long, Double)].collect().sortBy(_._1).toSeq
    assert(runPsi(ref, cur) == runPsi(ref.repartition(7), cur.repartition(3)))
    def runKs(r: org.apache.spark.sql.DataFrame, c: org.apache.spark.sql.DataFrame) =
      Quality.ksDrift(r, c, "value").as[(Long, Long, Double)].head()
    assert(runKs(ref, cur) == runKs(ref.repartition(5), cur.repartition(9)))
  }
}
