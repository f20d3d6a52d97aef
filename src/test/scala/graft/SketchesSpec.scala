package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.core.Tables
import graft.ops.{RangeJoin, Sketches}

/** Range-join semantics on hand-built intervals; sketch error envelopes
  * and merge identities on the real corpus.
  */
class SketchesSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private val dir = "/root/testdata/sf0.001"
  private lazy val words = Tables.documents(spark, dir)
    .select(col("source"), explode(split(col("text"), " ")).as("word")).cache()

  private def ts(s: String) = java.sql.Timestamp.valueOf(s)

  test("pointInInterval: inclusive bounds, multi-bin intervals, overlapping matches") {
    val points = Seq(
      (1, 1L, ts("2024-01-01 00:00:10")),
      (1, 2L, ts("2024-01-01 00:05:00")),
      (1, 3L, ts("2024-01-01 02:00:00")),
      (2, 4L, ts("2024-01-01 00:00:30")))
      .toDF("k", "p_id", "t")
    val intervals = Seq(
      // spans many 1-min bins; both :10 and :05:00 fall inside
      (1, 10L, ts("2024-01-01 00:00:10"), ts("2024-01-01 00:30:00")),
      // overlaps the first interval — point 1 must match both
      (1, 11L, ts("2024-01-01 00:00:00"), ts("2024-01-01 00:01:00")),
      (2, 12L, ts("2024-01-01 00:01:00"), ts("2024-01-01 00:02:00")))
      .toDF("k", "i_id", "lo", "hi")
    val got = RangeJoin.pointInInterval(points, intervals, Seq("k"),
      "t", "lo", "hi", binWidthMicros = 60000000L)
      .select("p_id", "i_id").as[(Long, Long)].collect().toSet
    // point 1: on interval-10's lo bound (inclusive) AND inside 11;
    // point 2 inside 10 only; point 3 after everything; point 4 before 12
    assert(got == Set((1L, 10L), (1L, 11L), (2L, 10L)))
  }

  test("pointInInterval: inverted intervals are dropped before the explode") {
    val points = Seq((1, 1L, ts("2024-01-01 00:00:10"))).toDF("k", "p_id", "t")
    val intervals = Seq(
      (1, 10L, ts("2024-01-01 00:00:00"), ts("2024-01-01 00:01:00")), // valid
      (1, 11L, ts("2024-01-01 01:00:00"), ts("2024-01-01 00:00:00"))) // hi < lo
      .toDF("k", "i_id", "lo", "hi")
    val got = RangeJoin.pointInInterval(points, intervals, Seq("k"),
      "t", "lo", "hi", binWidthMicros = 60000000L)
      .select("p_id", "i_id").as[(Long, Long)].collect().toSet
    // the inverted interval matches nothing AND never reaches the
    // sequence() explode (descending bins would replicate it for free)
    assert(got == Set((1L, 10L)))
  }

  test("pointInInterval: a pathological interval span fails fast, not OOM-later") {
    val points = Seq((1, 1L, ts("2024-01-01 00:00:10"))).toDF("k", "p_id", "t")
    val intervals = Seq((1, 10L, ts("2024-01-01 00:00:00"), ts("2024-01-02 00:00:00")))
      .toDF("k", "i_id", "lo", "hi") // 1441 one-minute bins
    val ex = intercept[Exception] {
      RangeJoin.pointInInterval(points, intervals, Seq("k"),
        "t", "lo", "hi", binWidthMicros = 60000000L, maxBinsPerInterval = 1000L)
        .collect()
    }
    def messages(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(e => Option(e.getMessage).toSeq ++ messages(e.getCause))
    assert(messages(ex).exists(_.contains("pointInInterval: interval spans")),
      s"expected the raise_error message, got: $ex")
  }

  test("pointInInterval plan: equi-join on bins, no nested-loop fallback") {
    val points = Seq((1, 1L, ts("2024-01-01 00:00:10"))).toDF("k", "p_id", "t")
    val intervals = Seq((1, 10L, ts("2024-01-01 00:00:00"), ts("2024-01-01 01:00:00")))
      .toDF("k", "i_id", "lo", "hi")
    val df = RangeJoin.pointInInterval(points, intervals, Seq("k"),
      "t", "lo", "hi", binWidthMicros = 60000000L)
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("NestedLoop") && !plan.contains("Cartesian"),
      s"range join must not fall back to all-pairs:\n$plan")
  }

  test("count-min estimates dominate exact counts within the eps*N envelope") {
    val exact = words.groupBy("word").agg(count(lit(1)).as("n"))
      .orderBy(desc("n"), asc("word")).limit(10)
      .as[(String, Long)].collect()
    val n = words.count()
    val est = Sketches.countMinEstimates(words, "word", exact.map(_._1).toSeq,
      eps = 0.001, confidence = 0.99)
      .as[(String, Long)].collect().toMap
    exact.foreach { case (w, ex) =>
      assert(est(w) >= ex, s"CMS must never underestimate ($w)")
      assert(est(w) - ex <= (0.001 * n).ceil.toLong,
        s"CMS error for $w: est ${est(w)} vs exact $ex, N=$n")
    }
  }

  test("HLL: per-source estimates within 5% of exact; sharded union == one-pass global") {
    val exact = words.groupBy("source").agg(countDistinct("word").as("n"))
      .as[(String, Long)].collect().toMap
    val est = Sketches.hllDistinctByGroup(words, "source", "word")
      .as[(String, Long)].collect().toMap
    assert(est.keySet == exact.keySet)
    est.foreach { case (s, e) =>
      assert(math.abs(e - exact(s)).toDouble / exact(s) <= 0.05,
        s"HLL error for $s: $e vs ${exact(s)}")
    }
    val sharded = Sketches.hllShardedDistinct(words, "source", "word")
      .as[Long].collect().head
    val onePass = words.agg(
      hll_sketch_estimate(hll_sketch_agg(col("word"), lit(12))))
      .as[Long].collect().head
    assert(sharded == onePass, "HLL union over shards must equal the one-pass sketch")
  }

  test("approx quantile sketch: returned values sit within a 2% rank envelope of target") {
    val ev = graft.core.Tables.events(spark, "/root/testdata/sf0.001")
    val approx = ev.groupBy("event_type")
      .agg(percentile_approx(col("value"), array(lit(0.5), lit(0.95)), lit(10000)).as("q"))
      .select(col("event_type"), col("q")(0).as("p50"), col("q")(1).as("p95"))
      .as[(String, Double, Double)].collect()
    val byType = ev.select("event_type", "value").as[(String, Double)]
      .collect().groupBy(_._1).view.mapValues(_.map(_._2).sorted).toMap
    approx.foreach { case (t, p50, p95) =>
      val vs = byType(t)
      def rankOf(v: Double): Double = vs.count(_ <= v).toDouble / vs.length
      assert(math.abs(rankOf(p50) - 0.5) <= 0.02, s"$t p50=$p50 rank=${rankOf(p50)}")
      assert(math.abs(rankOf(p95) - 0.95) <= 0.02, s"$t p95=$p95 rank=${rankOf(p95)}")
      // the sketch returns actual data values, not interpolations
      assert(vs.contains(p50) && vs.contains(p95))
    }
    // The catalog row emits the envelope verdict directly and is
    // hash-checked against DuckDB.
  }

  test("approx quantile: eps*n element-rank bound holds across group sizes incl. n < 1/eps") {
    // The GK-style sketch guarantees element-rank error <= eps*n with
    // eps = 1/accuracy. The corpus-based test above only exercises one
    // group-size regime; this one sweeps sizes on BOTH sides of the
    // n = 1/eps boundary: below it eps*n < 1, so the sketch must be
    // exact to within one element (the discreteness floor), and well
    // above it the proportional envelope takes over.
    val accuracy = 100 // eps = 0.01
    val sizes = Seq(30, 99, 100, 101, 1000, 20000)
    val rng = new scala.util.Random(42)
    val rows = sizes.flatMap(n => Seq.fill(n)((s"g$n", rng.nextDouble() * 1000)))
    val df = rows.toDF("g", "v")
    val quantiles = Seq(0.5, 0.95, 0.99)
    val approx = df.groupBy("g")
      .agg(percentile_approx(col("v"),
        array(quantiles.map(lit): _*), lit(accuracy)).as("q"))
      .as[(String, Seq[Double])].collect().toMap
    val exact = rows.groupBy(_._1).view.mapValues(_.map(_._2).sorted).toMap
    for (n <- sizes; (q, qi) <- quantiles.zipWithIndex) {
      val vs = exact(s"g$n")
      val p = approx(s"g$n")(qi)
      assert(vs.contains(p), s"n=$n q=$q: sketch must return a data value, got $p")
      val elemRankErr = math.abs(vs.count(_ <= p) - q * n)
      val bound = n / accuracy.toDouble + 1.0 // eps*n + discreteness floor
      assert(elemRankErr <= bound,
        s"n=$n q=$q: element-rank error $elemRankErr exceeds eps*n+1 = $bound (p=$p)")
    }
  }

  test("KMV not-full regime: overlap estimates are exactly the true set counts") {
    import spark.implicits._
    val ev = Tables.events(spark, dir).select($"event_type", $"user_id")
    val k = 4096
    val got = Sketches.kmvOverlap(
        Sketches.kmvSketches(ev, "event_type", "user_id", k), "event_type")
      .as[(String, String, Double, Double, Double)].collect()
      .map(r => (r._1, r._2) -> (r._3, r._4, r._5)).toMap
    // exact replay
    val sets = ev.distinct().as[(String, Long)].collect()
      .groupBy(_._1).map { case (g, rs) => g -> rs.map(_._2).toSet }
    val pairs = sets.keys.toSeq.sorted.combinations(2).toSeq
    assert(got.size == pairs.size && pairs.nonEmpty)
    pairs.foreach { case Seq(g1, g2) =>
      val (i, un, j) = got((g1, g2))
      val ti = (sets(g1) intersect sets(g2)).size
      val tu = (sets(g1) union sets(g2)).size
      assert(i == ti.toDouble, s"($g1,$g2) intersection: $i != $ti")
      assert(un == tu.toDouble, s"($g1,$g2) union: $un != $tu")
      assert(j == BigDecimal(ti.toDouble / tu)
        .setScale(6, scala.math.BigDecimal.RoundingMode.HALF_UP).toDouble)
    }
  }

  test("KMV approximate regime: 30k-distinct groups within 15% at k=256") {
    import spark.implicits._
    // planted: A = [0, 30000), B = [20000, 50000) -> |A∩B| = 10000,
    // |A∪B| = 50000, J = 0.2
    val rows = ((0 until 30000).map(i => ("A", i.toLong)) ++
      (20000 until 50000).map(i => ("B", i.toLong))).toDF("g", "v")
      .repartition(8)
    val k = 256
    val est = Sketches.kmvOverlap(Sketches.kmvSketches(rows, "g", "v", k), "g")
      .as[(String, String, Double, Double, Double)].collect().head
    info(f"est inter=${est._3}%.0f (true 10000), union=${est._4}%.0f " +
      f"(true 50000), jaccard=${est._5}%.4f (true 0.2)")
    assert(math.abs(est._3 - 10000) / 10000.0 <= 0.15, s"intersection ${est._3}")
    assert(math.abs(est._4 - 50000) / 50000.0 <= 0.15, s"union ${est._4}")
    assert(math.abs(est._5 - 0.2) / 0.2 <= 0.25, s"jaccard ${est._5}")
  }

  test("kmv u(): the Long.MaxValue boundary is deterministic and pinned") {
    // u maps a signed 64-bit hash through a 53-bit-mantissa double:
    // (2^63 - 1).toDouble rounds UP to 2^63 exactly, so u(Long.MaxValue)
    // lands on exactly 1.0 — the documented measure-zero edge. This pins
    // every consumer's behavior at that edge rather than leaving it to
    // narrative.
    val max = Long.MaxValue
    // kmvOverlap, not-full sketches carrying a boundary hash: θ = 1.0
    // short-circuits the cut, so the boundary hash survives and the
    // not-full ⇒ exact property holds all the way to Long.MaxValue
    val sketches = Seq(
      ("a", Seq(1L, max), 2, 3),
      ("b", Seq(max), 1, 3))
      .toDF("g", "kmv", "kmv_n", "kmv_k")
    val ov = Sketches.kmvOverlap(sketches, "g")
      .select("est_intersection", "est_union", "est_jaccard")
      .as[(Double, Double, Double)].head()
    assert(ov == ((1.0, 2.0, 0.5)),
      s"exact counts expected for not-full sketches at the edge, got $ov")
    // both FULL with the θ-defining hash at the boundary: θ computes 1.0,
    // which (deliberately) takes the same keep-everything branch — the
    // estimates stay finite and deterministic, no hash is dropped
    val fullPair = Seq(
      ("a", Seq(10L, 20L, max), 3, 3),
      ("b", Seq(10L, 30L, max), 3, 3))
      .toDF("g", "kmv", "kmv_n", "kmv_k")
    val ov2 = Sketches.kmvOverlap(fullPair, "g")
      .select("est_intersection", "est_union").as[(Double, Double)].head()
    assert(ov2 == ((2.0, 4.0)), s"θ=1.0 full-sketch edge changed: $ov2")
  }
}
