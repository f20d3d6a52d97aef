package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.ops.Skew

/** The explicit 100 TB techniques: partition pruning, salted skew joins
  * (identical results), key-skew profiles, and the plan shapes the
  * catalog's headline queries must keep.
  */
class ScaleTechniquesSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  test("date-partitioned parquet sink prunes partitions on read") {
    Fxt.ensure(spark)
    val out = graft.pipeline.DailyAggregatorJob.run(
      spark, graft.fixtures.Fixtures.rawCsv, graft.model.Rules.referenceDefaults)
    val dir = java.nio.file.Files.createTempDirectory("graft_part").toString
    out.hourlySummary
      .withColumn("summary_date", date_format(col("summary_date"), "yyyy-MM-dd"))
      .write.mode("overwrite").partitionBy("summary_date").parquet(dir)
    out.unpersist()
    val read = spark.read.parquet(dir).filter(col("summary_date") === "2024-10-17")
    // the physical scan must carry a partition filter (directory pruning,
    // not a post-scan filter over all partitions)
    val plan = read.queryExecution.explainString(
      org.apache.spark.sql.execution.FormattedMode)
    assert(plan.contains("PartitionFilters") &&
      plan.matches("(?s).*PartitionFilters: \\[[^\\]]*summary_date[^\\]]*\\].*"),
      s"no partition filter in plan:\n$plan")
    assert(read.count() > 0)
    assert(read.select("summary_date").distinct().count() == 1)
  }

  test("salted join output is identical to the plain join on skewed data") {
    // heavy tail: 90% of rows share one key
    val big = (1 to 5000).map(i => (if (i % 10 == 0) i.toLong else 7L, i)).toDF("k", "v")
    val small = Seq((7L, "hot"), (10L, "a"), (20L, "b"), (4000L, "c")).toDF("k", "name")
    val plain = big.join(small, Seq("k"))
    val salted = Skew.saltedJoin(big, small, Seq("k"), saltBuckets = 8)
    assert(salted.count() == plain.count())
    assert(plain.exceptAll(salted).count() == 0)
    assert(salted.exceptAll(plain).count() == 0)
  }

  test("key profile: exact log2 histogram and skew summary on known-skew data") {
    // keys: a->1 row, b->2, c->8, hot->989 (total 1000)
    val rows = Seq.fill(1)("a") ++ Seq.fill(2)("b") ++ Seq.fill(8)("c") ++
      Seq.fill(989)("hot")
    val df = rows.zipWithIndex.toDF("k", "v")
    val hist = Skew.keyHistogram(df, Seq("k"))
      .as[(Int, Long, Long, Long)].collect().toSeq
    // 1 -> bucket 0; 2 -> bucket 1; 8 -> bucket 3; 989 -> bucket 9
    assert(hist == Seq((0, 1L, 1L, 1L), (1, 1L, 2L, 2L), (3, 1L, 8L, 8L),
      (9, 1L, 989L, 989L)))
  }

  test("headline q1/q5 plans: pushed scan filters, broadcast dims, no sort-merge joins") {
    val sf = "/root/testdata/sf0.001"
    val byName = graft.queries.Catalog.all.map(q => q.name -> q).toMap
    val q1 = byName("q1_pricing_summary").run(spark, sf)
    q1.collect()
    val p1 = q1.queryExecution.executedPlan.toString.split("== Initial Plan ==").head
    assert(p1.contains("PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate"),
      s"the shipdate filter must reach the parquet scan; plan:\n${p1.take(2000)}")
    val q5 = byName("q5_region_revenue").run(spark, sf)
    q5.collect()
    val p5 = q5.queryExecution.executedPlan.toString.split("== Initial Plan ==").head
    val bhj = "BroadcastHashJoin".r.findAllIn(p5).size
    assert(bhj >= 4, s"the four dimension joins must broadcast, got $bhj")
    assert(!p5.contains("SortMergeJoin"),
      "no dimension in q5 is big enough to justify a sort-merge join at test scale")
  }

  test("q13 plan: orders pre-aggregates before the outer join, 2-column scan") {
    val sf = "/root/testdata/sf0.001"
    val byName = graft.queries.Catalog.all.map(q => q.name -> q).toMap
    val q13 = byName("q13_customer_distribution").run(spark, sf)
    q13.collect()
    val p = q13.queryExecution.executedPlan.toString.split("== Initial Plan ==").head
    // the exclusion predicate must reach the orders scan, and the scan must
    // read only the join key + predicate column — never the whole table
    assert(p.contains("Not(EqualTo(o_orderpriority,1-URGENT))"),
      s"the priority exclusion must be a pushed parquet filter; plan:\n${p.take(2000)}")
    assert(p.contains("ReadSchema: struct<o_custkey:bigint,o_orderpriority:string>"),
      "the orders scan must be pruned to (o_custkey, o_orderpriority)")
    // the count-per-custkey aggregate must sit BELOW the outer join (the
    // |orders| -> |customers| shrink that makes the join key-to-key at
    // 100 TB): the join's build side is fed by an aggregate, so the plan
    // has two aggregate pairs (pre-join count, post-join distribution)
    // and the outer join never sees raw order rows
    val aggs = "HashAggregate".r.findAllIn(p).size
    assert(aggs == 4, s"expected partial+final aggs both below and above the join, got $aggs\n$p")
    assert(p.contains("LeftOuter"), "customer-side outer join must survive optimization")
  }

  test("w8 plan: native merging sessions behind a single key exchange") {
    val sf = "/root/testdata/sf0.001"
    val byName = graft.queries.Catalog.all.map(q => q.name -> q).toMap
    val w8 = byName("w8_session_window").run(spark, sf)
    w8.collect()
    val p = w8.queryExecution.executedPlan.toString.split("== Initial Plan ==").head
    assert(p.contains("MergingSessions"),
      s"sessionization must run on the engine's merging-sessions operator; plan:\n${p.take(2000)}")
    // raw per-event sessions partial-aggregate map-side, then ONE
    // exchange on the grouping key feeds the merge — no global window,
    // no second shuffle (w4's lag+cumsum form needs an ordered window
    // pass this operator replaces)
    val exchanges = "Exchange hashpartitioning".r.findAllIn(p).size
    assert(exchanges == 1, s"expected exactly one key exchange, got $exchanges\n$p")
    assert(!p.contains("WindowExec") && !p.contains("RunningWindowFunction"),
      "the native operator must not fall back to an ordered window pass")
  }

  test("w8 boundary: an event exactly one gap after the last extends the session") {
    // w8_session_window's rule: touching session windows MERGE (the
    // engine coalesces on start <= currentEnd), so 10:54 — exactly 30
    // minutes after 10:24 — joins 10:24's session instead of opening a
    // new one, the same sessions as w4's strict-> gap test
    val ev = Seq("2024-10-16 10:24:00", "2024-10-16 10:54:00").toDF("s")
      .select(lit(10L).as("user_id"), col("s").cast("timestamp").as("ts"))
    val sessions = ev.groupBy(col("user_id"), session_window(col("ts"), "30 minutes"))
      .agg(date_format(min("ts"), "HH:mm").as("s_ts"),
        date_format(max("ts"), "HH:mm").as("e_ts"), count(lit(1)).as("n_events"))
      .select("s_ts", "e_ts", "n_events")
      .as[(String, String, Long)].collect().toSeq
    assert(sessions == Seq(("10:24", "10:54", 2L)))
  }

  test("fuzzy match plans as a bin equi-join, never a nested-loop fallback") {
    val names = (1 to 50).map(i => s"name$i").toDF("name")
    val pairs = graft.ops.FuzzyJoin.dictionaryMatches(names, "name", maxDist = 2)
    pairs.collect()
    val plan = pairs.queryExecution.executedPlan.toString
      .split("== Initial Plan ==").head
    assert(!plan.contains("BroadcastNestedLoopJoin") && !plan.contains("CartesianProduct"),
      s"length-band blocking must stay an equi-join; plan:\n$plan")
  }

  test("cohort retention exchanges the event volume exactly once") {
    val ev = Seq((1L, java.sql.Timestamp.valueOf("2024-01-03 10:00:00")),
      (2L, java.sql.Timestamp.valueOf("2024-01-10 10:00:00")))
      .toDF("user_id", "t")
    val m = graft.ops.Cohort.weeklyRetention(ev, "user_id", "t")
    m.collect()
    val plan = m.queryExecution.executedPlan.toString
      .split("== Initial Plan ==").head
    // the entity aggregate is the only exchange fed by the event scan;
    // everything else reshuffles entities×weeks or broadcasts sizes
    assert(plan.contains("BroadcastHashJoin"),
      s"cohort sizes must come back broadcast; plan:\n$plan")
    val hashExchanges = "Exchange hashpartitioning".r.findAllIn(plan).size
    assert(hashExchanges <= 3,
      s"events must cross the wire once (entity agg) + matrix-sized exchanges only; plan:\n$plan")
  }

  test("anomaly z-scores broadcast the per-group stats, no window over the events") {
    val ev = Seq(("a", 1L, 1.0), ("a", 2L, 2.0)).toDF("grp", "event_id", "value")
    val z = graft.ops.Anomaly.zscoreFlags(ev, Seq("grp"), "value")
    z.collect()
    val plan = z.queryExecution.executedPlan.toString
      .split("== Initial Plan ==").head
    assert(plan.contains("BroadcastHashJoin"), s"stats must broadcast; plan:\n$plan")
    assert(!plan.contains("Window"), s"no window over the event volume; plan:\n$plan")
  }

  test("ewma/cusum/mad plans: one sort per key, broadcast stats, no sort-merge joins") {
    val ts = java.sql.Timestamp.valueOf("2024-01-01 10:00:00")
    val ev = Seq(("a", 1L, ts, 1.0), ("a", 2L, ts, 2.0))
      .toDF("grp", "event_id", "t", "value")
    def planOf(df: org.apache.spark.sql.DataFrame): String = {
      df.collect()
      df.queryExecution.executedPlan.toString.split("== Initial Plan ==").head
    }
    // EWMA: the per-key sort is the ONLY exchange; no join anywhere
    val pe = planOf(graft.ops.Resample.ewma(ev, Seq("grp"),
      Seq("t", "event_id"), "value"))
    assert("Exchange hashpartitioning".r.findAllIn(pe).size == 1,
      s"ewma is one sort shuffle; plan:\n$pe")
    assert(!pe.contains("Join"), s"ewma must not join; plan:\n$pe")
    // CUSUM: stats aggregate + ONE window sort; stats come back broadcast
    val pc = planOf(graft.ops.Anomaly.cusumFlags(ev, Seq("grp"), "value",
      Seq("t", "event_id")))
    assert("Exchange hashpartitioning".r.findAllIn(pc).size <= 2,
      s"cusum = stats agg + one window sort; plan:\n$pc")
    assert(pc.contains("BroadcastHashJoin") && !pc.contains("SortMergeJoin"),
      s"cusum stats must broadcast; plan:\n$pc")
    // MAD: the median frame is pre-cut, so the consumer plan holds one
    // deviation window sort and broadcast stats joins only
    val pm = planOf(graft.ops.Anomaly.madFlags(ev, Seq("grp"), "value", "event_id"))
    assert("Exchange hashpartitioning".r.findAllIn(pm).size <= 2,
      s"mad consumer plan re-sorts at most the deviation pass; plan:\n$pm")
    assert(pm.contains("BroadcastHashJoin") && !pm.contains("SortMergeJoin"),
      s"mad stats must broadcast; plan:\n$pm")
  }
}
