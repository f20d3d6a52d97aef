package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.FloatType

import graft.core.Tables
import graft.model.Threshold
import graft.ops.{CycleDetection, ErrorRules}

/** SURVEY §2 operator rows expressed over the driver corpus
  * (`events` as the stream-shaped table, `documents`/`lineitem` for the
  * rest), each with a DuckDB oracle. These are the generic forms; the same
  * operators run against reference-shaped machine-event data in
  * [[PipelineQueries]].
  */
object CoreQueries {

  private val tsFmtSpark = Fmt.tsSpark
  private val tsFmtDuck  = Fmt.tsDuck
  private val isoFmt     = "yyyy-MM-dd'T'HH:mm:ss.SSSSSS'Z'"

  /** Running `signup`-marker count per user — the generic W2 sessionization
    * (same algorithm as the machine-cycle detection, different marker).
    */
  private def sessionized(s: SparkSession, dir: String): DataFrame =
    CycleDetection.sessionizeByMarker(
      Tables.events(s, dir),
      partitionKeys = Seq("user_id"),
      orderCols = Seq(col("ts"), col("event_id")),
      isMarker = col("event_type") === "signup",
      seqCol = "session_seq")

  private val sessionizedSql =
    """SELECT e.*, CAST(sum(CASE WHEN event_type = 'signup' THEN 1 ELSE 0 END)
      |  OVER (PARTITION BY user_id ORDER BY ts, event_id
      |        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_seq
      |FROM events e""".stripMargin

  /** Per-(user, session) boundaries + integer-microsecond duration (A1/C2). */
  private def sessionBounds(s: SparkSession, dir: String): DataFrame =
    sessionized(s, dir)
      .filter(col("session_seq") > 0)
      .groupBy("user_id", "session_seq")
      .agg(min("ts").as("s_ts"), max("ts").as("e_ts"))
      .select(
        col("user_id"), col("session_seq"),
        date_format(col("s_ts"), tsFmtSpark).as("session_start"),
        date_format(col("e_ts"), tsFmtSpark).as("session_end"),
        (unix_micros(col("e_ts")) - unix_micros(col("s_ts"))).as("duration_us"))

  private val sessionBoundsSql =
    s"""WITH sess AS ($sessionizedSql)
       |SELECT user_id, session_seq,
       |  strftime(min(ts), '$tsFmtDuck') AS session_start,
       |  strftime(max(ts), '$tsFmtDuck') AS session_end,
       |  epoch_us(max(ts)) - epoch_us(min(ts)) AS duration_us
       |FROM sess WHERE session_seq > 0
       |GROUP BY user_id, session_seq""".stripMargin

  val all: Seq[Q] = Seq(

    // S1/P1/F1: CSV scan with explicit schema, header, timestampFormat —
    // round-trip the events table through a real CSV file so the scan path
    // (not just parquet) is exercised; oracle reads the same rows natively.
    Q("s1_p1_csv_scan",
      (s, dir) => {
        // per-JVM scratch dir, overwritten each run — a fresh dir per
        // invocation would leak a full CSV copy of events every round
        val tmp = graft.core.TmpDirs.scoped("s1_roundtrip")
        Tables.events(s, dir)
          .select(
            col("event_id"),
            date_format(col("ts"), isoFmt).as("ts"),
            col("event_type"), col("value"))
          .write.mode("overwrite").option("header", "true").csv(tmp)
        s.read
          .schema("event_id BIGINT, ts TIMESTAMP, event_type STRING, value DOUBLE")
          .option("header", "true")
          .option("timestampFormat", isoFmt)
          .csv(tmp)
          .select(
            col("event_id"),
            date_format(col("ts"), tsFmtSpark).as("event_ts"),
            col("event_type"), col("value"))
      },
      Some(s"SELECT event_id, strftime(ts, '$tsFmtDuck') AS event_ts, event_type, value FROM events")),

    // JSON-lines source: same roundtrip pattern as S1 — write the events
    // as JSON, read back with an explicit schema (no inference).
    Q("s1_json_scan",
      (s, dir) => {
        val tmp = graft.core.TmpDirs.scoped("s1_json")
        Tables.events(s, dir)
          .select(col("event_id"),
            date_format(col("ts"), tsFmtSpark).as("event_ts"),
            col("event_type"), col("value"))
          .write.mode("overwrite").json(tmp)
        s.read
          .schema("event_id BIGINT, event_ts STRING, event_type STRING, value DOUBLE")
          .json(tmp)
      },
      Some(s"SELECT event_id, strftime(ts, '$tsFmtDuck') AS event_ts, event_type, value FROM events")),

    // ORC source: columnar roundtrip through the third file format the
    // engine serves (verified against the parquet-side oracle).
    Q("s1_orc_scan",
      (s, dir) => {
        val tmp = graft.core.TmpDirs.scoped("s1_orc")
        Tables.events(s, dir)
          .select(col("event_id"),
            date_format(col("ts"), tsFmtSpark).as("event_ts"),
            col("event_type"), col("value"))
          .write.mode("overwrite").orc(tmp)
        s.read.orc(tmp)
      },
      Some(s"SELECT event_id, strftime(ts, '$tsFmtDuck') AS event_ts, event_type, value FROM events")),

    // XML source: Spark 4's built-in XML datasource (rowTag records),
    // roundtripped and verified against the parquet-side oracle — the
    // fourth file format the engine serves. Explicit read schema (like
    // the JSON leg) so inference quirks can't shift types.
    Q("s1_xml_scan",
      (s, dir) => {
        val tmp = graft.core.TmpDirs.scoped("s1_xml")
        Tables.events(s, dir)
          .select(col("event_id"),
            date_format(col("ts"), tsFmtSpark).as("event_ts"),
            col("event_type"), col("value"))
          .write.mode("overwrite").option("rowTag", "event").format("xml").save(tmp)
        s.read
          .schema("event_id BIGINT, event_ts STRING, event_type STRING, value DOUBLE")
          .option("rowTag", "event").format("xml").load(tmp)
      },
      Some(s"SELECT event_id, strftime(ts, '$tsFmtDuck') AS event_ts, event_type, value FROM events")),

    // P2/P7: cast to float + not-null/comparison filter.
    Q("p2_p7_cast_filter",
      (s, dir) => Tables.events(s, dir)
        .select(col("event_id"), col("value").cast(FloatType).as("value_f"))
        .filter(col("value_f").isNotNull && col("value_f") > 50.0f),
      Some("SELECT event_id, CAST(value AS REAL) AS value_f FROM events " +
        "WHERE value IS NOT NULL AND CAST(value AS REAL) > 50")),

    // P3: fillna on a string column (null injected deterministically).
    Q("p3_fillna_string",
      (s, dir) => Tables.documents(s, dir)
        .withColumn("lang_n", when(col("lang") === "de", lit(null)).otherwise(col("lang")))
        .na.fill("unknown", Seq("lang_n"))
        .select("doc_id", "lang_n"),
      // COALESCE mirrors na.fill: a source row whose lang is ALREADY null
      // must also land on 'unknown' (latent until the corpus ships one)
      Some("SELECT doc_id, COALESCE(CASE WHEN lang = 'de' THEN 'unknown' ELSE lang END, 'unknown') AS lang_n FROM documents")),

    // P4: dropna on a subset (null injected where value < 1).
    Q("p4_dropna_subset",
      (s, dir) => Tables.events(s, dir)
        .withColumn("v", when(col("value") >= 1.0, col("value")))
        .na.drop(Seq("v"))
        .select("event_id", "v"),
      Some("SELECT event_id, value AS v FROM events WHERE value >= 1.0")),

    // P5/P6/P11: drop columns, rename, final projection order.
    Q("p5_p6_project_rename",
      (s, dir) => Tables.lineitem(s, dir)
        .drop("l_extendedprice", "l_discount", "l_tax", "l_returnflag",
          "l_linestatus", "l_shipdate", "l_partkey", "l_suppkey")
        .withColumnRenamed("l_quantity", "qty")
        .select("l_orderkey", "l_linenumber", "qty"),
      Some("SELECT l_orderkey, l_linenumber, l_quantity AS qty FROM lineitem")),

    // P9: isin filter on an enum column.
    Q("p9_isin_filter",
      (s, dir) => Tables.events(s, dir)
        .filter(col("event_type").isin("signup", "purchase"))
        .select("event_id", "event_type"),
      Some("SELECT event_id, event_type FROM events WHERE event_type IN ('signup','purchase')")),

    // P13: dashboard-style isin on ids.
    Q("p13_isin_ids",
      (s, dir) => Tables.events(s, dir)
        .filter(col("user_id").isin(1L, 2L, 3L, 5L, 8L))
        .select("event_id", "user_id"),
      Some("SELECT event_id, user_id FROM events WHERE user_id IN (1,2,3,5,8)")),

    // W1: monotonically_increasing_id uniqueness (the property the pipeline
    // relies on; the ids themselves are partition-dependent by design).
    Q("w1_unique_id",
      (s, dir) => Tables.events(s, dir)
        .withColumn("mid", monotonically_increasing_id())
        .agg(count(lit(1)).as("n_rows"), countDistinct(col("mid")).as("n_ids")),
      Some("SELECT count(*) AS n_rows, count(*) AS n_ids FROM events")),

    // W2: running-sum sessionization by marker — the core algorithm.
    Q("w2_sessionize",
      (s, dir) => sessionized(s, dir).select("event_id", "session_seq"),
      Some(s"SELECT event_id, session_seq FROM ($sessionizedSql) t")),

    // W3 (beyond-reference window family): lag/lead/rank — inter-event
    // gaps and per-user event ranking, the windows the north star needs.
    Q("w3_lag_lead_rank",
      (s, dir) => {
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy("user_id").orderBy(col("ts"), col("event_id"))
        Tables.events(s, dir).select(
          col("event_id"),
          (unix_micros(col("ts")) - unix_micros(lag(col("ts"), 1).over(w)))
            .as("gap_us"),
          date_format(lead(col("ts"), 1).over(w), tsFmtSpark).as("next_ts"),
          row_number().over(w).as("event_rank"))
      },
      Some(s"""SELECT event_id,
        |  epoch_us(ts) - epoch_us(lag(ts, 1) OVER w) AS gap_us,
        |  strftime(lead(ts, 1) OVER w, '$tsFmtDuck') AS next_ts,
        |  CAST(row_number() OVER w AS INT) AS event_rank
        |FROM events
        |WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)""".stripMargin)),

    // A1/C2: per-session min/max boundaries + duration.
    Q("a1_c2_session_bounds",
      sessionBounds,
      Some(sessionBoundsSql)),

    // C3/C5: config→predicate rule compiler on a generic table.
    Q("c3_c5_rule_flags",
      (s, dir) => Tables.events(s, dir)
        .withColumn("is_error",
          when(ErrorRules.combinedConditionGeneric(Seq(
            (col("event_type") === "purchase", col("value"), Threshold.Above(90.0)),
            (col("event_type") === "view",     col("value"), Threshold.Below(5.0)),
            (col("event_type") === "click",    col("value"), Threshold.OutsideRange(10.0, 80.0)))),
            1).otherwise(0).cast("int"))
        .select("event_id", "is_error"),
      Some("""SELECT event_id, CAST(CASE WHEN
        |  (event_type = 'purchase' AND value IS NOT NULL AND value > 90.0) OR
        |  (event_type = 'view'     AND value IS NOT NULL AND value < 5.0) OR
        |  (event_type = 'click'    AND value IS NOT NULL AND (value < 10.0 OR value > 80.0))
        |  THEN 1 ELSE 0 END AS INT) AS is_error FROM events""".stripMargin)),

    // C4/F6: empty rule set folds to lit(false) — all zeros.
    Q("c4_empty_rules",
      (s, dir) => Tables.events(s, dir)
        .withColumn("is_error",
          when(ErrorRules.combinedConditionGeneric(Seq.empty), 1).otherwise(0).cast("int"))
        .select("event_id", "is_error"),
      Some("SELECT event_id, CAST(0 AS INT) AS is_error FROM events")),

    // A2: exact distinct count per group.
    Q("a2_count_distinct",
      (s, dir) => Tables.events(s, dir)
        .groupBy("event_type")
        .agg(countDistinct("user_id").as("n_users"), count(lit(1)).as("n_events")),
      Some("SELECT event_type, count(DISTINCT user_id) AS n_users, count(*) AS n_events " +
        "FROM events GROUP BY event_type")),

    // A3/F4: min/max/sum/avg per group (avg as round(sum,2)/count for
    // bit-identical doubles on both engines).
    Q("a3_group_stats",
      (s, dir) => Tables.events(s, dir)
        .groupBy("event_type")
        .agg(
          min("value").as("min_value"),
          max("value").as("max_value"),
          round(sum("value"), 2).as("sum_value"),
          (round(sum("value"), 2) / count("value")).as("avg_value")),
      Some("""SELECT event_type, min(value) AS min_value, max(value) AS max_value,
        |  round(sum(value), 2) AS sum_value,
        |  round(sum(value), 2) / count(value) AS avg_value
        |FROM events GROUP BY event_type""".stripMargin)),

    // A4: conditional (filtered) aggregation — null-skipping semantics,
    // NULL (not 0) for groups with no matching rows.
    Q("a4_conditional_agg",
      (s, dir) => {
        val purchase = when(col("event_type") === "purchase", col("value"))
        Tables.events(s, dir)
          .groupBy("user_id")
          .agg(
            count(purchase).as("n_purchase"),
            max(purchase).as("max_purchase"),
            when(count(purchase) > 0, round(sum(purchase), 2) / count(purchase))
              .as("avg_purchase"))
      },
      Some("""SELECT user_id,
        |  count(CASE WHEN event_type = 'purchase' THEN value END) AS n_purchase,
        |  max(CASE WHEN event_type = 'purchase' THEN value END) AS max_purchase,
        |  CASE WHEN count(CASE WHEN event_type = 'purchase' THEN value END) > 0
        |    THEN round(sum(CASE WHEN event_type = 'purchase' THEN value END), 2)
        |         / count(CASE WHEN event_type = 'purchase' THEN value END)
        |  END AS avg_purchase
        |FROM events GROUP BY user_id""".stripMargin)),

    // A5/A6: conditional counters (count_if pattern) per group.
    Q("a5_conditional_counts",
      (s, dir) => Tables.events(s, dir)
        .groupBy("user_id")
        .agg(
          sum(when(col("value") > 50.0, 1).otherwise(0)).as("n_high"),
          sum(when(col("event_type") === "error" && col("value") > 50.0, 1).otherwise(0))
            .as("n_high_error"),
          count(lit(1)).as("n_total")),
      Some("""SELECT user_id,
        |  CAST(sum(CASE WHEN value > 50.0 THEN 1 ELSE 0 END) AS BIGINT) AS n_high,
        |  CAST(sum(CASE WHEN event_type = 'error' AND value > 50.0 THEN 1 ELSE 0 END) AS BIGINT) AS n_high_error,
        |  count(*) AS n_total
        |FROM events GROUP BY user_id""".stripMargin)),

    // A7/O1: SELECT DISTINCT dates, ordered (dashboard Q1 shape).
    Q("a7_o1_distinct_dates",
      (s, dir) => Tables.events(s, dir)
        .select(date_format(col("ts"), "yyyy-MM-dd").as("d"))
        .distinct()
        .orderBy(desc("d")),
      Some("SELECT DISTINCT strftime(ts, '%Y-%m-%d') AS d FROM events ORDER BY d DESC")),

    // F2/F3: date/hour bucketing functions.
    Q("f2_f3_time_buckets",
      (s, dir) => Tables.events(s, dir)
        .select(
          col("event_id"),
          date_format(col("ts"), "yyyy-MM-dd").as("d"),
          hour(col("ts")).as("hr"),
          unix_micros(col("ts")).as("epoch_us")),
      Some("SELECT event_id, strftime(ts, '%Y-%m-%d') AS d, " +
        "CAST(hour(ts) AS INT) AS hr, epoch_us(ts) AS epoch_us FROM events")),

    // J1: left join enrichment — every event gets its session's duration;
    // pre-first-marker rows (session_seq = 0) keep NULL, mirroring the
    // pipeline's pre-first-cycle semantics. Small right side is broadcast.
    Q("j1_left_join_enrich",
      (s, dir) => {
        val bounds = sessionBounds(s, dir).select("user_id", "session_seq", "duration_us")
        sessionized(s, dir)
          .join(broadcast(bounds), Seq("user_id", "session_seq"), "left")
          .select("event_id", "session_seq", "duration_us")
      },
      Some(s"""WITH sess AS ($sessionizedSql),
        |bounds AS (SELECT user_id, session_seq,
        |    epoch_us(max(ts)) - epoch_us(min(ts)) AS duration_us
        |  FROM sess WHERE session_seq > 0 GROUP BY user_id, session_seq)
        |SELECT event_id, session_seq, duration_us
        |FROM sess LEFT JOIN bounds USING (user_id, session_seq)""".stripMargin)),

    // J3/P12: full-outer join + zero-fill (including the quirk of filling
    // numeric stat columns with 0, not NULL).
    Q("j3_p12_outer_zero_fill",
      (s, dir) => {
        val ev = Tables.events(s, dir)
        val signups = ev.filter(col("event_type") === "signup")
          .groupBy(date_format(col("ts"), "yyyy-MM-dd").as("d"))
          .agg(count(lit(1)).as("n_signups"))
        val bigBuys = ev.filter(col("event_type") === "purchase" && col("value") > 95.0)
          .groupBy(date_format(col("ts"), "yyyy-MM-dd").as("d"))
          .agg(round(sum("value"), 2).as("sum_big_purchase"))
        signups.join(bigBuys, Seq("d"), "outer")
          .na.fill(0, Seq("n_signups"))
          .na.fill(0.0, Seq("sum_big_purchase"))
      },
      Some("""WITH s AS (SELECT strftime(ts, '%Y-%m-%d') AS d, count(*) AS n_signups
        |  FROM events WHERE event_type = 'signup' GROUP BY 1),
        |b AS (SELECT strftime(ts, '%Y-%m-%d') AS d, round(sum(value), 2) AS sum_big_purchase
        |  FROM events WHERE event_type = 'purchase' AND value > 95.0 GROUP BY 1)
        |SELECT d, COALESCE(n_signups, 0) AS n_signups,
        |  COALESCE(sum_big_purchase, 0.0) AS sum_big_purchase
        |FROM s FULL OUTER JOIN b USING (d)""".stripMargin)),

    // Set operators (beyond-reference §2.8 family): users who signed up
    // but never purchased (EXCEPT), and the overlap count (INTERSECT).
    Q("o4_set_ops",
      (s, dir) => {
        val ev = Tables.events(s, dir)
        val signups = ev.filter(col("event_type") === "signup")
          .select("user_id").distinct()
        val bigBuyers = ev.filter(col("event_type") === "purchase" && col("value") > 95.0)
          .select("user_id").distinct()
        // the INTERSECT count rides along as a broadcast 1-row aggregate —
        // no eager driver-side job at plan-construction time
        val overlap = signups.intersect(bigBuyers).agg(count(lit(1)).as("overlap_users"))
        signups.exceptAll(bigBuyers).crossJoin(broadcast(overlap))
      },
      Some("""WITH s AS (SELECT DISTINCT user_id FROM events WHERE event_type = 'signup'),
        |p AS (SELECT DISTINCT user_id FROM events
        |      WHERE event_type = 'purchase' AND value > 95.0)
        |SELECT user_id,
        |  (SELECT count(*) FROM (SELECT user_id FROM s INTERSECT SELECT user_id FROM p)) AS overlap_users
        |FROM (SELECT user_id FROM s EXCEPT SELECT user_id FROM p)""".stripMargin)),

    // Skew-mitigation form of J1: the salted join must be OUTPUT-IDENTICAL
    // to the plain join (the oracle is the unsalted SQL) — proving the
    // hot-key spreading is semantics-free.
    Q("j1_salted_join",
      (s, dir) => {
        val ev = Tables.events(s, dir)
        val userSegments = ev.select(col("user_id")).distinct()
          .withColumn("segment", pmod(col("user_id"), lit(5L)))
        graft.ops.Skew.saltedJoin(
          ev.select("event_id", "user_id"), userSegments, Seq("user_id"),
          saltBuckets = 8)
          .select("event_id", "user_id", "segment")
      },
      Some("""WITH seg AS (SELECT DISTINCT user_id, user_id % 5 AS segment FROM events)
        |SELECT event_id, e.user_id, segment
        |FROM events e JOIN seg USING (user_id)""".stripMargin)),

    // O1/O2 + dashboard Q2 shape: per-(date, hour) load, ordered by hour.
    Q("o1_o2_day_load",
      (s, dir) => Tables.events(s, dir)
        .groupBy(
          date_format(col("ts"), "yyyy-MM-dd").as("d"),
          hour(col("ts")).as("hr"))
        .agg(count(lit(1)).as("n_events"),
          round(sum("value"), 2).as("sum_value"))
        .orderBy(asc("d"), asc("hr")),
      Some("""SELECT strftime(ts, '%Y-%m-%d') AS d, CAST(hour(ts) AS INT) AS hr,
        |  count(*) AS n_events, round(sum(value), 2) AS sum_value
        |FROM events GROUP BY 1, 2 ORDER BY d, hr""".stripMargin))
  )
}
