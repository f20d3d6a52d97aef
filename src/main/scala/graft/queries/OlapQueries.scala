package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.core.Tables
import graft.ops.{Anomaly, Cohort, CycleDetection, DatasetSplit, Funnel, FuzzyJoin, Profile, Quality, RangeJoin, Resample, SnapshotDiff}

/** Beyond-reference OLAP/analytics operators: gap sessionization, exact
  * discrete percentiles, cube/grouping sets, pivot-to-wide, and
  * time-series resample + forward fill. Everything stays on the catalog's
  * numeric-parity rules (see [[Q]]).
  */
object OlapQueries {

  private val tsFmtSpark = Fmt.tsSpark
  private val tsFmtDuck  = Fmt.tsDuck

  val all: Seq[Q] = Seq(

    // Gap/timeout sessionization (vs the marker form of w2): a session
    // breaks after >30 min of inactivity per user; emit per-session
    // bounds, size, and integer-µs duration.
    Q("w4_gap_sessions",
      (s, dir) => {
        val ev = Tables.events(s, dir)
        CycleDetection.sessionizeByGap(ev, Seq("user_id"), "ts",
          gapSeconds = 1800L, orderTiebreak = Seq(col("event_id").asc))
          .groupBy("user_id", "session_seq")
          .agg(min("ts").as("s_ts"), max("ts").as("e_ts"),
            count(lit(1)).as("n_events"))
          .select(
            col("user_id"), col("session_seq"),
            date_format(col("s_ts"), tsFmtSpark).as("session_start"),
            date_format(col("e_ts"), tsFmtSpark).as("session_end"),
            col("n_events"),
            (unix_micros(col("e_ts")) - unix_micros(col("s_ts"))).as("duration_us"))
      },
      Some(s"""WITH g AS (
        |  SELECT user_id, ts, event_id,
        |    CASE WHEN lag(ts) OVER w IS NULL
        |              OR epoch_us(ts) - epoch_us(lag(ts) OVER w) > 1800000000
        |         THEN 1 ELSE 0 END AS is_new
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
        |sess AS (
        |  SELECT user_id, ts,
        |    CAST(sum(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_seq
        |  FROM g)
        |SELECT user_id, session_seq,
        |  strftime(min(ts), '$tsFmtDuck') AS session_start,
        |  strftime(max(ts), '$tsFmtDuck') AS session_end,
        |  count(*) AS n_events,
        |  epoch_us(max(ts)) - epoch_us(min(ts)) AS duration_us
        |FROM sess GROUP BY user_id, session_seq""".stripMargin)),

    // The NATIVE gap-sessionization operator: Spark's session_window —
    // the same sessions as w4's lag+cumsum composition but computed by
    // the engine's own merging session-window aggregation, which is the
    // form that carries over to Structured Streaming unchanged.
    // Boundary: touching windows MERGE (the engine coalesces on
    // start <= currentEnd — measured, pinned in ScaleTechniquesSpec "w8
    // boundary: an event exactly one gap after the last extends the
    // session"), so an event at EXACTLY the gap extends the session,
    // identical to w4's strict-> test — the two operators are
    // session-identical and the oracle is w4's, re-keyed by bounds
    // instead of session_seq.
    // Scale shape: one shuffle on user_id, sessions merge inside the
    // aggregation — no windows, no cumsum pass.
    Q("w8_session_window",
      (s, dir) => {
        val ev = Tables.events(s, dir)
        ev.groupBy(col("user_id"), session_window(col("ts"), "30 minutes"))
          .agg(min("ts").as("s_ts"), max("ts").as("e_ts"),
            count(lit(1)).as("n_events"))
          .select(
            col("user_id"),
            date_format(col("s_ts"), tsFmtSpark).as("session_start"),
            date_format(col("e_ts"), tsFmtSpark).as("session_end"),
            col("n_events"),
            (unix_micros(col("e_ts")) - unix_micros(col("s_ts"))).as("duration_us"))
      },
      Some(s"""WITH g AS (
        |  SELECT user_id, ts, event_id,
        |    CASE WHEN lag(ts) OVER w IS NULL
        |              OR epoch_us(ts) - epoch_us(lag(ts) OVER w) > 1800000000
        |         THEN 1 ELSE 0 END AS is_new
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
        |sess AS (
        |  SELECT user_id, ts,
        |    sum(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
        |  FROM g)
        |SELECT user_id,
        |  strftime(min(ts), '$tsFmtDuck') AS session_start,
        |  strftime(max(ts), '$tsFmtDuck') AS session_end,
        |  count(*) AS n_events,
        |  epoch_us(max(ts)) - epoch_us(min(ts)) AS duration_us
        |FROM sess GROUP BY user_id, sid""".stripMargin)),

    // Exact discrete percentiles (p50/p95 of event value per type) via
    // explicit rank selection — deterministic on both engines, unlike
    // interpolated percentile whose float arithmetic differs in ulps.
    // At 100 TB the same column ships as approx_percentile (t-digest)
    // the way A2 ships approx_count_distinct — exact rank here is the
    // oracle-checkable contract.
    Q("a8_percentile_disc",
      (s, dir) => {
        val ev = Tables.events(s, dir)
        val w = Window.partitionBy("event_type")
          .orderBy(col("value").asc, col("event_id").asc)
        val n = Window.partitionBy("event_type")
        ev.select(col("event_type"), col("value"), col("event_id"))
          .withColumn("rk", row_number().over(w))
          .withColumn("n", count(lit(1)).over(n))
          .groupBy("event_type")
          .agg(
            max("n").as("n"),
            max(when(col("rk") === greatest(lit(1L), ceil(lit(0.5) * col("n"))),
              col("value"))).as("p50"),
            max(when(col("rk") === greatest(lit(1L), ceil(lit(0.95) * col("n"))),
              col("value"))).as("p95"))
      },
      Some("""WITH r AS (
        |  SELECT event_type, value,
        |    row_number() OVER (PARTITION BY event_type ORDER BY value, event_id) AS rk,
        |    count(*) OVER (PARTITION BY event_type) AS n
        |  FROM events)
        |SELECT event_type, CAST(max(n) AS BIGINT) AS n,
        |  max(CASE WHEN rk = greatest(1, ceil(0.5 * n)) THEN value END) AS p50,
        |  max(CASE WHEN rk = greatest(1, ceil(0.95 * n)) THEN value END) AS p95
        |FROM r GROUP BY event_type""".stripMargin)),

    // CUBE over (returnflag, linestatus): all four grouping-set levels in
    // one pass, grouping bits disambiguating subtotal rows ('(all)'
    // instead of NULL keys so row identity is unambiguous in the
    // driver's canonicalization).
    Q("a9_cube_rollup",
      (s, dir) => Tables.lineitem(s, dir)
        .cube(col("l_returnflag"), col("l_linestatus"))
        .agg(
          (grouping(col("l_returnflag")) * 2 + grouping(col("l_linestatus")))
            .cast("int").as("gid"),
          round(sum("l_quantity"), 2).as("sum_qty"),
          count(lit(1)).as("n_rows"))
        .select(
          coalesce(col("l_returnflag"), lit("(all)")).as("l_returnflag"),
          coalesce(col("l_linestatus"), lit("(all)")).as("l_linestatus"),
          col("gid"), col("sum_qty"), col("n_rows")),
      Some("""SELECT
        |  COALESCE(l_returnflag, '(all)') AS l_returnflag,
        |  COALESCE(l_linestatus, '(all)') AS l_linestatus,
        |  CAST(GROUPING(l_returnflag) * 2 + GROUPING(l_linestatus) AS INT) AS gid,
        |  round(sum(l_quantity), 2) AS sum_qty,
        |  count(*) AS n_rows
        |FROM lineitem GROUP BY CUBE(l_returnflag, l_linestatus)""".stripMargin)),

    // Pivot to wide: per-user event-type counts as columns. The value
    // list is explicit — at scale that skips pivot's eager driver-side
    // distinct-collect pass. Spark compiles this to two aggregation
    // phases (partial on (user, type), pivot on user): two exchanges,
    // but the second one's input is already collapsed to
    // ≤ users × |values| rows, so the reshape cost is bounded by the
    // output size, not the event volume.
    Q("p14_pivot_wide",
      (s, dir) => Tables.events(s, dir)
        .groupBy("user_id")
        .pivot("event_type", Seq("click", "view", "purchase", "signup", "error"))
        .agg(count(lit(1)))
        .na.fill(0L),
      Some("""SELECT user_id,
        |  CAST(sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS BIGINT) AS click,
        |  CAST(sum(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS BIGINT) AS view,
        |  CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS purchase,
        |  CAST(sum(CASE WHEN event_type = 'signup' THEN 1 ELSE 0 END) AS BIGINT) AS signup,
        |  CAST(sum(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS BIGINT) AS error
        |FROM events GROUP BY user_id""".stripMargin)),

    // Point-in-interval range join: views landing inside the 10-minute
    // window after an error by the same user. ops/RangeJoin bins time so
    // the match is an equi-join on (user, bin) + exact containment —
    // never the planner's nested-loop fallback; the oracle is the plain
    // inequality join.
    Q("j4_range_join",
      (s, dir) => {
        val ev = Tables.events(s, dir)
        val views = ev.filter(col("event_type") === "view")
          .select(col("event_id").as("view_id"), col("user_id"), col("ts"))
        val errWindows = ev.filter(col("event_type") === "error")
          .select(col("event_id").as("err_id"), col("user_id"), col("ts").as("lo"))
          .withColumn("hi", col("lo") + expr("interval 10 minutes"))
        RangeJoin.pointInInterval(views, errWindows, keys = Seq("user_id"),
          tCol = "ts", loCol = "lo", hiCol = "hi", binWidthMicros = 600000000L)
          .select(col("view_id"), col("err_id"), col("user_id"),
            date_format(col("ts"), tsFmtSpark).as("view_ts"),
            (unix_micros(col("ts")) - unix_micros(col("lo"))).as("offset_us"))
      },
      Some(s"""SELECT v.event_id AS view_id, e.event_id AS err_id, v.user_id,
        |  strftime(v.ts, '$tsFmtDuck') AS view_ts,
        |  epoch_us(v.ts) - epoch_us(e.ts) AS offset_us
        |FROM (SELECT * FROM events WHERE event_type = 'view') v
        |JOIN (SELECT * FROM events WHERE event_type = 'error') e
        |  ON v.user_id = e.user_id
        | AND v.ts >= e.ts AND v.ts <= e.ts + INTERVAL 10 MINUTE""".stripMargin)),

    // Hourly resample + forward fill per user: dense grid between each
    // user's first and last active hour; gap hours carry n_rows=0 and
    // the last seen hourly revenue (round(sum,2) — grid-safe per the
    // catalog parity rules).
    Q("ts_resample_ffill",
      (s, dir) => Resample.resampleFfill(
        Tables.events(s, dir), keys = Seq("user_id"), tsCol = "ts",
        aggs = Seq("rev" -> round(sum("value"), 2)))
        .select(
          col("user_id"),
          date_format(col("bucket"), tsFmtSpark).as("bucket_ts"),
          col("n_rows"), col("is_gap"),
          col("rev"), col("rev_ffill")),
      Some(s"""WITH b AS (
        |  SELECT user_id, date_trunc('hour', ts) AS bucket,
        |    count(*) AS n_rows, round(sum(value), 2) AS rev
        |  FROM events GROUP BY 1, 2),
        |bounds AS (
        |  SELECT user_id, min(bucket) AS lo, max(bucket) AS hi
        |  FROM b GROUP BY user_id),
        |spine AS (
        |  SELECT user_id, g.bucket
        |  FROM bounds,
        |       LATERAL (SELECT unnest(generate_series(lo, hi, INTERVAL 1 HOUR)) AS bucket) g)
        |SELECT s.user_id,
        |  strftime(s.bucket, '$tsFmtDuck') AS bucket_ts,
        |  CAST(COALESCE(b.n_rows, 0) AS BIGINT) AS n_rows,
        |  CAST(CASE WHEN b.n_rows IS NULL THEN 1 ELSE 0 END AS INT) AS is_gap,
        |  b.rev,
        |  last_value(b.rev IGNORE NULLS) OVER (
        |    PARTITION BY s.user_id ORDER BY s.bucket
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS rev_ffill
        |FROM spine s LEFT JOIN b ON s.user_id = b.user_id AND s.bucket = b.bucket""".stripMargin)),

    // EWMA smoothing per user (pandas adjust=True, truncated kernel):
    // one sort shuffle + a sliding collect_list frame + an in-order
    // codegen fold. decay=0.5 keeps every weight an exact power of two,
    // so Spark and DuckDB compute identical terms; the discarded tail
    // beyond 50 observations weighs < 1e-15 of the total.
    // Both sides read the NON-NULL value stream: the op itself skips
    // null observations (collect_list) but DuckDB's list() keeps them,
    // so a null row would silently shift the oracle's weights — parity
    // is pinned on the explicit shared domain instead, and the op's
    // null-skip semantics stay covered by ResampleSpec.
    Q("ts_ewma",
      (s, dir) => Resample.ewma(
        Tables.events(s, dir).filter(col("value").isNotNull)
          .select("user_id", "event_id", "ts", "value"),
        keys = Seq("user_id"), orderCols = Seq("ts", "event_id"),
        valueCol = "value", decay = 0.5, window = 50)
        .select(col("user_id"), col("event_id"),
          date_format(col("ts"), tsFmtSpark).as("ts_s"), col("value"),
          round(col("ewma"), 6).as("ewma")),
      Some(s"""WITH t AS (
        |  SELECT user_id, event_id, ts, value,
        |    list(value) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |      ROWS BETWEEN 49 PRECEDING AND CURRENT ROW) AS vs
        |  FROM events WHERE value IS NOT NULL),
        |x AS (
        |  SELECT user_id, event_id, ts, value, len(vs) AS l, vs[i] AS v, i
        |  FROM t, LATERAL (SELECT unnest(range(1, len(vs) + 1)) AS i) g)
        |SELECT user_id, event_id, strftime(ts, '$tsFmtDuck') AS ts_s, value,
        |  round(sum(v * pow(0.5, l - i)) / ((1 - pow(0.5, l)) / 0.5), 6) AS ewma
        |FROM x GROUP BY user_id, event_id, ts, value, l""".stripMargin)),

    // Ordered funnel view→click→purchase per user: step k matches only
    // strictly after step k-1's match (ops/Funnel — one exchange on
    // user_id, k stacked unordered window aggregates). The oracle builds
    // the same sequential match with one per-step conditional-min join.
    Q("ext_funnel_steps",
      (s, dir) => Funnel.conversionSummary(Tables.events(s, dir),
        entityCol = "user_id", typeCol = "event_type", tsCol = "ts",
        steps = Seq("view", "click", "purchase")),
      Some("""WITH s1 AS (
        |  SELECT user_id,
        |    min(CASE WHEN event_type = 'view' THEN ts END) AS t1
        |  FROM events GROUP BY user_id),
        |s2 AS (
        |  SELECT e.user_id,
        |    min(CASE WHEN e.event_type = 'click' AND e.ts > s1.t1 THEN e.ts END) AS t2
        |  FROM events e JOIN s1 ON e.user_id = s1.user_id GROUP BY e.user_id),
        |s3 AS (
        |  SELECT e.user_id,
        |    min(CASE WHEN e.event_type = 'purchase' AND e.ts > s2.t2 THEN e.ts END) AS t3
        |  FROM events e JOIN s2 ON e.user_id = s2.user_id GROUP BY e.user_id),
        |n AS (SELECT
        |  (SELECT count(t1) FROM s1) AS n1,
        |  (SELECT count(t2) FROM s2) AS n2,
        |  (SELECT count(t3) FROM s3) AS n3)
        |SELECT CAST(1 AS INT) AS step_idx, 'view' AS step_name,
        |  n1 AS n_users, round(CAST(n1 AS DOUBLE) / n1, 6) AS conversion FROM n
        |UNION ALL
        |SELECT CAST(2 AS INT), 'click', n2, round(CAST(n2 AS DOUBLE) / n1, 6) FROM n
        |UNION ALL
        |SELECT CAST(3 AS INT), 'purchase', n3, round(CAST(n3 AS DOUBLE) / n1, 6) FROM n""".stripMargin)),

    // Weekly cohort retention matrix (ops/Cohort — one exchange of the
    // event volume for a fused min(ts)+collect_set(week) aggregate,
    // matrix math on entities × weeks only).
    Q("ext_cohort_retention",
      (s, dir) => Cohort.weeklyRetention(Tables.events(s, dir),
        entityCol = "user_id", tsCol = "ts")
        .select(
          date_format(col("cohort_week"), tsFmtSpark).as("cohort_week"),
          col("week_offset"), col("n_active"), col("cohort_size"),
          col("retention")),
      Some(s"""WITH f AS (
        |  SELECT user_id, date_trunc('week', min(ts)) AS cohort_week
        |  FROM events GROUP BY user_id),
        |a AS (
        |  SELECT DISTINCT user_id, date_trunc('week', ts) AS activity_week
        |  FROM events),
        |cs AS (SELECT cohort_week, count(*) AS cohort_size FROM f GROUP BY cohort_week),
        |m AS (
        |  SELECT f.cohort_week,
        |    CAST((epoch_us(a.activity_week) - epoch_us(f.cohort_week))
        |         // 604800000000 AS BIGINT) AS week_offset,
        |    count(*) AS n_active
        |  FROM a JOIN f ON a.user_id = f.user_id
        |  GROUP BY 1, 2)
        |SELECT strftime(m.cohort_week, '$tsFmtDuck') AS cohort_week,
        |  m.week_offset, m.n_active, cs.cohort_size,
        |  round(CAST(m.n_active AS DOUBLE) / cs.cohort_size, 6) AS retention
        |FROM m JOIN cs ON m.cohort_week = cs.cohort_week""".stripMargin)),

    // Trailing 7-day rolling window per user over purchases: count, sum,
    // and average in one RANGE frame keyed on integer microseconds, so
    // both engines evaluate the identical frame arithmetic (sum rounds at
    // the 2-decimal data grid; the average divides the two already
    // bit-identical columns, per the catalog parity rules).
    Q("ext_rolling_window",
      (s, dir) => {
        val w = Window.partitionBy("user_id").orderBy(col("t_us"))
          .rangeBetween(-604800000000L, 0L)
        Tables.events(s, dir)
          .filter(col("event_type") === "purchase")
          .select(col("event_id"), col("user_id"), col("ts"), col("value"))
          .withColumn("t_us", unix_micros(col("ts")))
          .withColumn("n_7d", count(lit(1)).over(w))
          .withColumn("sum_7d", round(sum("value").over(w), 2))
          .select(col("event_id"), col("user_id"),
            date_format(col("ts"), tsFmtSpark).as("ts"),
            col("value"), col("n_7d"), col("sum_7d"),
            (col("sum_7d") / col("n_7d")).as("avg_7d"))
      },
      Some(s"""SELECT event_id, user_id, strftime(ts, '$tsFmtDuck') AS ts, value,
        |  count(*) OVER w AS n_7d,
        |  round(sum(value) OVER w, 2) AS sum_7d,
        |  round(sum(value) OVER w, 2) / count(*) OVER w AS avg_7d
        |FROM events WHERE event_type = 'purchase'
        |WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts)
        |  RANGE BETWEEN 604800000000 PRECEDING AND CURRENT ROW)""".stripMargin)),

    // Per-event-type z-score outliers (ops/Anomaly): moments from
    // grid-rounded sums so mean/sd/z are bit-identical chains on both
    // engines (Welford stddev_pop would drift in ulps).
    Q("ext_anomaly_zscore",
      (s, dir) => Anomaly.zscoreFlags(Tables.events(s, dir),
        keys = Seq("event_type"), valueCol = "value", threshold = 3.0)
        .select("event_id", "event_type", "value", "n", "mean_v", "sd_v",
          "z", "is_outlier"),
      Some("""WITH st AS (
        |  SELECT event_type, count(value) AS n,
        |    round(sum(value), 2) AS s1, round(sum(value * value), 4) AS s2
        |  FROM events GROUP BY event_type),
        |s AS (
        |  SELECT event_type, n, s1 / n AS mean_v,
        |    sqrt(greatest(s2 / n - (s1 / n) * (s1 / n), 0.0)) AS sd_v
        |  FROM st)
        |SELECT e.event_id, e.event_type, e.value, s.n, s.mean_v, s.sd_v,
        |  round((e.value - s.mean_v) / s.sd_v, 6) AS z,
        |  CAST(CASE WHEN s.sd_v > 0 AND abs((e.value - s.mean_v) / s.sd_v) > 3.0
        |       THEN 1 ELSE 0 END AS INT) AS is_outlier
        |FROM events e JOIN s USING (event_type)""".stripMargin)),

    // Two-sided CUSUM drift detection (ops/Anomaly.cusumFlags): Page's
    // sequential max(0, S+z-k) recursion rewritten as prefix-sum minus
    // running-min — two stacked window aggregates over ONE sort, no
    // iteration. z standardized with the grid-safe moment chains.
    Q("ext_cusum_drift",
      (s, dir) => Anomaly.cusumFlags(Tables.events(s, dir),
        keys = Seq("event_type"), valueCol = "value",
        orderCols = Seq("ts", "event_id"), slack = 0.5, threshold = 5.0)
        .select(col("event_id"), col("event_type"),
          date_format(col("ts"), tsFmtSpark).as("ts_s"), col("value"),
          col("cusum_up"), col("cusum_dn"), col("is_drift")),
      Some(s"""WITH st AS (
        |  SELECT event_type, count(value) AS n,
        |    round(sum(value), 2) AS s1, round(sum(value * value), 4) AS s2
        |  FROM events GROUP BY event_type),
        |s AS (
        |  SELECT event_type, s1 / n AS mean_v,
        |    sqrt(greatest(s2 / n - (s1 / n) * (s1 / n), 0.0)) AS sd_v
        |  FROM st),
        |p AS (
        |  SELECT e.event_id, e.event_type, e.ts, e.value, s.sd_v,
        |    sum((e.value - s.mean_v) / s.sd_v - 0.5) OVER w1 AS pu,
        |    sum(-((e.value - s.mean_v) / s.sd_v) - 0.5) OVER w1 AS pd
        |  FROM events e JOIN s USING (event_type)
        |  WINDOW w1 AS (PARTITION BY e.event_type ORDER BY e.ts, e.event_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
        |f AS (
        |  SELECT event_id, event_type, ts, value, sd_v,
        |    pu - least(min(pu) OVER w2, 0.0) AS su,
        |    pd - least(min(pd) OVER w2, 0.0) AS sdn
        |  FROM p
        |  WINDOW w2 AS (PARTITION BY event_type ORDER BY ts, event_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
        |SELECT event_id, event_type, strftime(ts, '$tsFmtDuck') AS ts_s, value,
        |  round(su, 6) AS cusum_up, round(sdn, 6) AS cusum_dn,
        |  CAST(CASE WHEN sd_v > 0 AND (su > 5.0 OR sdn > 5.0)
        |       THEN 1 ELSE 0 END AS INT) AS is_drift
        |FROM f""".stripMargin)),

    // Robust median/MAD outliers (ops/Anomaly.madFlags): the screen that
    // survives contaminated groups (50% breakdown vs the z-score's
    // mean/sd masking). Discrete rank-selected medians — no summation,
    // so every number is a fixed IEEE chain on both engines.
    Q("ext_anomaly_mad",
      (s, dir) => Anomaly.madFlags(Tables.events(s, dir),
        keys = Seq("event_type"), valueCol = "value", tieCol = "event_id",
        threshold = 3.5)
        .select("event_id", "event_type", "value", "med_v", "mad_v",
          "robust_z", "is_outlier"),
      Some("""WITH r AS (
        |  SELECT event_type, value,
        |    row_number() OVER (PARTITION BY event_type ORDER BY value, event_id) AS rk,
        |    count(*) OVER (PARTITION BY event_type) AS n
        |  FROM events WHERE value IS NOT NULL),
        |med AS (
        |  SELECT event_type,
        |    max(CASE WHEN rk = greatest(1, ceil(0.5 * n)) THEN value END) AS med_v
        |  FROM r GROUP BY event_type),
        |d AS (
        |  SELECT e.event_id, e.event_type, e.value, med.med_v,
        |    abs(e.value - med.med_v) AS dev
        |  FROM events e LEFT JOIN med USING (event_type)),
        |r2 AS (
        |  SELECT event_type, event_id, dev,
        |    row_number() OVER (PARTITION BY event_type ORDER BY dev, event_id) AS rk,
        |    count(*) OVER (PARTITION BY event_type) AS n
        |  FROM d WHERE dev IS NOT NULL),
        |mad AS (
        |  SELECT event_type,
        |    max(CASE WHEN rk = greatest(1, ceil(0.5 * n)) THEN dev END) AS mad_v
        |  FROM r2 GROUP BY event_type)
        |SELECT d.event_id, d.event_type, d.value, d.med_v, mad.mad_v,
        |  CASE WHEN mad.mad_v > 0 THEN round(0.6745 * d.dev / mad.mad_v, 6) END
        |    AS robust_z,
        |  CAST(CASE WHEN mad.mad_v > 0 AND 0.6745 * d.dev / mad.mad_v > 3.5
        |       THEN 1 ELSE 0 END AS INT) AS is_outlier
        |FROM d LEFT JOIN mad USING (event_type)""".stripMargin)),

    // First-order event-type transition matrix per user (ops/Funnel):
    // counts + conditional probabilities, one lag-window exchange.
    Q("ext_event_transitions",
      (s, dir) => Funnel.transitionMatrix(Tables.events(s, dir),
        entityCol = "user_id", typeCol = "event_type", tsCol = "ts",
        tieCol = "event_id"),
      Some("""WITH p AS (
        |  SELECT user_id, event_type AS next_type,
        |    lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id)
        |      AS prev_type
        |  FROM events),
        |c AS (
        |  SELECT prev_type, next_type, count(*) AS n
        |  FROM p WHERE prev_type IS NOT NULL GROUP BY 1, 2),
        |t AS (SELECT prev_type, CAST(sum(n) AS BIGINT) AS n_prev FROM c GROUP BY 1)
        |SELECT c.prev_type, c.next_type, c.n, t.n_prev,
        |  round(c.n / t.n_prev, 6) AS p
        |FROM c JOIN t USING (prev_type)""".stripMargin)),

    // Equal-width value histogram per event type: bin edges on the
    // 25-unit grid (integral edges are exact doubles, so floor/divide
    // is engine-identical).
    Q("ext_value_histogram",
      (s, dir) => Tables.events(s, dir)
        .groupBy(col("event_type"),
          floor(col("value") / 25.0).cast("int").as("bin"))
        .agg(count(lit(1)).as("n"))
        .select(col("event_type"), col("bin"),
          (col("bin") * 25.0).as("lo_edge"), col("n")),
      Some("""SELECT event_type, CAST(floor(value / 25.0) AS INT) AS bin,
        |  CAST(floor(value / 25.0) AS INT) * 25.0 AS lo_edge, count(*) AS n
        |FROM events GROUP BY 1, 2""".stripMargin)),

    // Mergeable quantile sketch (GK-family approx_percentile) — the
    // 100 TB form of a8's exact rank percentiles. The sketch VALUE is
    // merge-order-dependent (any value inside the ε rank envelope is a
    // valid answer), so the raw number can never hash-match a DuckDB
    // oracle; what IS deterministic is the GK guarantee itself. The
    // catalog row therefore emits the envelope VERDICT: re-rank each
    // group's approx p50/p95 against the full data (broadcast join of
    // the per-group sketch results back onto events — one extra
    // map-side pass, no second shuffle of events) and flag whether the
    // achieved rank sits within ±2% of target — the same invariant
    // SketchesSpec pins. DuckDB asserts the flags are all 1 and checks
    // the exact group counts, so a sketch regression (rank drift, group
    // loss) breaks the hash.
    Q("ext_sketch_quantile",
      (s, dir) => {
        val ev = Tables.events(s, dir).select(col("event_type"), col("value"))
        val sk = ev.groupBy("event_type")
          .agg(percentile_approx(col("value"), array(lit(0.5), lit(0.95)),
            lit(10000)).as("q"))
          .select(col("event_type"), col("q")(0).as("p50"),
            col("q")(1).as("p95"))
        ev.join(broadcast(sk), "event_type")
          .groupBy("event_type")
          .agg(count(lit(1)).as("n"),
            sum(when(col("value") <= col("p50"), 1L).otherwise(0L)).as("le50"),
            sum(when(col("value") <= col("p95"), 1L).otherwise(0L)).as("le95"))
          .select(col("event_type"), col("n"),
            (abs(col("le50") / col("n") - 0.5) <= 0.02)
              .cast("int").as("p50_in_env"),
            (abs(col("le95") / col("n") - 0.95) <= 0.02)
              .cast("int").as("p95_in_env"))
      },
      Some("""SELECT event_type, count(*) AS n,
        |  1 AS p50_in_env, 1 AS p95_in_env
        |FROM events GROUP BY event_type""".stripMargin)),

    // Deterministic weighted sampling (priority sampling): documents
    // weighted by length; top-100 priorities, reproducible in SQL.
    Q("ext_sample_weighted",
      (s, dir) => DatasetSplit.sampleWeighted(Tables.documents(s, dir),
        k = 100, weightCol = "n_chars", contentCol = "text")
        .select("doc_id", "n_chars", "priority"),
      Some("""SELECT doc_id, n_chars,
        |  CAST(n_chars AS DOUBLE) /
        |    ((CAST(('0x' || substr(md5('wsamp:' || text), 1, 4)) AS INT) + 1)
        |      / 65536.0) AS priority
        |FROM documents WHERE n_chars > 0
        |ORDER BY priority DESC, doc_id LIMIT 100""".stripMargin)),

    // Rolling 7-day active users per observed day (ops/Cohort):
    // contribution explosion over the deduped (day, user) frame —
    // exact distinct over a sliding window has no window-function form.
    Q("ext_rolling_active",
      (s, dir) => Cohort.rollingActiveUsers(Tables.events(s, dir),
        entityCol = "user_id", tsCol = "ts", windowDays = 7)
        .select(date_format(col("day"), "yyyy-MM-dd").as("day"), col("active")),
      Some("""WITH du AS (
        |  SELECT DISTINCT CAST(date_trunc('day', ts) AS DATE) AS d, user_id
        |  FROM events),
        |x AS (
        |  SELECT CAST(d + CAST(i AS INT) AS DATE) AS day, user_id
        |  FROM du, LATERAL (SELECT unnest(range(0, 7)) AS i)),
        |spine AS (SELECT DISTINCT d AS day FROM du)
        |SELECT strftime(s.day, '%Y-%m-%d') AS day,
        |  count(DISTINCT x.user_id) AS active
        |FROM spine s JOIN x ON x.day = s.day GROUP BY 1""".stripMargin)),

    // Content-keyed k-fold cross-validation assignment (ops/DatasetSplit).
    Q("ext_kfold_assign",
      (s, dir) => DatasetSplit.kFold(Tables.documents(s, dir), k = 5,
        contentCol = "text").select("doc_id", "fold"),
      Some("""SELECT doc_id,
        |  CAST(CAST(('0x' || substr(md5('kfold:' || text), 1, 4)) AS INT) % 5
        |       AS INT) AS fold
        |FROM documents""".stripMargin)),

    // Fuzzy entity matching (ops/FuzzyJoin): part-name pairs within
    // edit distance 2, length-band-blocked dictionary matching with the
    // exact integer levenshtein verify. The oracle is the plain O(n²)
    // distinct-name join — identical results prove the blocking is
    // lossless.
    Q("ext_fuzzy_match",
      (s, dir) => FuzzyJoin.dictionaryMatches(Tables.part(s, dir),
        nameCol = "p_name", maxDist = 2),
      Some("""WITH n AS (SELECT DISTINCT p_name AS name FROM part
        |       WHERE p_name IS NOT NULL)
        |SELECT a.name AS name_a, b.name AS name_b,
        |  CAST(levenshtein(a.name, b.name) AS INT) AS dist
        |FROM n a JOIN n b ON a.name < b.name
        |WHERE levenshtein(a.name, b.name) <= 2""".stripMargin)),

    // Semi/anti join surface made explicit: customers with and without
    // orders in one frame.
    Q("j5_semi_anti_join",
      (s, dir) => {
        val c = Tables.customer(s, dir).select("c_custkey")
        val o = Tables.orders(s, dir).select(col("o_custkey"))
        c.join(o, c("c_custkey") === o("o_custkey"), "left_semi")
          .select(col("c_custkey"), lit("has_orders").as("status"))
          .unionByName(
            c.join(o, c("c_custkey") === o("o_custkey"), "left_anti")
              .select(col("c_custkey"), lit("no_orders").as("status")))
      },
      Some("""SELECT c_custkey, 'has_orders' AS status FROM customer
        |WHERE c_custkey IN (SELECT o_custkey FROM orders)
        |UNION ALL
        |SELECT c_custkey, 'no_orders' AS status FROM customer
        |WHERE c_custkey NOT IN (SELECT o_custkey FROM orders)""".stripMargin)),

    // Ranking-function family over a total per-type order (unique
    // event_id tiebreak => no peers, so every function is
    // deterministic): rank, dense_rank, ntile, percent_rank, cume_dist.
    Q("w5_rank_family",
      (s, dir) => {
        val w = Window.partitionBy("event_type")
          .orderBy(col("value"), col("event_id"))
        Tables.events(s, dir).select(
          col("event_id"), col("event_type"), col("value"),
          rank().over(w).as("rnk"),
          dense_rank().over(w).as("drnk"),
          ntile(4).over(w).as("quartile"),
          round(percent_rank().over(w), 6).as("pct_rank"),
          round(cume_dist().over(w), 6).as("cdist"))
      },
      Some("""SELECT event_id, event_type, value,
        |  CAST(rank() OVER w AS INT) AS rnk,
        |  CAST(dense_rank() OVER w AS INT) AS drnk,
        |  CAST(ntile(4) OVER w AS INT) AS quartile,
        |  round(percent_rank() OVER w, 6) AS pct_rank,
        |  round(cume_dist() OVER w, 6) AS cdist
        |FROM events
        |WINDOW w AS (PARTITION BY event_type ORDER BY value, event_id)""".stripMargin)),

    // Ratio-to-report: each event's share of its type's total value
    // (an unordered full-partition window; the denominator rounds on
    // the 2-decimal grid so the division is engine-identical).
    Q("w6_ratio_to_report",
      (s, dir) => {
        val w = Window.partitionBy("event_type")
        Tables.events(s, dir).select(
          col("event_id"), col("event_type"), col("value"),
          round(sum("value").over(w), 2).as("type_total"),
          round(col("value") / round(sum("value").over(w), 2), 6).as("share"))
      },
      Some("""SELECT event_id, event_type, value,
        |  round(sum(value) OVER w, 2) AS type_total,
        |  round(value / round(sum(value) OVER w, 2), 6) AS share
        |FROM events WINDOW w AS (PARTITION BY event_type)""".stripMargin)),

    // Running cumulative aggregates per user in event order: both
    // engines evaluate the frame rows in the same order, so the raw
    // running sums are bit-identical (rounded at the data grid anyway).
    Q("w7_running_aggs",
      (s, dir) => {
        val w = Window.partitionBy("user_id")
          .orderBy(col("ts"), col("event_id"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        Tables.events(s, dir).select(
          col("event_id"), col("user_id"),
          date_format(col("ts"), tsFmtSpark).as("ts"),
          count(lit(1)).over(w).as("n_so_far"),
          round(sum("value").over(w), 2).as("sum_so_far"),
          round(min("value").over(w), 2).as("min_so_far"),
          round(max("value").over(w), 2).as("max_so_far"))
      },
      Some(s"""SELECT event_id, user_id, strftime(ts, '$tsFmtDuck') AS ts,
        |  count(*) OVER w AS n_so_far,
        |  round(sum(value) OVER w, 2) AS sum_so_far,
        |  round(min(value) OVER w, 2) AS min_so_far,
        |  round(max(value) OVER w, 2) AS max_so_far
        |FROM events
        |WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
        |  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)""".stripMargin)),

    // ROLLUP (hierarchical subtotals, vs a9's full CUBE): totals per
    // (type, user) -> per type -> grand total.
    Q("a10_rollup",
      (s, dir) => Tables.events(s, dir)
        .rollup(col("event_type"), col("user_id"))
        .agg(
          (grouping(col("event_type")) * 2 + grouping(col("user_id")))
            .cast("int").as("gid"),
          count(lit(1)).as("n"),
          round(sum("value"), 2).as("total"))
        .select(
          coalesce(col("event_type"), lit("(all)")).as("event_type"),
          coalesce(col("user_id").cast("string"), lit("(all)")).as("user_id"),
          col("gid"), col("n"), col("total")),
      Some("""SELECT
        |  COALESCE(event_type, '(all)') AS event_type,
        |  COALESCE(CAST(user_id AS VARCHAR), '(all)') AS user_id,
        |  CAST(GROUPING(event_type) * 2 + GROUPING(user_id) AS INT) AS gid,
        |  count(*) AS n,
        |  round(sum(value), 2) AS total
        |FROM events GROUP BY ROLLUP(event_type, user_id)""".stripMargin)),

    // Table profiling (ops/Profile): per-column quality stats in one
    // aggregation pass. The oracle is one UNION ALL leg per column over
    // the same definitions.
    Q("ext_profile_table",
      (s, dir) => Profile.table(Tables.events(s, dir),
        numericCols = Seq("event_id", "user_id", "value"),
        stringCols = Seq("event_type", "props")),
      Some {
        def num(c: String) =
          s"""SELECT '$c' AS col_name, count(*) AS n_rows,
             |  count(*) - count($c) AS n_nulls,
             |  count(DISTINCT $c) AS n_distinct,
             |  CAST(min($c) AS DOUBLE) AS min_num,
             |  CAST(max($c) AS DOUBLE) AS max_num,
             |  CAST(NULL AS VARCHAR) AS min_str,
             |  CAST(NULL AS VARCHAR) AS max_str FROM events""".stripMargin
        def str(c: String) =
          s"""SELECT '$c', count(*), count(*) - count($c), count(DISTINCT $c),
             |  CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE),
             |  CAST(min($c) AS VARCHAR), CAST(max($c) AS VARCHAR) FROM events""".stripMargin
        (Seq("event_id", "user_id", "value").map(num) ++
          Seq("event_type", "props").map(str)).mkString("\nUNION ALL\n")
      }),

    // Feature correlation matrix (ops/Profile.correlationMatrix): the
    // pairwise Pearson screen over per-user event-type counts, computed
    // in ONE aggregation pass for the whole matrix. Counts are integers,
    // so every sum is exact under any partial-aggregation order — the
    // corr chains are bit-identical on both engines.
    Q("ext_feature_corr",
      (s, dir) => Profile.correlationMatrix(userTypeCounts(s, dir), corrTypes),
      Some(pearsonSql(corrTypes,
        s"""WITH src AS (
           |  SELECT user_id,
           |    ${countCols(corrTypes)}
           |  FROM events GROUP BY user_id)""".stripMargin))),

    // Spearman rank correlation (ops/Profile.spearmanMatrix): Pearson
    // over tie-averaged ranks — the monotone-association screen. Ranks
    // are halves, so every moment sum is exact; oracle ranks via
    // rank() + (ties-1)/2 reproduce the cumulative-count fractional
    // ranks bit-for-bit.
    Q("ext_spearman_corr",
      (s, dir) => Profile.spearmanMatrix(userTypeCounts(s, dir), corrTypes),
      Some(pearsonSql(corrTypes,
        s"""WITH c AS (
           |  SELECT user_id,
           |    ${countCols(corrTypes)}
           |  FROM events GROUP BY user_id),
           |src AS (
           |  SELECT user_id,
           |    ${corrTypes.map(t =>
                s"rank() OVER (ORDER BY $t) + (count(*) OVER (PARTITION BY $t) - 1) / 2.0 AS $t")
                .mkString(",\n    ")}
           |  FROM c)""".stripMargin))),

    // Data-quality expectation gate (ops/Quality.expectations): every
    // declared check compiled into ONE aggregation pass (RI checks
    // broadcast-left-join their bounded dimension first). Metrics are
    // exact ratios of exact longs — bit-identical across engines. The
    // check set is deliberately non-vacuous on this corpus: the
    // user_id-Unique, value-InRange, event_type-InSet/Matches metrics
    // are all non-zero, and two checks FAIL (passed = 0).
    Q("ext_expectations",
      (s, dir) => Quality.expectations(Tables.events(s, dir), Seq(
        Quality.Check.NotNull("user_id"),
        Quality.Check.Unique("event_id"),
        Quality.Check.Unique("user_id", maxDupFrac = 0.5),
        Quality.Check.InRange("value", 0.0, 100.0, maxViolFrac = 0.5),
        Quality.Check.InSet("event_type",
          Seq("click", "view", "purchase", "signup"), maxViolFrac = 0.25),
        Quality.Check.Matches("event_type", "^[a-z]{4,6}$"),
        Quality.Check.RowCountBetween(1L, 1000000L),
        Quality.Check.RefIntegrity("user_id", Tables.customer(s, dir), "c_custkey"))),
      Some("""WITH a AS (
        |  SELECT count(*) AS n,
        |    count(user_id) AS nnu, count(DISTINCT user_id) AS ndu,
        |    count(event_id) AS nne, count(DISTINCT event_id) AS nde,
        |    sum(CASE WHEN value IS NOT NULL AND (value < 0.0 OR value > 100.0)
        |        THEN 1 ELSE 0 END) AS vr,
        |    sum(CASE WHEN event_type IS NOT NULL AND event_type NOT IN
        |        ('click','view','purchase','signup') THEN 1 ELSE 0 END) AS vs,
        |    sum(CASE WHEN event_type IS NOT NULL AND NOT
        |        regexp_matches(event_type, '^[a-z]{4,6}$') THEN 1 ELSE 0 END) AS vm,
        |    sum(CASE WHEN user_id IS NOT NULL AND user_id NOT IN
        |        (SELECT c_custkey FROM customer) THEN 1 ELSE 0 END) AS vi
        |  FROM events)
        |SELECT 'not_null' AS check_type, 'user_id' AS col_name,
        |  CAST(n - nnu AS DOUBLE)/n AS metric, 0.0 AS threshold,
        |  CAST(CAST(n - nnu AS DOUBLE)/n <= 0.0 AS INT) AS passed FROM a
        |UNION ALL SELECT 'unique', 'event_id', CAST(nne - nde AS DOUBLE)/n, 0.0,
        |  CAST(CAST(nne - nde AS DOUBLE)/n <= 0.0 AS INT) FROM a
        |UNION ALL SELECT 'unique', 'user_id', CAST(nnu - ndu AS DOUBLE)/n, 0.5,
        |  CAST(CAST(nnu - ndu AS DOUBLE)/n <= 0.5 AS INT) FROM a
        |UNION ALL SELECT 'in_range', 'value', CAST(vr AS DOUBLE)/n, 0.5,
        |  CAST(CAST(vr AS DOUBLE)/n <= 0.5 AS INT) FROM a
        |UNION ALL SELECT 'in_set', 'event_type', CAST(vs AS DOUBLE)/n, 0.25,
        |  CAST(CAST(vs AS DOUBLE)/n <= 0.25 AS INT) FROM a
        |UNION ALL SELECT 'matches', 'event_type', CAST(vm AS DOUBLE)/n, 0.0,
        |  CAST(CAST(vm AS DOUBLE)/n <= 0.0 AS INT) FROM a
        |UNION ALL SELECT 'row_count', '*', CAST(n AS DOUBLE), 1000000.0,
        |  CAST(n >= 1 AND n <= 1000000 AS INT) FROM a
        |UNION ALL SELECT 'ref_integrity', 'user_id', CAST(vi AS DOUBLE)/n, 0.0,
        |  CAST(CAST(vi AS DOUBLE)/n <= 0.0 AS INT) FROM a""".stripMargin)),

    // PSI distribution drift (ops/Quality.psiDrift): exact reference-
    // decile edges from the DISTINCT-value cumulative table, both
    // snapshots bucketed by a codegen'd edge-comparison fold, Laplace-
    // smoothed proportions, ln term rounded 6 dp on both sides (the
    // bigram-LM ulp rule). view vs purchase value distributions.
    Q("ext_drift_psi",
      (s, dir) => {
        val ev = Tables.events(s, dir)
        Quality.psiDrift(
          ev.filter(col("event_type") === "view").select("value"),
          ev.filter(col("event_type") === "purchase").select("value"),
          "value", bins = 10)
      },
      Some("""WITH ref AS (SELECT value AS v FROM events
        |         WHERE event_type = 'view' AND value IS NOT NULL),
        |cur AS (SELECT value AS v FROM events
        |        WHERE event_type = 'purchase' AND value IS NOT NULL),
        |vc AS (SELECT v, count(*) AS c FROM ref GROUP BY v),
        |cum AS (SELECT v, sum(c) OVER (ORDER BY v) AS cum, sum(c) OVER () AS n
        |        FROM vc),
        |edges AS (
        |  SELECT i, min(CASE WHEN cum >= ceil((i / 10.0) * n) THEN v END) AS e
        |  FROM cum CROSS JOIN range(1, 10) t(i) GROUP BY i),
        |bref AS (SELECT (SELECT count(*) FROM edges WHERE r.v >= e) AS b
        |         FROM ref r),
        |bcur AS (SELECT (SELECT count(*) FROM edges WHERE c2.v >= e) AS b
        |         FROM cur c2),
        |rcnt AS (SELECT b, count(*) AS rn FROM bref GROUP BY b),
        |ccnt AS (SELECT b, count(*) AS cn FROM bcur GROUP BY b),
        |spine AS (SELECT CAST(i AS INT) AS bucket FROM range(0, 10) t(i)),
        |tot AS (SELECT (SELECT count(*) FROM ref) AS nr,
        |               (SELECT count(*) FROM cur) AS nc)
        |SELECT bucket, COALESCE(rn, 0) AS ref_n, COALESCE(cn, 0) AS cur_n,
        |  round(((COALESCE(cn, 0) + 0.5) / (nc + 5.0)
        |         - (COALESCE(rn, 0) + 0.5) / (nr + 5.0))
        |        * ln(((COALESCE(cn, 0) + 0.5) / (nc + 5.0))
        |             / ((COALESCE(rn, 0) + 0.5) / (nr + 5.0))), 6) AS psi_term
        |FROM spine
        |LEFT JOIN rcnt ON spine.bucket = CAST(rcnt.b AS INT)
        |LEFT JOIN ccnt ON spine.bucket = CAST(ccnt.b AS INT)
        |CROSS JOIN tot""".stripMargin)),

    // Categorical PSI drift (ops/Quality.psiCategorical): top-K reference
    // categories + "(other)" Zipf-tail bucket, bounded K+1-row output,
    // broadcast-marker labeling (one map-side scan per snapshot). Same
    // smoothing/rounding as ext_drift_psi with bins = K+1.
    Q("ext_drift_psi_cat",
      (s, dir) => {
        val ev = Tables.events(s, dir)
        Quality.psiCategorical(
          ev.filter(col("user_id") < 75).select("event_type"),
          ev.filter(col("user_id") >= 75).select("event_type"),
          "event_type", topK = 3)
      },
      Some("""WITH refv AS (SELECT event_type AS v FROM events
        |         WHERE user_id < 75 AND event_type IS NOT NULL),
        |curv AS (SELECT event_type AS v FROM events
        |         WHERE user_id >= 75 AND event_type IS NOT NULL),
        |rc AS (SELECT v, count(*) AS c FROM refv GROUP BY v),
        |top AS (SELECT v FROM rc ORDER BY c DESC, v LIMIT 3),
        |spine AS (SELECT v AS category FROM top
        |          UNION ALL SELECT '(other)'),
        |rl AS (SELECT CASE WHEN v IN (SELECT v FROM top) THEN v
        |              ELSE '(other)' END AS category FROM refv),
        |cl AS (SELECT CASE WHEN v IN (SELECT v FROM top) THEN v
        |              ELSE '(other)' END AS category FROM curv),
        |rn AS (SELECT category, count(*) AS rn FROM rl GROUP BY category),
        |cn AS (SELECT category, count(*) AS cn FROM cl GROUP BY category),
        |j AS (SELECT s.category, COALESCE(rn, 0) AS ref_n,
        |             COALESCE(cn, 0) AS cur_n
        |      FROM spine s
        |      LEFT JOIN rn ON s.category = rn.category
        |      LEFT JOIN cn ON s.category = cn.category),
        |t AS (SELECT count(*) AS nb, sum(ref_n) AS tr, sum(cur_n) AS tc FROM j)
        |SELECT category, ref_n, cur_n,
        |  round(((cur_n + 0.5) / (tc + 0.5 * nb)
        |         - (ref_n + 0.5) / (tr + 0.5 * nb))
        |        * ln(((cur_n + 0.5) / (tc + 0.5 * nb))
        |             / ((ref_n + 0.5) / (tr + 0.5 * nb))), 6) AS psi_term
        |FROM j CROSS JOIN t""".stripMargin)),

    // Multi-column drift report (ops/Quality.driftReport): PSI of every
    // monitored column in a fixed number of passes (melted edge pass +
    // one histogram aggregate per snapshot), never 3 scans per column.
    // Oracle: the ext_drift_psi chain generated per column, UNION ALL.
    Q("ext_drift_report",
      (s, dir) => {
        val ev = Tables.events(s, dir)
        Quality.driftReport(
          ev.filter(col("event_id") % 2 === 0),
          ev.filter(col("event_id") % 2 === 1),
          columns = Seq("user_id", "value"), bins = 10)
      },
      Some(driftReportOracle(Seq("user_id", "value"), bins = 10,
        refWhere = "event_id % 2 = 0", curWhere = "event_id % 2 = 1"))),

    // Exact two-sample Kolmogorov–Smirnov drift (ops/Quality.ksDrift):
    // D = max |F_ref − F_cur| over the merged DISTINCT value domain —
    // pure counts and IEEE divisions, bit-identical with no rounding.
    Q("ext_drift_ks",
      (s, dir) => {
        val ev = Tables.events(s, dir)
        Quality.ksDrift(
          ev.filter(col("event_type") === "view").select("value"),
          ev.filter(col("event_type") === "purchase").select("value"),
          "value")
      },
      Some("""WITH ref AS (SELECT value AS v FROM events
        |         WHERE event_type = 'view' AND value IS NOT NULL),
        |cur AS (SELECT value AS v FROM events
        |        WHERE event_type = 'purchase' AND value IS NOT NULL),
        |u AS (SELECT v, 1 AS s FROM ref UNION ALL SELECT v, 0 AS s FROM cur),
        |g AS (SELECT v, sum(s) AS cr, sum(1 - s) AS cc FROM u GROUP BY v),
        |cum AS (SELECT
        |    sum(cr) OVER (ORDER BY v) AS fr, sum(cc) OVER (ORDER BY v) AS fc,
        |    sum(cr) OVER () AS nr, sum(cc) OVER () AS nc FROM g)
        |SELECT CAST(max(nr) AS BIGINT) AS ref_n, CAST(max(nc) AS BIGINT) AS cur_n,
        |  max(abs(CAST(fr AS DOUBLE) / CAST(nr AS DOUBLE)
        |          - CAST(fc AS DOUBLE) / CAST(nc AS DOUBLE))) AS ks
        |FROM cum""".stripMargin)),

    // Dataset version diff (ops/SnapshotDiff): change-data view between
    // two snapshots of a keyed table — one sort-merge full-outer join on
    // the key, marker-based presence (null-key safe), codegen'd
    // null-safe comparison folds. The "new" snapshot is derived
    // deterministically from events (window shift + value/type edits) so
    // all four change classes are non-empty.
    Q("ext_snapshot_diff",
      (s, dir) => {
        val ev = Tables.events(s, dir).select("event_id", "event_type", "value")
        val old = ev.filter(col("event_id") < 8000)
        val neu = ev.filter(col("event_id") >= 2000)
          .withColumn("event_type",
            when(col("event_id") % 13 === 0 && col("event_type") === "click",
              lit("tap")).otherwise(col("event_type")))
          .withColumn("value",
            when(col("event_id") % 7 === 0, col("value") * 2)
              .otherwise(col("value")))
        SnapshotDiff.diff(old, neu,
          keyCols = Seq("event_id"), compareCols = Seq("event_type", "value"))
      },
      Some("""WITH o AS (
        |  SELECT event_id, event_type, value FROM events WHERE event_id < 8000),
        |n AS (
        |  SELECT event_id,
        |    CASE WHEN event_id % 13 = 0 AND event_type = 'click'
        |         THEN 'tap' ELSE event_type END AS event_type,
        |    CASE WHEN event_id % 7 = 0 THEN value * 2 ELSE value END AS value
        |  FROM events WHERE event_id >= 2000)
        |SELECT COALESCE(o.event_id, n.event_id) AS event_id,
        |  CASE WHEN o.event_id IS NULL THEN 'added'
        |       WHEN n.event_id IS NULL THEN 'removed'
        |       WHEN (o.event_type IS DISTINCT FROM n.event_type)
        |         OR (o.value IS DISTINCT FROM n.value) THEN 'changed'
        |       ELSE 'unchanged' END AS change_type,
        |  CASE WHEN o.event_id IS NOT NULL AND n.event_id IS NOT NULL THEN
        |    concat_ws(',',
        |      CASE WHEN o.event_type IS DISTINCT FROM n.event_type
        |           THEN 'event_type' END,
        |      CASE WHEN o.value IS DISTINCT FROM n.value THEN 'value' END)
        |  END AS changed_cols
        |FROM o FULL OUTER JOIN n ON o.event_id = n.event_id""".stripMargin)),

    // Binned KS drift (ops/Quality.ksDriftBinned): the continuous-column
    // 100 TB swap for ksDrift — CDF gap evaluated at the reference's
    // exact decile edges over a BOUNDED bucket spine instead of the full
    // distinct-value domain. Oracle mirrors the edge/bucket arithmetic.
    Q("ext_drift_ks_binned",
      (s, dir) => {
        val ev = Tables.events(s, dir)
        val ref = ev.filter(col("event_type") === "view").select("value")
        val cur = ev.filter(col("event_type") === "purchase").select("value")
        Quality.ksDriftBinned(ref, cur, "value",
          Quality.quantileEdges(ref, "value", bins = 10))
      },
      Some("""WITH ref AS (SELECT value AS v FROM events
        |         WHERE event_type = 'view' AND value IS NOT NULL),
        |cur AS (SELECT value AS v FROM events
        |        WHERE event_type = 'purchase' AND value IS NOT NULL),
        |vc AS (SELECT v, count(*) AS c FROM ref GROUP BY v),
        |cum AS (SELECT v, sum(c) OVER (ORDER BY v) AS cum, sum(c) OVER () AS n
        |        FROM vc),
        |edges AS (
        |  SELECT i, min(CASE WHEN cum >= ceil((i / 10.0) * n) THEN v END) AS e
        |  FROM cum CROSS JOIN range(1, 10) t(i) GROUP BY i),
        |bref AS (SELECT (SELECT count(*) FROM edges WHERE r.v >= e) AS b
        |         FROM ref r),
        |bcur AS (SELECT (SELECT count(*) FROM edges WHERE c2.v >= e) AS b
        |         FROM cur c2),
        |rcnt AS (SELECT b, count(*) AS rn FROM bref GROUP BY b),
        |ccnt AS (SELECT b, count(*) AS cn FROM bcur GROUP BY b),
        |spine AS (SELECT CAST(i AS INT) AS bucket FROM range(0, 10) t(i)),
        |j AS (SELECT bucket, COALESCE(rn, 0) AS cr, COALESCE(cn, 0) AS cc
        |      FROM spine
        |      LEFT JOIN rcnt ON spine.bucket = CAST(rcnt.b AS INT)
        |      LEFT JOIN ccnt ON spine.bucket = CAST(ccnt.b AS INT)),
        |k AS (SELECT sum(cr) OVER (ORDER BY bucket) AS fr,
        |             sum(cc) OVER (ORDER BY bucket) AS fc,
        |             sum(cr) OVER () AS nr, sum(cc) OVER () AS nc FROM j)
        |SELECT CAST(max(nr) AS BIGINT) AS ref_n,
        |  CAST(max(nc) AS BIGINT) AS cur_n,
        |  max(abs(CAST(fr AS DOUBLE) / CAST(nr AS DOUBLE)
        |          - CAST(fc AS DOUBLE) / CAST(nc AS DOUBLE))) AS ks
        |FROM k""".stripMargin)),

    // Winsorization summary (ops/Quality.winsorize): exact per-group
    // p01/p99 bounds (percentile_disc rank form, group-partitioned
    // windows), clip counts, and the 2-dp-grid-safe winsorized sum.
    Q("ext_winsorize",
      (s, dir) => Quality.winsorize(
        Tables.events(s, dir), "value", "event_type", pLo = 0.01, pHi = 0.99),
      Some("""WITH b AS (
        |  SELECT event_type, value AS v,
        |    row_number() OVER (PARTITION BY event_type ORDER BY value) AS rk,
        |    count(*) OVER (PARTITION BY event_type) AS n
        |  FROM events WHERE value IS NOT NULL),
        |bounds AS (
        |  SELECT event_type,
        |    max(CASE WHEN rk = greatest(1, ceil(0.01 * n)) THEN v END) AS lo,
        |    max(CASE WHEN rk = greatest(1, ceil(0.99 * n)) THEN v END) AS hi
        |  FROM b GROUP BY event_type)
        |SELECT event_type, count(*) AS n, max(lo) AS lo, max(hi) AS hi,
        |  CAST(sum(CASE WHEN v < lo THEN 1 ELSE 0 END) AS BIGINT) AS n_clip_lo,
        |  CAST(sum(CASE WHEN v > hi THEN 1 ELSE 0 END) AS BIGINT) AS n_clip_hi,
        |  round(sum(greatest(lo, least(hi, v))), 2) AS sum_winsorized
        |FROM b JOIN bounds USING (event_type)
        |GROUP BY event_type""".stripMargin))
  )

  /** The event types whose per-user counts feed the correlation
    * screens, and the shared SQL generators for their oracles.
    * (lazy: referenced from `all`'s initializer above its declaration.) */
  private lazy val corrTypes = Seq("click", "view", "purchase", "signup", "error")

  private def userTypeCounts(s: SparkSession, dir: String): DataFrame =
    Tables.events(s, dir)
      .groupBy("user_id")
      .pivot("event_type", corrTypes)
      .agg(count(lit(1)))
      .na.fill(0L)

  private def countCols(types: Seq[String]): String = types.map(t =>
    s"CAST(sum(CASE WHEN event_type = '$t' THEN 1 ELSE 0 END) AS DOUBLE) AS $t")
    .mkString(",\n    ")

  /** Pearson moment sums + one UNION ALL leg per pair over a CTE named
    * `src` with `types` as numeric columns (the SQL mirror of
    * `Profile.correlationMatrix`). */
  private def pearsonSql(types: Seq[String], srcCte: String): String = {
    val moments = (
      Seq("CAST(count(*) AS DOUBLE) AS n") ++
      types.flatMap(t => Seq(s"sum($t) AS s_$t", s"sum($t * $t) AS s2_$t")) ++
      (for { i <- types.indices; j <- types.indices if i < j }
        yield s"sum(${types(i)} * ${types(j)}) AS sp_${types(i)}_${types(j)}"))
      .mkString(",\n    ")
    val legs = for { i <- types.indices; j <- types.indices if i < j } yield {
      val (a, b) = (types(i), types(j))
      s"""SELECT '$a' AS col_a, '$b' AS col_b, CAST(n AS BIGINT) AS n,
         |  CASE WHEN (n * s2_$a - s_$a * s_$a) > 0
         |        AND (n * s2_$b - s_$b * s_$b) > 0
         |  THEN round((n * sp_${a}_$b - s_$a * s_$b) /
         |    sqrt((n * s2_$a - s_$a * s_$a) * (n * s2_$b - s_$b * s_$b)), 6)
         |  END AS corr FROM m""".stripMargin
    }
    s"""$srcCte,
       |m AS (
       |  SELECT
       |    $moments
       |  FROM src)
       |""".stripMargin + legs.mkString("\nUNION ALL\n")
  }

  /** SQL mirror of `Quality.driftReport`: the ext_drift_psi CTE chain
    * (exact decile edges via the cumulative distinct-value table, bucket
    * = count of edges <= v, Laplace smoothing, 6-dp ln rounding)
    * generated once per monitored column, UNION ALL'd with the column
    * name as `col_name`. */
  private def driftReportOracle(cols: Seq[String], bins: Int,
      refWhere: String, curWhere: String): String = {
    val perCol = cols.zipWithIndex.map { case (c, i) =>
      s"""ref_$i AS (SELECT CAST($c AS DOUBLE) AS v FROM events
         |         WHERE $refWhere AND $c IS NOT NULL),
         |cur_$i AS (SELECT CAST($c AS DOUBLE) AS v FROM events
         |        WHERE $curWhere AND $c IS NOT NULL),
         |vc_$i AS (SELECT v, count(*) AS c FROM ref_$i GROUP BY v),
         |cum_$i AS (SELECT v, sum(c) OVER (ORDER BY v) AS cum,
         |                  sum(c) OVER () AS n FROM vc_$i),
         |edges_$i AS (
         |  SELECT t.i, min(CASE WHEN cum >= ceil((t.i / CAST($bins AS DOUBLE)) * n)
         |                THEN v END) AS e
         |  FROM cum_$i CROSS JOIN range(1, $bins) t(i) GROUP BY t.i),
         |bref_$i AS (SELECT (SELECT count(*) FROM edges_$i WHERE r.v >= e) AS b
         |         FROM ref_$i r),
         |bcur_$i AS (SELECT (SELECT count(*) FROM edges_$i WHERE c2.v >= e) AS b
         |         FROM cur_$i c2),
         |rcnt_$i AS (SELECT b, count(*) AS rn FROM bref_$i GROUP BY b),
         |ccnt_$i AS (SELECT b, count(*) AS cn FROM bcur_$i GROUP BY b),
         |tot_$i AS (SELECT (SELECT count(*) FROM ref_$i) AS nr,
         |               (SELECT count(*) FROM cur_$i) AS nc),
         |leg_$i AS (
         |  SELECT '$c' AS col_name, bucket,
         |    COALESCE(rn, 0) AS ref_n, COALESCE(cn, 0) AS cur_n,
         |    round(((COALESCE(cn, 0) + 0.5) / (nc + 0.5 * $bins)
         |           - (COALESCE(rn, 0) + 0.5) / (nr + 0.5 * $bins))
         |          * ln(((COALESCE(cn, 0) + 0.5) / (nc + 0.5 * $bins))
         |               / ((COALESCE(rn, 0) + 0.5) / (nr + 0.5 * $bins))), 6)
         |      AS psi_term
         |  FROM spine
         |  LEFT JOIN rcnt_$i ON spine.bucket = CAST(rcnt_$i.b AS INT)
         |  LEFT JOIN ccnt_$i ON spine.bucket = CAST(ccnt_$i.b AS INT)
         |  CROSS JOIN tot_$i)""".stripMargin
    }
    s"""WITH spine AS (SELECT CAST(i AS INT) AS bucket FROM range(0, $bins) t(i)),
       |${perCol.mkString(",\n")}
       |${cols.indices.map(i => s"SELECT * FROM leg_$i").mkString("\nUNION ALL\n")}"""
      .stripMargin
  }
}
