package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Per-group z-score outlier flagging: standardize each row's value
  * against its group's mean/population-stddev and flag |z| > threshold —
  * the first-line anomaly screen over the reference's event stream (and
  * the quality-outlier gate a training-data pipeline runs on numeric
  * telemetry like lengths or loss values).
  *
  * Numeric determinism: the moments are derived from `round(sum, 2)` and
  * `round(sum(v²), 4)` — both sums sit on the input's decimal grid, so
  * rounding recovers the exact value regardless of summation order, and
  * every downstream quantity (mean = s1/n, var = s2/n − mean²,
  * sd = √var) is a fixed chain of IEEE ops on bit-identical inputs.
  * Welford-style `stddev_pop` would differ across engines in ulps;
  * this formulation cannot.
  *
  * Scale shape: one map-side-combinable aggregate to a tiny per-group
  * stats frame, broadcast back onto the stream — no window over the
  * event volume, no second shuffle. `greatest(var, 0)` guards the
  * catastrophic-cancellation corner (a constant group's variance
  * computing to −1e−18 and poisoning the sqrt).
  */
object Anomaly {

  /** Grid-safe per-key moments shared by [[zscoreFlags]] and
    * [[cusumFlags]] — one definition so the grid constants (2-dp /
    * 4-dp sums) and the cancellation guard cannot drift between the
    * two detectors or their oracles. `n` counts NON-NULL values:
    * `sum()` skips nulls, so counting rows would bias mean/sd on any
    * null-bearing stream (a [10, 10, null] group would read mean 6.67
    * and a spurious nonzero sd).
    */
  private def gridMoments(events: DataFrame, keys: Seq[String],
      valueCol: String, meanName: String, sdName: String): DataFrame =
    events.groupBy(keys.map(col): _*).agg(
      count(col(valueCol)).as("n"),
      round(sum(col(valueCol)), 2).as("__s1"),
      round(sum(col(valueCol) * col(valueCol)), 4).as("__s2"))
      .withColumn(meanName, col("__s1") / col("n"))
      .withColumn(sdName,
        sqrt(greatest(col("__s2") / col("n") - col(meanName) * col(meanName),
          lit(0.0))))
      .drop("__s1", "__s2")

  def zscoreFlags(
      events: DataFrame,
      keys: Seq[String],
      valueCol: String,
      threshold: Double = 3.0): DataFrame = {
    val stats = gridMoments(events, keys, valueCol, "mean_v", "sd_v")
    val z = (col(valueCol) - col("mean_v")) / col("sd_v")
    // sd = 0 (constant group) makes z NULL (non-ANSI double division by
    // zero yields NULL, not NaN), and `false AND NULL = false` would
    // already flag nothing — the sd_v > 0 guard states the intent rather
    // than leaning on three-valued logic. The outer coalesce keeps the
    // flag 0 (not NULL) for rows whose VALUE is null, matching the
    // oracle's CASE … ELSE 0 shape.
    events.join(broadcast(stats), keys)
      .withColumn("z", round(z, 6))
      .withColumn("is_outlier",
        coalesce((col("sd_v") > 0 && abs(z) > threshold).cast("int"), lit(0)))
  }

  /** Two-sided CUSUM drift detection (Page 1954) per key: the classic
    * sequential change-point screen. Upper side
    * S⁺_t = max(0, S⁺_{t−1} + z_t − κ) with z standardized against the
    * key's own grid-safe moments (zscoreFlags' formulation), flagged
    * when S⁺ (or the mirrored S⁻) exceeds `threshold`; κ is the slack
    * that absorbs in-control noise (0.5σ ≈ tuned for a 1σ shift).
    *
    * The recursion is NOT computed recursively: with prefix sums
    * P_t = Σ_{i≤t}(z_i − κ) and P₀ = 0, the running-max identity
    * S⁺_t = P_t − min(0, P₁..P_t) turns it into two stacked window
    * aggregates over ONE sort — a running sum, then a running min of
    * that sum. One exchange per key total, no iteration, no UDF, no
    * per-key driver state; this is what makes a sequential detector
    * scale-shaped. sd = 0 keys have undefined z and flag nothing.
    */
  def cusumFlags(
      events: DataFrame,
      keys: Seq[String],
      valueCol: String,
      orderCols: Seq[String],
      slack: Double = 0.5,
      threshold: Double = 5.0): DataFrame = {
    val kc = keys.map(col)
    val stats = gridMoments(events, keys, valueCol, "__mean", "__sd").drop("n")
    val w = Window.partitionBy(kc: _*)
      .orderBy(orderCols.map(col(_).asc): _*)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val z = (col(valueCol) - col("__mean")) / col("__sd")
    val up = sum(z - lit(slack)).over(w)
    val dn = sum(-z - lit(slack)).over(w)
    val sUp = col("__pu") - least(min(col("__pu")).over(w), lit(0.0))
    val sDn = col("__pd") - least(min(col("__pd")).over(w), lit(0.0))
    events.join(broadcast(stats), keys)
      .withColumn("__pu", up)
      .withColumn("__pd", dn)
      .withColumn("cusum_up", round(sUp, 6))
      .withColumn("cusum_dn", round(sDn, 6))
      .withColumn("is_drift",
        coalesce(
          (col("__sd") > 0 && (sUp > threshold || sDn > threshold)).cast("int"),
          lit(0)))
      .drop("__pu", "__pd", "__mean", "__sd")
  }

  /** Robust (median/MAD) outlier flagging — the screen to reach for when
    * the group itself is contaminated: a z-score's mean and stddev are
    * dragged by the very outliers being hunted (masking), while the
    * median and the median absolute deviation have a 50% breakdown
    * point. Flags Iglewicz–Hoaglin modified z = 0.6745·|x − med| / MAD
    * above `threshold` (their recommended 3.5 default).
    *
    * Both medians are DISCRETE (the rank-⌈n/2⌉ element, a8's rank
    * selection), so every emitted number is a fixed IEEE chain on
    * bit-identical inputs — no summation anywhere, nothing to drift
    * across engines or partitionings. A constant-majority group
    * (MAD = 0) leaves the modified z undefined and flags nothing,
    * mirroring zscoreFlags' sd = 0 guard.
    *
    * Scale shape: two rank windows (each one exchange on `keys` — the
    * deviation pass re-sorts but does not re-shuffle), reduced to a
    * per-group {med, MAD} frame that is broadcast back onto the stream.
    * At 100 TB the same contract would ship with approx_percentile
    * medians — exact rank here is the oracle-checkable form.
    */
  def madFlags(
      events: DataFrame,
      keys: Seq[String],
      valueCol: String,
      tieCol: String,
      threshold: Double = 3.5): DataFrame = {
    val kc = keys.map(col)
    val wc = Window.partitionBy(kc: _*)
    def discreteMedian(df: DataFrame, c: String, out: String): DataFrame = {
      val wv = Window.partitionBy(kc: _*).orderBy(col(c).asc, col(tieCol).asc)
      df.withColumn("__rk", row_number().over(wv))
        .withColumn("__n", count(lit(1)).over(wc))
        .groupBy(kc: _*)
        .agg(max(when(col("__rk") === greatest(lit(1L), ceil(lit(0.5) * col("__n"))),
          col(c))).as(out))
    }
    // null values are excluded from BOTH ranking passes: Spark's asc
    // window order is NULLS FIRST while SQL engines default NULLS LAST,
    // so a null would both inflate __n and shift the selected rank —
    // wrong median and cross-engine divergence in one. Null-value rows
    // still appear in the OUTPUT via the LEFT join below (null
    // robust_z, flag 0) — including groups whose values are ALL null,
    // which have no stats row at all and an inner join would drop;
    // zscoreFlags keeps such groups, and the two detectors must agree
    // on which rows they emit.
    val ranked = events.filter(col(valueCol).isNotNull)
    // eager cut of the tiny per-group median frame: it feeds BOTH the
    // deviation pass and the final stats join, and left lazy its full
    // window-sort-over-events subtree would run twice
    val med = discreteMedian(ranked, valueCol, "med_v").localCheckpoint()
    val withDev = ranked.join(broadcast(med), keys)
      .withColumn("__dev", abs(col(valueCol) - col("med_v")))
    val mad = discreteMedian(withDev, "__dev", "mad_v")
    val stats = med.join(mad, keys)
    val dev = abs(col(valueCol) - col("med_v"))
    val rz = lit(0.6745) * dev / col("mad_v")
    events.join(broadcast(stats), keys, "left")
      .withColumn("robust_z", when(col("mad_v") > 0, round(rz, 6)))
      .withColumn("is_outlier",
        coalesce((col("mad_v") > 0 && rz > threshold).cast("int"), lit(0)))
  }
}
