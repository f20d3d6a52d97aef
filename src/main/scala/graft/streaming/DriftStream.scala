package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.ops.Quality

/** Continuous distribution-drift monitoring: per-event-time-window
  * categorical PSI against a static reference snapshot — the streaming
  * twin of `graft.ops.Quality.psiCategorical`, for the deployment where
  * the corpus is validated as it ARRIVES instead of in a nightly batch.
  *
  * Design for the streaming constraints:
  *  - ONE streaming aggregation (append mode, finalized on watermark
  *    expiry): the whole per-window category histogram is computed as
  *    conditional sums in a single `groupBy(window)` — one column per
  *    spine category, never a second stateful op.
  *  - The reference spine (top-K categories + "(other)") is a BOUNDED
  *    plan-time artifact (K+1 rows, collected once from the static
  *    reference via [[graft.ops.Quality.categorySpine]]) compiled into
  *    codegen'd literals — no stream-static join, no state beyond the
  *    window aggregation itself.
  *  - The histogram aggs and the PSI projection are `Quality`'s own
  *    (`histogramAggs` / `psiTermsFromHistogram`), shared VERBATIM with
  *    the batch operator — which is what lets DriftStreamSpec pin
  *    stream ≡ batch ≡ `psiCategorical` on identical data.
  *
  * Output (append, one row per window × spine category once the
  * watermark closes the window): (window_start, window_end, category,
  * ref_n, cur_n, psi_term) — Σ psi_term per window is the window's PSI
  * (alert ≥ 0.2 by convention).
  */
object DriftStream {

  /** Streaming per-window categorical PSI. `spine` is
    * `Quality.categorySpine(ref, column, topK)` — (category, refCount)
    * pairs whose LAST entry is the "(other)" tail.
    */
  def categoricalPsi(stream: DataFrame, tsCol: String, column: String,
      spine: Seq[(String, Long)], windowDur: String,
      watermarkDelay: String): DataFrame =
    windowed(stream.withWatermark(tsCol, watermarkDelay),
      tsCol, column, spine, windowDur)

  /** Batch twin on the identical code path — the stream≡batch oracle. */
  def categoricalPsiBatch(df: DataFrame, tsCol: String, column: String,
      spine: Seq[(String, Long)], windowDur: String): DataFrame =
    windowed(df, tsCol, column, spine, windowDur)

  private def windowed(df: DataFrame, tsCol: String, column: String,
      spine: Seq[(String, Long)], windowDur: String): DataFrame =
    project(
      windowedAgg(df, tsCol, Quality.histogramAggs(column, spine), windowDur),
      spine.map { case (c, n) => (lit(c), n) }, "category")

  /** Streaming per-window NUMERIC PSI against a static reference's exact
    * quantile bins. `spine` is `Quality.numericSpine(ref, column, bins)`
    * — the edge doubles plus per-bucket reference counts, both bounded
    * plan-time artifacts compiled into the codegen'd bucket fold. Same
    * single-aggregation shape as [[categoricalPsi]]; output buckets are
    * ints, mirroring the batch `Quality.psiDrift` schema.
    */
  def numericPsi(stream: DataFrame, tsCol: String, column: String,
      spine: (Seq[Double], Seq[Long]), windowDur: String,
      watermarkDelay: String): DataFrame =
    numericWindowed(stream.withWatermark(tsCol, watermarkDelay),
      tsCol, column, spine, windowDur)

  /** Batch twin on the identical code path — the stream≡batch oracle. */
  def numericPsiBatch(df: DataFrame, tsCol: String, column: String,
      spine: (Seq[Double], Seq[Long]), windowDur: String): DataFrame =
    numericWindowed(df, tsCol, column, spine, windowDur)

  private def numericWindowed(df: DataFrame, tsCol: String, column: String,
      spine: (Seq[Double], Seq[Long]), windowDur: String): DataFrame = {
    val (edges, refCounts) = spine
    project(
      windowedAgg(df, tsCol,
        Quality.bucketHistogramAggs(column, edges, refCounts.size), windowDur),
      refCounts.zipWithIndex.map { case (n, i) => (lit(i), n) }, "bucket")
  }

  private def windowedAgg(df: DataFrame, tsCol: String,
      aggs: Seq[org.apache.spark.sql.Column], windowDur: String): DataFrame =
    // Filter on the EVENT TIME, not the monitored column: the histogram
    // aggs null-guard internally, and a window whose monitored column
    // went 100% null (the schema-break failure mode) must still EMIT a
    // row — its all-zero histogram is the smoothed-floor alert shape,
    // whereas filtering the column away would silently render that
    // window indistinguishable from "no traffic".
    df.filter(col(tsCol).isNotNull)
      .groupBy(window(col(tsCol), windowDur))
      .agg(aggs.head, aggs.tail: _*)
      .withColumn("window_start", col("window.start"))
      .withColumn("window_end", col("window.end"))

  private def project(agg: DataFrame,
      spine: Seq[(org.apache.spark.sql.Column, Long)],
      labelName: String): DataFrame =
    Quality.psiTermsFromHistogram(agg, spine, labelName,
      keyCols = Seq("window_start", "window_end"))
}
