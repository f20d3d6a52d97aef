package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Ordered funnel analysis: how far does each entity progress through a
  * prescribed sequence of event types, honoring event order?
  *
  * Semantics (the standard product-analytics funnel): step 1 matches at
  * the entity's EARLIEST step-1 event; step k (k>1) matches at the
  * earliest step-k event STRICTLY AFTER the step-(k-1) match. An entity
  * that emits `purchase` before its first `view` has not converted — order
  * matters, which is exactly what a plain per-step `min(ts)` gets wrong.
  *
  * Scale shape: the step timestamps are unordered window aggregates
  * (`min(when(...))`) over the SAME `partitionBy(entity)` window, so the
  * whole chain is ONE hash exchange on the entity key + one sort, with k
  * stacked Window operators reusing that layout — never k shuffles, never
  * a self-join per step. Per-entity state is k timestamps, not the event
  * list, so a hot entity with millions of events costs only its partition
  * scan. At 100 TB the exchange is the unavoidable cost of per-entity
  * sequence semantics; everything downstream of it is a count.
  *
  * Reference scope: the reference's dashboard aggregates per-day load
  * (`dashboard.py`); funnels are the equivalent sequential-behavior
  * rollup for its event-stream shape, expressed Spark-first.
  */
object Funnel {

  /** Per-event frame annotated with the entity's matched step timestamps
    * `step_ts_1..step_ts_k` (constant within an entity; null = step not
    * reached). Each later step must land strictly after the previous
    * step's match.
    */
  def stamped(
      events: DataFrame,
      entityCol: String,
      typeCol: String,
      tsCol: String,
      steps: Seq[String]): DataFrame = {
    require(steps.nonEmpty, "funnel needs at least one step")
    val w = Window.partitionBy(entityCol)
    var df = events.select(col(entityCol), col(typeCol), col(tsCol))
    steps.zipWithIndex.foreach { case (step, i) =>
      val isStep = col(typeCol) === lit(step)
      val cond =
        if (i == 0) isStep
        else isStep && col(tsCol) > col(s"step_ts_$i")
      df = df.withColumn(s"step_ts_${i + 1}", min(when(cond, col(tsCol))).over(w))
    }
    df
  }

  /** First-order behavior transitions: counts and conditional
    * probabilities of consecutive event-type pairs per entity — the
    * Markov-chain view of the event stream that funnels are a special
    * case of. One exchange (the lag window on the entity key); the
    * matrix math runs on |types|² rows. `tieCol` makes the within-ts
    * order deterministic, mirroring the oracle's ORDER BY.
    */
  def transitionMatrix(
      events: DataFrame,
      entityCol: String,
      typeCol: String,
      tsCol: String,
      tieCol: String): DataFrame = {
    val w = Window.partitionBy(entityCol).orderBy(col(tsCol), col(tieCol))
    val pairs = events
      .withColumn("__prev", lag(col(typeCol), 1).over(w))
      .filter(col("__prev").isNotNull)
    val counts = pairs
      .groupBy(col("__prev").as("prev_type"), col(typeCol).as("next_type"))
      .agg(count(lit(1)).as("n"))
    val totals = counts.groupBy("prev_type").agg(sum("n").as("n_prev"))
    counts.join(totals, "prev_type")
      .select(col("prev_type"), col("next_type"), col("n"),
        col("n_prev").cast("long").as("n_prev"),
        round(col("n") / col("n_prev"), 6).as("p"))
  }

  /** One row per funnel step: `(step_idx, step_name, n_users, conversion)`
    * where `n_users` counts entities whose ordered progression reached the
    * step and `conversion` is the fraction of step-1 entities (null when
    * nobody entered the funnel). The per-step explosion happens on a
    * one-row aggregate, so the k output rows are driver-free and
    * shuffle-free past the per-entity reduction.
    */
  def conversionSummary(
      events: DataFrame,
      entityCol: String,
      typeCol: String,
      tsCol: String,
      steps: Seq[String]): DataFrame = {
    val perEntity = stamped(events, entityCol, typeCol, tsCol, steps)
      .groupBy(col(entityCol))
      .agg(
        min(col("step_ts_1")).as("t1"),
        steps.indices.drop(1).map(i => min(col(s"step_ts_${i + 1}")).as(s"t${i + 1}")): _*)
    val totals = perEntity.agg(
      count(col("t1")).as("n1"),
      steps.indices.drop(1).map(i => count(col(s"t${i + 1}")).as(s"n${i + 1}")): _*)
    val stepStructs = array(steps.zipWithIndex.map { case (step, i) =>
      struct(
        lit(i + 1).as("step_idx"),
        lit(step).as("step_name"),
        col(s"n${i + 1}").as("n_users"))
    }: _*)
    totals
      .select(explode(stepStructs).as("s"), col("n1"))
      .select(
        col("s.step_idx").as("step_idx"),
        col("s.step_name").as("step_name"),
        col("s.n_users").as("n_users"),
        round(col("s.n_users").cast("double") / col("n1"), 6).as("conversion"))
  }
}
