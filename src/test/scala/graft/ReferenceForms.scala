package graft

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.ops.HourlyRollup

/** Plain column-expression twins of the engine's custom aggregates and
  * codegen'd expressions, and batch expectations of the streaming forms.
  * The parity specs pin the engine's forms against these.
  */
object ReferenceForms {

  /** Sequential-order double dot product via higher-order functions — the
    * twin of the codegen'd [[graft.functions.VectorDot]].
    */
  def dotHof(a: Column, b: Column): Column =
    aggregate(
      zip_with(a, b, (x, y) => x.cast("double") * y.cast("double")),
      lit(0.0),
      (acc, x) => acc + x)

  /** MinHash signatures, column form: per doc, the min of `numHashes`
    * seeded xxhash64 values over its shingle set, one `mh<i>` column each
    * — the twin of `TextDedup.minHashSignaturesAgg`.
    */
  def minHashSignatures(sh: DataFrame, numHashes: Int, idCol: String = "doc_id"): DataFrame =
    sh.groupBy(idCol)
      .agg(
        min(xxhash64(lit(0), col("shingle"))).as("mh0"),
        (1 until numHashes).map(i =>
          min(xxhash64(lit(i), col("shingle"))).as(s"mh$i")): _*)

  /** Column-aggregate SimHash (64 `sum(when(...))` bit votes) — the twin
    * of `TextDedup.simHash`.
    */
  def simHashColumnForm(
      docs: DataFrame, idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    val tok = docs.select(col(idCol), explode(split(col(textCol), " ")).as("w"))
      .withColumn("h", xxhash64(col("w")))
    val bitVotes = (0 until 64).map { j =>
      sum(when(shiftright(col("h"), j).bitwiseAND(1L) === 1L, 1).otherwise(-1)).as(s"v$j")
    }
    val votes = tok.groupBy(idCol).agg(bitVotes.head, bitVotes.tail: _*)
    val sig = (0 until 64).map { j =>
      when(col(s"v$j") > 0, shiftleft(lit(1L), j)).otherwise(0L)
    }.reduce[Column](_.bitwiseOR(_))
    votes.select(col(idCol), sig.as("simhash"))
  }

  /** The batch hourly summary with the event-side enrichment cycles
    * separated from the cycle-stat cycles: an hour whose trailing cycle
    * is still open keeps its events on the event side while its
    * not-yet-final cycle row is absent from the stats (which then
    * zero-fill). This is the batch expectation of
    * `StreamingPipeline.hourlySummaryStream`, which never emits the row
    * of a cycle that has not closed.
    */
  def hourlySummary(
      flaggedEvents: DataFrame,
      enrichCycles: DataFrame,
      statCycles: DataFrame): DataFrame =
    HourlyRollup.finishSummary(HourlyRollup.cycleSummary(statCycles)
      .join(HourlyRollup.eventSummary(flaggedEvents, enrichCycles),
        Seq("summary_date", "hour_of_day", "machine_id"), "outer"))
}
