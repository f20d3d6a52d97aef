package graft

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.ops.{HourlyRollup, Similarity}

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

  /** Squared L2 as column arithmetic, `dot(a,a) + dot(b,b) - 2.0*dot(a,b)`. */
  private def l2sq(df: DataFrame)(a: Column, b: Column): Column = {
    val dot = Similarity.dot(df.sparkSession) _
    dot(a, a) + dot(b, b) - lit(2.0) * dot(a, b)
  }

  /** Every (vector, centroid) score: (id, c_id, score) over a broadcast
    * cross join of (id, vec) and (c_id, c_vec) frames. */
  private def scored(vecs: DataFrame, cents: DataFrame, metric: String): DataFrame = {
    val pairs = vecs.crossJoin(broadcast(cents))
    val score = metric match {
      case "cosine" => Similarity.cosine(vecs.sparkSession)(col("vec"), col("c_vec"))
      case "l2sq" => l2sq(vecs)(col("vec"), col("c_vec"))
    }
    pairs.select(col("id"), col("c_id"), score.as("score"))
  }

  /** The nearest centroid per vector, (id, c_id), as a cross join and a
    * struct aggregate: max(struct(cosine, -c_id)) or min(struct(l2sq,
    * c_id)) per id — the argmax of the old `kmeansAssign` and the argmin
    * of the old PQ `assignCodes`, twins of `nearest_centroids` at n = 1.
    */
  def nearestStruct(vecs: DataFrame, cents: DataFrame, metric: String): DataFrame = {
    val sc = scored(vecs, cents, metric).groupBy(col("id"))
    metric match {
      case "cosine" => sc.agg(max(struct(col("score"), (-col("c_id")).as("nid"))).as("m"))
        .select(col("id"), (-col("m.nid")).as("c_id"))
      case "l2sq" => sc.agg(min(struct(col("score"), col("c_id"))).as("m"))
        .select(col("id"), col("m.c_id").as("c_id"))
    }
  }

  /** The `n` nearest centroids per vector, (id, rk, c_id), as the
    * `row_number() <= n` window over every score (cosine descending or
    * l2sq ascending, then c_id) — the probe-ranking twin of
    * `nearest_centroids`.
    */
  def nearestWindow(vecs: DataFrame, cents: DataFrame, n: Int, metric: String): DataFrame = {
    val order = if (metric == "cosine") desc("score") else asc("score")
    scored(vecs, cents, metric)
      .withColumn("rk", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy("id").orderBy(order, asc("c_id"))))
      .filter(col("rk") <= n)
      .select("id", "rk", "c_id")
  }

  /** PQ codes as the old join form: subvectors joined to the broadcast
    * codebook on sub_id, a min-struct argmin per (id, sub_id), codes
    * collected in subspace order — the twin of `Similarity.pqEncode`.
    */
  def pqEncodeJoin(emb: DataFrame, codebooks: DataFrame, m: Int, dim: Int,
      idCol: String = "vec_id"): DataFrame =
    Similarity.subVectors(emb, m, dim, idCol)
      .join(broadcast(codebooks), Seq("sub_id"))
      .withColumn("d2", l2sq(emb)(col("sub_vec"), col("c_vec")))
      .groupBy(col(idCol), col("sub_id"))
      .agg(min(struct(col("d2"), col("code"))).as("m"))
      .groupBy(col(idCol))
      .agg(transform(array_sort(collect_list(struct(col("sub_id"), col("m.code").as("code")))),
        x => x.getField("code")).as("codes"))

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
