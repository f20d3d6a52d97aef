package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.ops.TextDedup

/** The continuously-growing deduplicated text corpus: each micro-batch
  * is deduplicated (exact and near, Jaccard ≥ τ) against a persisted
  * shingle index of the seed corpus plus every earlier batch's
  * survivors, and the survivors grow both the corpus and the index.
  *
  * State design: the index IS the state — on disk, one `batch=<tag>`
  * slice per tick, folded back into `base` by an in-loop compaction —
  * so the loop needs no watermark and holds no stream state, and the
  * per-tick cost is batch work plus index scans, never corpus². The
  * nightly batch dedup (`TextDedup.exactGroups` / minHash) stays the
  * backstop for whatever the tick's τ misses.
  */
object DedupStream {

  /** One tick of the continuously-growing-deduped-corpus loop, as a
    * plain batch function (the `foreachBatch` body of
    * [[incrementalIngest]], and directly callable for scheduled-batch
    * ingest). Three dedup layers, then the corpus grows:
    *
    *   1. intra-batch EXACT: min-id keeper per content hash — a
    *      batch-internal duplicate pair both survives the corpus checks
    *      (neither is in the index yet), so without this layer both
    *      copies would enter the corpus;
    *   2. vs-corpus exact + near (Jaccard ≥ τ): the shared
    *      `TextDedup.vsCorpusLayer` (the one behind
    *      [[TextDedup.incrementalSurvivorsIndexed]]) over the persisted
    *      index minus this tick's own slices, so a replayed tag does not
    *      match itself — per-tick cost scales with the BATCH, never
    *      corpus²;
    *   3. intra-batch NEAR: [[TextDedup.jaccardPairs]] +
    *      [[TextDedup.clusters]] over the (batch-bounded) survivors of
    *      layer 2 — min-id keeper per near-dup cluster.
    *
    * Survivors are then appended to the index (one `batch=<tag>` slice
    * per index table, `TextDedup.appendIndexSlicePrecomputed`) and written to `outDir/batch=<tag>`. Every write is
    * OVERWRITE into the tag's own partition directory, so replaying a
    * tag (the foreachBatch retry contract) rewrites its slices instead
    * of duplicating them — the whole tick is idempotent per tag.
    *
    * Bootstrap: the index must exist before the first tick — call
    * [[TextDedup.writeIncrementalIndex]] with the seed corpus (or an
    * EMPTY frame carrying the right schema to start from nothing).
    *
    * @return number of surviving documents appended this tick.
    */
  def ingestTick(
      spark: SparkSession,
      batch: DataFrame,
      indexDir: String,
      outDir: String,
      batchTag: String,
      k: Int = 2,
      tau: Double = 0.8,
      maxShingleDf: Long = 1000L,
      idCol: String = "doc_id",
      textCol: String = "text",
      maxTokens: Option[Int] = None): Long = {
    import org.apache.spark.sql.expressions.Window
    // maxTokens: the ingest-side length cap (`Curation.lengthCap`, which
    // truncates) applied AT the operator boundary so the memory
    // guard every per-doc shingle bound assumes cannot be forgotten
    // upstream; audit columns are dropped to keep the output schema =
    // the batch schema (run lengthCap yourself upstream to keep them)
    val guarded = maxTokens match {
      case Some(n) => graft.ops.Curation.lengthCap(batch, n, textCol = textCol)
        .drop("n_tokens_orig", "capped")
      case None => batch
    }
    val wExact = Window.partitionBy(col("__h")).orderBy(col(idCol).asc)
    val intraExact = guarded
      .withColumn("__h", md5(col(textCol)))
      .withColumn("__rn", row_number().over(wExact))
      .filter(col("__rn") === 1)
      .drop("__h", "__rn")
    // r19: the batch is shingled ONCE (inside the vs-corpus layer) and
    // the cached table reused by all three consumers that used to
    // re-shingle independently — the vs-corpus near layer, the
    // intra-batch jaccardPairs, and the index append (shingle rows are
    // per-document, so an id semi-join on the cached table IS the
    // re-shingle of any batch subset). Measured (QueryJobProfile /
    // PLANS.md r14): each tick is fixed-tax-dominated small jobs, and the
    // shingle pipeline (posexplode + window + distinct + persist fill)
    // was paid 3× per tick.
    TextDedup.vsCorpusLayer(intraExact,
      TextDedup.indexSides(spark, indexDir, idCol, Some(batchTag)), k, tau,
      maxShingleDf, idCol, textCol, checkpointDir = None, bloomBits = None) {
      (vsCorpus, shNew) =>
        // intra-batch near layer over the survivors' shingles — a cheap
        // cached-table filter, not a re-shingle; the multi-consumer reads
        // inside jaccardPairsOn re-evaluate only that filter
        val shVs = shNew.join(
          vsCorpus.select(col(idCol)), Seq(idCol), "left_semi")
        val intraPairs = TextDedup.eager(
          TextDedup.jaccardPairsOn(shVs, tau, maxShingleDf, idCol), None)
        val losers = TextDedup.clusters(intraPairs)
          .filter(col("cluster_id") =!= col("id"))
          .select(col("id").as(idCol))
        val keepers = vsCorpus.join(losers, Seq(idCol), "left_anti")
        SlicedIngest.commit(keepers, outDir, batchTag) { kept =>
          TextDedup.appendIndexSlicePrecomputed(kept,
            shNew.join(kept.select(col(idCol)), Seq(idCol), "left_semi"),
            indexDir, batchTag, idCol, textCol)
        }
    }
  }

  /** The streaming form of the growing corpus: every micro-batch runs
    * [[ingestTick]] against the shared persisted index, so each batch
    * is deduplicated against the seed corpus PLUS every earlier batch's
    * survivors, and the deduped corpus accumulates under `outDir` as
    * `batch=b<id>` partitions. Tick idempotency (overwrite-per-tag) plus
    * the checkpointed source offsets make restarts safe: a replayed
    * micro-batch has the same batchId, hence the same tag, hence
    * rewrites its own slices.
    *
    * Composition notes: `maxTokens` bounds pathological documents at
    * the operator boundary (the ingest-side guard
    * `TextDedup.verifyJaccard`'s memory bound relies on — default off
    * for parity with earlier rounds; truncation audit columns need an
    * explicit upstream `Curation.lengthCap`); `maxSlices` bounds
    * slice-count creep by compacting the index in place between ticks
    * ([[compactIfNeeded]]) instead of the manual offline
    * compact-and-swap the index layout otherwise defers to.
    */
  def incrementalIngest(
      stream: DataFrame,
      indexDir: String,
      outDir: String,
      checkpointDir: String,
      k: Int = 2,
      tau: Double = 0.8,
      maxShingleDf: Long = 1000L,
      idCol: String = "doc_id",
      textCol: String = "text",
      maxTokens: Option[Int] = None,
      maxSlices: Option[Int] = None): org.apache.spark.sql.streaming.StreamingQuery =
    SlicedIngest.start(stream, textIndex, indexDir, checkpointDir) {
      (spark, tag) =>
        maxSlices.foreach(m => compactIfNeeded(spark, indexDir, m, currentTag = tag))
    } { (spark, df, tag) =>
      ingestTick(spark, df, indexDir, outDir, tag,
        k, tau, maxShingleDf, idCol, textCol, maxTokens): Unit
    }

  /** The text index: `hashes/shingles/df` slices over one `base`. */
  private val textIndex = SlicedIndex(Seq("hashes", "shingles", "df"),
    floor = Set("base"), TextDedup.compactIncrementalIndex(_, _, _, _))

  /** [[SlicedIngest.compactIfNeeded]] over the text index: folds the
    * loose tick slices into `base` ([[TextDedup.compactIncrementalIndex]]).
    *
    * @return true when a compaction ran.
    */
  def compactIfNeeded(
      spark: SparkSession, indexDir: String, maxSlices: Int,
      currentTag: String): Boolean =
    SlicedIngest.compactIfNeeded(spark, textIndex, indexDir, maxSlices, currentTag)
}
