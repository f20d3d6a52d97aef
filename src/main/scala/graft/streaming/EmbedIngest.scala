package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.FsPaths
import graft.ops.Similarity

/** The embedding-corpus twin of [[DedupStream]]'s growing-corpus loop:
  * each tick semantically deduplicates a batch of vectors and grows a
  * persisted IVF index with the survivors, so later ticks deduplicate
  * against the seed corpus PLUS every earlier batch's survivors — a
  * continuously-growing semantically-deduped embedding corpus whose
  * dedup check is served by the very ANN index being grown.
  *
  * Scale shape: the vs-corpus check is an IVF PROBE (each batch vector
  * scans ~nProbe/nLists of the index through dynamic partition pruning),
  * never batch × corpus brute force — the approximation the probe buys
  * is the standard SemDedup trade: a near-dup in an unprobed list is
  * MISSED (kept), never the reverse, so removals are always a subset of
  * the exact τ-graph removals (pinned in EmbedIngestSpec). Exact
  * duplicates are immune to the approximation: an identical vector ranks
  * the centroids identically, so its twin's list is always probed.
  */
object EmbedIngest {

  /** One tick of the embedding ingest loop (the `foreachBatch` body of
    * [[incrementalIngest]], directly callable for scheduled-batch
    * ingest). Three layers, then the corpus grows:
    *
    *   1. intra-batch semantic dedup: connected components over the
    *      batch's exact cosine ≥ τ pairs, min-id keeper per cluster
    *      (batch-bounded, so the exact pair graph is affordable);
    *   2. vs-corpus: each keeper probes the persisted IVF index
    *      (top-1, `nProbe` lists, own tag excluded for replay safety)
    *      and is dropped when its best probed cosine ≥ τ;
    *   3. survivors are appended to the index as an idempotent
    *      `batch=<tag>` slice ([[Similarity.appendIvfIndex]]) and
    *      written to `outDir/batch=<tag>` — OVERWRITE per tag, so
    *      foreachBatch replays rewrite their own slices.
    *
    * Bootstrap: if `indexDir` has no centroid table yet, the FIRST
    * tick trains the coarse quantizer from its own intra-deduped batch
    * ([[Similarity.writeIvfCentroids]]) — centroids are frozen from
    * then on; monitor [[Similarity.ivfListStats]] for drift and rebuild
    * on cadence.
    *
    * @return number of surviving vectors appended this tick.
    */
  def ingestTick(
      spark: SparkSession,
      batch: DataFrame,
      indexDir: String,
      outDir: String,
      batchTag: String,
      tau: Double = 0.8,
      nProbe: Int = 2,
      centroidStride: Long = 100L,
      idCol: String = "vec_id",
      embCol: String = "embedding"): Long = {
    // (idCol, embedding) projection for the dedup machinery; survivors
    // are re-joined against the ORIGINAL batch before writing, so any
    // metadata columns riding along (text, url, ...) reach the output —
    // same contract as the text loop
    val vecs = batch.select(col(idCol), col(embCol).as("embedding"))
    val keeperIds = Similarity.dedupByEmbedding(vecs, tau, idCol)
      .filter(col("is_keeper") === 1).select(idCol)
    if (!FsPaths.exists(spark, s"$indexDir/centroids"))
      Similarity.writeIvfCentroids(
        vecs.join(keeperIds, Seq(idCol)), indexDir, centroidStride, idCol)
    val survivorIds =
      if (!FsPaths.exists(spark, s"$indexDir/lists")) keeperIds
      else {
        val dupIds = Similarity.ivfTopKIndexed(
            spark, indexDir, vecs.join(keeperIds, Seq(idCol)),
            k = 1, nProbe, idCol, excludeBatchTag = Some(batchTag))
          .filter(col("cosine") >= tau)
          .select(col("q_id").as(idCol)).distinct()
        keeperIds.join(dupIds, Seq(idCol), "left_anti")
      }
    SlicedIngest.commit(batch.join(survivorIds, Seq(idCol)), outDir, batchTag) {
      kept => Similarity.appendIvfIndex(spark,
        kept.select(col(idCol), col(embCol).as("embedding")),
        indexDir, batchTag, idCol)
    }
  }

  /** Streaming form: every micro-batch runs [[ingestTick]] against the
    * shared persisted index. No watermark, no stream state — the on-disk
    * index IS the state; checkpointed source offsets + overwrite-per-tag
    * slices make restarts and replays safe (same contract as
    * `DedupStream.incrementalIngest`).
    */
  def incrementalIngest(
      stream: DataFrame,
      indexDir: String,
      outDir: String,
      checkpointDir: String,
      tau: Double = 0.8,
      nProbe: Int = 2,
      centroidStride: Long = 100L,
      idCol: String = "vec_id",
      embCol: String = "embedding",
      maxSlices: Option[Int] = None,
      rebuildHotShare: Option[Double] = None,
      rebuildMinRows: Long = 1000L): org.apache.spark.sql.streaming.StreamingQuery =
    SlicedIngest.start(stream, ivfIndex, indexDir, checkpointDir) {
      (spark, tag) =>
        // a rebuild resets slices too, so it subsumes this tick's
        // compaction check
        val rebuilt = rebuildHotShare.exists(th =>
          rebuildIfDrifted(spark, indexDir, th, centroidStride,
            currentTag = tag, minRows = rebuildMinRows))
        if (!rebuilt) maxSlices.foreach(m =>
          compactIfNeeded(spark, indexDir, m, currentTag = tag))
    } { (spark, df, tag) =>
      ingestTick(spark, df, indexDir, outDir, tag,
        tau, nProbe, centroidStride, idCol, embCol): Unit
    }

  /** The in-loop drift response: when the appended (non-`base`) slices'
    * hottest list owns at least `hotShareThreshold` of their rows — the
    * [[Similarity.ivfListStats]] signature of batches drifting away
    * from the frozen quantizer's training distribution, which inflates
    * every probe's scan bill toward the hot list's size (measured ~3×
    * at hotShare 0.64; ladder in PLANS.md) — retrain the quantizer on
    * the index's current contents and swap the re-sliced index in
    * ([[Similarity.rebuildIvfIndex]] through `FsPaths.rebuildAndSwap`,
    * same rename-based crash contract as [[compactIfNeeded]], and the
    * current tag's crashed-attempt slices are dropped so a replayed
    * batch never probes its own vectors). `minRows` stops small-sample
    * noise from triggering rebuilds: a handful of appended vectors can
    * land in one list by chance, not by drift.
    *
    * @return true when a rebuild ran.
    */
  def rebuildIfDrifted(
      spark: SparkSession, indexDir: String, hotShareThreshold: Double,
      centroidStride: Long, currentTag: String,
      minRows: Long = 1000L): Boolean = {
    require(hotShareThreshold > 0.0 && hotShareThreshold <= 1.0,
      "hotShareThreshold must be in (0, 1]")
    FsPaths.recoverSwap(spark, indexDir)
    // FS-only short-circuit: with no post-training slices (all mass in
    // `base` — right after a rebuild, or a fresh index) there is nothing
    // to measure drift ON; skip the stats job entirely. Judged by slice
    // NAME, not count: compaction folds appended ticks into a single
    // `batch=appended` slice that is still drift evidence (only a
    // rebuild retrains the quantizer and resets mass to base), and the
    // current tag's slices are a crashed replay attempt, not evidence.
    // The stats scan itself is cheap when it runs — list_id/batch are
    // partition columns and no data column is materialized — but a
    // directory listing is cheaper still
    val appendedSlices = FsPaths
      .childNames(spark, s"$indexDir/lists", "batch=")
      .filterNot(n => n == "batch=base" || n == s"batch=$currentTag")
    if (appendedSlices.isEmpty) return false
    val appended = Similarity.ivfListStats(spark, indexDir)
      .filter(col("batch") =!= "base" && col("batch") =!= currentTag)
    val byList = appended.groupBy("list_id").agg(sum("n").as("n"))
      .agg(coalesce(sum("n"), lit(0L)).as("total"),
        coalesce(max("n"), lit(0L)).as("hot"))
      .head()
    val total = byList.getAs[Long]("total")
    val hot = byList.getAs[Long]("hot")
    if (total >= minRows && hot.toDouble / total >= hotShareThreshold) {
      FsPaths.rebuildAndSwap(spark, indexDir) { dst =>
        Similarity.rebuildIvfIndex(spark, indexDir, dst, centroidStride,
          excludeTag = Some(currentTag))
      }
      true
    } else false
  }

  /** The IVF index: `lists/codes` slices over `base` and `appended`. */
  private val ivfIndex = SlicedIndex(Seq("lists", "codes"),
    floor = Set("base", "appended"), Similarity.compactIvfIndex(_, _, _, _))

  /** [[SlicedIngest.compactIfNeeded]] over the IVF index: folds the
    * loose tick slices into one `appended` slice
    * ([[Similarity.compactIvfIndex]]; centroids and codebooks stay
    * frozen, and post-training mass stays out of `base`, so
    * [[rebuildIfDrifted]] keeps its evidence).
    *
    * @return true when a compaction ran.
    */
  def compactIfNeeded(
      spark: SparkSession, indexDir: String, maxSlices: Int,
      currentTag: String): Boolean =
    SlicedIngest.compactIfNeeded(spark, ivfIndex, indexDir, maxSlices, currentTag)
}
