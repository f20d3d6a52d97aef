package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.StreamingQuery

import graft.core.{Actions, FsPaths}

/** A sliced index: the tables that grow by one `batch=<tag>` slice per
  * tick (the compaction trigger counts the first), the slice tags a
  * compaction never removes, and the compaction
  * `(spark, srcDir, dstDir, excludeTag)` into a fresh directory.
  */
private[streaming] final case class SlicedIndex(
    tables: Seq[String],
    floor: Set[String],
    compact: (SparkSession, String, String, Option[String]) => Unit)

/** What both growing-index ingest loops share
  * ([[DedupStream.incrementalIngest]], [[EmbedIngest.incrementalIngest]]):
  * the exactly-once contract of Structured Streaming — checkpointed,
  * replayable source offsets plus idempotent writes. A micro-batch's tag
  * is `b<batchId>`, so a replay has the same tag, and every write of a
  * tick OVERWRITES that tag's own `batch=<tag>` directory.
  */
private[streaming] object SlicedIngest {

  /** The `foreachBatch` skeleton: name the tag, drop a crashed attempt's
    * leftovers, run the loop's index maintenance, then the tick. The
    * leftovers are dropped at EVERY tick start (existence check +
    * delete), so a loop with no maintenance configured is cleaned too.
    */
  def start(stream: DataFrame, index: SlicedIndex, indexDir: String,
      checkpointDir: String)(
      maintain: (SparkSession, String) => Unit)(
      tick: (SparkSession, DataFrame, String) => Unit): StreamingQuery =
    stream.writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (df: DataFrame, batchId: Long) =>
        val tag = s"b$batchId"
        FsPaths.dropCrashedTag(df.sparkSession, indexDir, index.tables, tag)
        maintain(df.sparkSession, tag)
        tick(df.sparkSession, df, tag)
      }
      .start()

  /** Reset the index's slice-count creep IN the loop: when more than
    * `maxSlices` LOOSE tick slices have accumulated — slices beyond the
    * index's floor and `batch=<currentTag>` — compact them in a scratch
    * directory and swap the result in ([[FsPaths.rebuildAndSwap]] —
    * rename-based, so a tick never reads a half-compacted index; every
    * crash window heals via `recoverSwap`, which this runs first).
    * Counting only removable slices keeps the trigger quiescent at
    * steady state: a total count made a `maxSlices` at or below the
    * floor size fire EVERY tick and rewrite the whole index for nothing.
    * `maxSlices = 0` means "compact whenever any loose slice exists".
    * Runs at the START of a tick: any `batch=<currentTag>` slices present
    * then are a crashed attempt's uncommitted leftovers and are DROPPED
    * (the replay rewrites them), never folded — folding them would make
    * the replayed batch dedup against itself and silently lose its rows.
    *
    * @return true when a compaction ran.
    */
  def compactIfNeeded(spark: SparkSession, index: SlicedIndex,
      indexDir: String, maxSlices: Int, currentTag: String): Boolean = {
    require(maxSlices >= 0, "maxSlices must be >= 0")
    FsPaths.recoverSwap(spark, indexDir)
    FsPaths.dropCrashedTag(spark, indexDir, index.tables, currentTag)
    val keep = (index.floor + currentTag).map(t => s"batch=$t")
    val loose = FsPaths.childNames(spark, s"$indexDir/${index.tables.head}",
      "batch=").count(!keep.contains(_))
    if (loose > maxSlices) {
      FsPaths.rebuildAndSwap(spark, indexDir) { dst =>
        index.compact(spark, indexDir, dst, Some(currentTag))
      }
      true
    } else false
  }

  /** A tick's commit: materialize the keepers ONCE (localCheckpoint —
    * flat lineage), run the output write and the index append as one
    * overlapped action group off that checkpoint (guide §2.6), and count
    * the checkpointed rows. A crash between the overlapped writes is
    * healed by the per-tag overwrite replay and the crashed-tag drop.
    *
    * @return the number of keepers written.
    */
  def commit(keepers: DataFrame, outDir: String, tag: String)(
      appendIndex: DataFrame => Unit): Long = {
    val kept = keepers.localCheckpoint()
    Actions.inParallel(
      () => kept.write.mode("overwrite").parquet(s"$outDir/batch=$tag"),
      () => appendIndex(kept))
    kept.count()
  }
}
