package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.ops.{Similarity, TextDedup}

/** Spec setup that grows a persisted index by one `batch=<tag>` slice
  * outside the ingest loops — to plant a crashed attempt's leftover
  * slice, or to build an appended index for a compaction or rebuild.
  */
object IndexSetup {

  /** Append `survivors` as the `batchTag` slice of a
    * `TextDedup.writeIncrementalIndex` index, shingled at width `k`.
    */
  def appendIncrementalIndex(
      survivors: DataFrame, dir: String, batchTag: String, k: Int = 2,
      idCol: String = "doc_id", textCol: String = "text"): Unit =
    TextDedup.appendIndexSlicePrecomputed(survivors,
      TextDedup.shingles(survivors, k, idCol, textCol), dir, batchTag, idCol, textCol)

  /** `Similarity.appendIvfIndex` for the full IVFPQ layout: the batch
    * lands as a `batch=<tag>` slice of both the raw lists and the PQ
    * codes, encoded with the index's frozen codebooks.
    */
  def appendIvfPqIndex(
      spark: SparkSession, newEmb: DataFrame, dir: String,
      batchTag: String, idCol: String = "vec_id"): Unit = {
    Similarity.appendIvfIndex(spark, newEmb, dir, batchTag, idCol)
    val cb = spark.read.parquet(s"$dir/codebooks")
    Similarity.writeCodesSlice(newEmb, cb, dir, batchTag, idCol)
  }
}
