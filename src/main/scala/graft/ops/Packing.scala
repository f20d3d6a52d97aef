package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Training-order layout operators: the last mile between a curated
  * corpus and what the trainer reads — a deterministic global shuffle
  * into shards, and greedy packing of documents into fixed-size context
  * windows.
  *
  * Both are pure functions of content hashes (like [[DatasetSplit]]):
  * no `rand()`, no dependence on partitioning or row order, so shard
  * layouts and pack assignments are bit-reproducible across engines,
  * re-runs and re-shards. At cluster scale each shard maps to one
  * output partition (`repartition(n, shard) + sortWithinPartitions`),
  * so the whole layout is one shuffle; the within-shard window never
  * sees more than one shard's rows per partition — there is no global
  * single-partition sort anywhere.
  */
object Packing {

  private def orderHash(contentCol: String, salt: String) =
    md5(concat(lit(salt + ":"), col(contentCol)))

  /** Deterministic global shuffle + sharding: every row gets a shard in
    * [0, numShards) and a dense position within its shard, both derived
    * from md5 of content (salted, so the order is independent of the
    * split/sample hashes). Reading shards in order yields a fixed
    * pseudo-random training order — the property "epoch 1 order is
    * reproducible on any engine" that seeded `rand()` cannot give.
    *
    * `idCol` breaks hash ties: rows with IDENTICAL content (real corpora
    * have exact duplicates until dedup runs) share `__h`, and ordering by
    * the hash alone would leave their relative positions to partition
    * arrival order — nondeterministic, the exact property this operator
    * exists to rule out.
    */
  def shuffleShards(
      df: DataFrame,
      numShards: Int,
      contentCol: String = "text",
      idCol: String = "doc_id",
      salt: String = "shuffle"): DataFrame = {
    require(numShards > 0, "numShards must be positive")
    val h = orderHash(contentCol, salt)
    val w = Window.partitionBy("shard_id").orderBy(col("__h").asc, col(idCol).asc)
    df.withColumn("__h", h)
      .withColumn("shard_id", pmod(conv(substring(col("__h"), 1, 4), 16, 10).cast("int"),
        lit(numShards)))
      .withColumn("shard_pos", row_number().over(w))
      .drop("__h")
  }

  /** Sliding-window chunking: cut each document's token sequence into
    * fixed-size windows of `windowLen` tokens advancing by `stride`
    * (overlap = windowLen − stride) — the context-window preparation for
    * training and retrieval indexing. Every document yields at least one
    * chunk; the final chunk may be shorter (the tail). Entirely row-local
    * (`explode(sequence)` + `slice`, all codegen'd): chunking 100 TB is
    * a map-only pass, no shuffle anywhere.
    *
    * @return input columns plus `chunk_idx` (0-based), `chunk_text`,
    *         `n_chunk_tokens`.
    */
  def chunk(
      df: DataFrame,
      windowLen: Int,
      stride: Int,
      contentCol: String = "text"): DataFrame = {
    require(windowLen > 0, "windowLen must be positive")
    require(stride > 0 && stride <= windowLen,
      "stride must be in [1, windowLen] — a larger stride would skip tokens")
    val n = size(col("graft_words"))
    val nChunks = when(n <= windowLen, lit(1)).otherwise(
      ceil((n - lit(windowLen)).cast("double") / stride).cast("int") + 1)
    df.withColumn("graft_words", split(col(contentCol), " "))
      .withColumn("chunk_idx", explode(sequence(lit(0), nChunks - 1)))
      .withColumn("graft_chunk",
        slice(col("graft_words"), col("chunk_idx") * stride + 1, lit(windowLen)))
      .withColumn("chunk_text", concat_ws(" ", col("graft_chunk")))
      .withColumn("n_chunk_tokens", size(col("graft_chunk")))
      .drop("graft_words", "graft_chunk")
  }

  /** Greedy context-window packing: documents are laid out in shuffled
    * order (per shard) and cut into bins of `contextLen` tokens — a doc
    * opens a new bin when the running total before it has crossed the
    * bin boundary. This is the streaming-concatenation packing most
    * pretraining pipelines use (docs may straddle bin edges; `bin_id`
    * names the bin a doc STARTS in, `bin_offset` where).
    *
    * One window per shard computes the running sum — the shard is the
    * parallelism unit, so packing 100 TB is numShards independent
    * sorted scans, not a global sequence.
    */
  def pack(
      df: DataFrame,
      contextLen: Int,
      numShards: Int,
      sizeCol: String,
      contentCol: String = "text",
      idCol: String = "doc_id",
      salt: String = "shuffle"): DataFrame = {
    require(contextLen > 0, "contextLen must be positive")
    val sharded = shuffleShards(df, numShards, contentCol, idCol, salt)
    val w = Window.partitionBy("shard_id").orderBy(col("shard_pos").asc)
    sharded
      .withColumn("__cum_before",
        coalesce(sum(col(sizeCol)).over(w.rowsBetween(Window.unboundedPreceding, -1)),
          lit(0L)))
      .withColumn("bin_id", expr(s"__cum_before div $contextLen"))
      .withColumn("bin_offset", (col("__cum_before") % contextLen).cast("long"))
      .drop("__cum_before")
  }

  /** Sequence-length bucketing — batch documents of similar token length
    * together so a training batch pads to its bucket ceiling instead of
    * the global max (the standard padding-waste reducer when sequences
    * are NOT packed end-to-end; [[pack]] is the packed alternative).
    *
    * Map-only: bucket id is a row-local floor division, `bucket_hi` the
    * bucket's padded length. Zero shuffles — the assignment composes
    * into whatever partitioning the batch writer wants downstream
    * (typically repartition by bucket_id, which is then the ONLY
    * exchange of the job).
    */
  def lengthBuckets(
      df: DataFrame,
      bucketWidth: Int = 16,
      contentCol: String = "text",
      idCol: String = "doc_id"): DataFrame = {
    require(bucketWidth > 0, "bucketWidth must be positive")
    df.withColumn("n_tokens", size(split(col(contentCol), " ")).cast("long"))
      .withColumn("bucket_id", expr(s"n_tokens div $bucketWidth"))
      .select(col(idCol), col("n_tokens"), col("bucket_id"),
        (col("bucket_id") * bucketWidth).as("bucket_lo"),
        ((col("bucket_id") + 1) * bucketWidth - 1).as("bucket_hi"))
  }
}
