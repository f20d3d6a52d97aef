package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Skew mitigation for joins whose key distribution is heavy-tailed
  * (one machine, one user, one document dominating a partition).
  *
  * AQE's skew-join splitting (enabled in GraftSession) handles sort-merge
  * skew at runtime; [[saltedJoin]] is the explicit form for when the skew
  * is known upfront or AQE can't apply (e.g. aggregations after the
  * join): the big side's key is salted into `saltBuckets` sub-keys, the
  * small side is replicated once per salt value, and the join runs on
  * (key, salt) — the hot key's rows spread over `saltBuckets` tasks.
  * Output is identical to the unsalted join.
  */
object Skew {

  /** Left-side-salted inner equi-join: `big ⋈ small` on `keys`. */
  def saltedJoin(
      big: DataFrame,
      small: DataFrame,
      keys: Seq[String],
      saltBuckets: Int = 16): DataFrame = {
    val salted = big.withColumn("graft_salt",
      floor(rand(42L) * lit(saltBuckets)).cast("int"))
    val replicated = small.withColumn("graft_salt",
      explode(array((0 until saltBuckets).map(lit): _*)))
    salted.join(replicated, keys :+ "graft_salt")
      .drop("graft_salt")
  }

  /** Key-distribution profile — the observability side of skew handling:
    * BEFORE shipping a join/groupBy on `keyCols` at 100 TB, profile the
    * key histogram to decide salting/AQE needs. Returns one row per
    * power-of-two bucket of per-key row count: (log2_bucket, n_keys,
    * total_rows, max_key_rows), ascending — a heavy-tailed key space
    * shows its mass in the top buckets.
    *
    * Scale shape: two hash aggregates (keys, then 64 buckets), both
    * map-side combined; no windows, no sorts, no driver actions. The
    * bucket index is integer-exact (length of the binary representation,
    * not float log2 — exact powers of two can round across the boundary
    * in ulp-divergent float logs).
    */
  def keyHistogram(df: DataFrame, keyCols: Seq[String]): DataFrame = {
    val counts = df.groupBy(keyCols.map(col): _*).agg(count(lit(1)).as("key_n"))
    counts
      .withColumn("log2_bucket", (length(bin(col("key_n"))) - 1).cast("int"))
      .groupBy(col("log2_bucket"))
      .agg(count(lit(1)).as("n_keys"),
        sum(col("key_n")).as("total_rows"),
        max(col("key_n")).as("max_key_rows"))
      .orderBy(col("log2_bucket"))
  }
}
