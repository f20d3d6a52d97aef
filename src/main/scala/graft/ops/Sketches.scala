package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Sketch-based corpus statistics — the sublinear-memory summaries a
  * 100 TB pipeline keeps where exact state would not fit: Count-Min for
  * per-item frequency (heavy hitters), HLL (Apache DataSketches, via
  * Spark's built-in `hll_*` functions) for mergeable distinct counts.
  *
  * Both sketches are MERGEABLE — per-shard sketches union to the global
  * sketch with no loss vs building it in one pass. That is the property
  * that matters operationally: shards/days/sources can be sketched
  * independently and combined later ([[hllShardedDistinct]] proves the
  * identity in SketchesSpec).
  */
object Sketches {

  /** Per-group approximate distinct counts (one HLL sketch per group).
    * `approx_count_distinct` gives the same numbers without the sketch
    * column; this form exists for pipelines that PERSIST the sketch for
    * later unioning (the estimate is taken here, the shape is what
    * counts).
    */
  def hllDistinctByGroup(
      df: DataFrame, groupCol: String, valueCol: String, lgK: Int = 12): DataFrame =
    df.groupBy(groupCol)
      .agg(hll_sketch_estimate(hll_sketch_agg(col(valueCol), lit(lgK)))
        .as("approx_distinct"))

  /** Global distinct count assembled from independent per-shard
    * sketches: shard → sketch, union, estimate. Bit-identical to
    * sketching the whole input in one pass (HLL union is exact over
    * sketches) — so shards can be built days or machines apart.
    */
  def hllShardedDistinct(
      df: DataFrame, shardCol: String, valueCol: String, lgK: Int = 12): DataFrame =
    df.groupBy(shardCol)
      .agg(hll_sketch_agg(col(valueCol), lit(lgK)).as("__sk"))
      .agg(hll_sketch_estimate(hll_union_agg(col("__sk"), lit(false)))
        .as("approx_distinct"))

  /** KMV ("k minimum values" / theta) sketch per group: the `k` smallest
    * xxhash64 values of the group's DISTINCT `valueCol`s, sorted
    * ascending. This is the sketch family HLL cannot replace: because it
    * keeps an actual uniform SAMPLE of the hashed universe below a
    * threshold, two groups' sketches support INTERSECTION (and Jaccard)
    * estimates, not just union — the "how many users did both X and Y"
    * question at 100 TB.
    *
    * Scale shape: one distinct-combine on (group, hash) — map-side
    * partial, duplicate values collapse before the exchange — then a
    * per-group bounded top-k (window over at most the distinct hashes;
    * the sort input per group is its distinct count, the output ≤ k).
    * The sketch row is ≤ k longs: thousands of groups' sketches fit in
    * one broadcast.
    *
    * A sketch with FEWER than `k` entries saw its whole universe —
    * every estimate built on it is exact by construction (pinned in
    * SketchesSpec); the approximate regime begins at distinct > k.
    */
  def kmvSketches(
      df: DataFrame, groupCol: String, valueCol: String, k: Int = 256,
      buildShards: Int = 64): DataFrame = {
    require(k >= 2, s"k must be >= 2, got $k")
    // two-stage build — per-(group, hash-shard) top-k, then k-smallest-
    // of-union (an associative merge): a hot group's
    // distinct hashes never sort through ONE task; the per-task sort
    // input is distinct/buildShards and the merge input is ≤ shards·k
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(groupCol), col("__s")).orderBy(col("__h").asc)
    df.select(col(groupCol), xxhash64(col(valueCol)).as("__h")).distinct()
      .withColumn("__s", pmod(col("__h"), lit(buildShards.toLong)))
      .withColumn("__rk", row_number().over(w))
      .filter(col("__rk") <= k)
      .groupBy(col(groupCol))
      .agg(slice(sort_array(collect_list(col("__h"))), 1, k).as("kmv"))
      .withColumn("kmv_n", size(col("kmv")))
      .withColumn("kmv_k", lit(k))
  }

  /** Map a signed 64-bit hash to its uniform position in [0, 1). */
  private def u(h: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    h.cast("double") / lit(math.pow(2.0, 64)) + lit(0.5)

  /** Pairwise set-operation estimates between every two groups' sketches
    * (the theta-sketch combine): cut both samples at θ = min(θ_A, θ_B),
    * then `|A∩B| ≈ |common hashes below θ| / θ`, same for the union, and
    * Jaccard as their ratio. Output one row per unordered group pair
    * (g1 < g2). The join is sketch×sketch — bounded by the number of
    * GROUPS, never by the data.
    */
  def kmvOverlap(sketches: DataFrame, groupCol: String): DataFrame = {
    val theta = (n: String, arr: String, kc: String) =>
      when(col(n) < col(kc), lit(1.0))
        .otherwise(u(element_at(col(arr), col(kc))))
    val a = sketches.select(col(groupCol).as("g1"),
      col("kmv").as("kmv1"), col("kmv_n").as("n1"), col("kmv_k").as("k1"))
    val b = sketches.select(col(groupCol).as("g2"),
      col("kmv").as("kmv2"), col("kmv_n").as("n2"), col("kmv_k").as("k2"))
    val thetaCol = least(theta("n1", "kmv1", "k1"), theta("n2", "kmv2", "k2"))
    // θ = 1.0 (both sketches not-full) short-circuits the cut entirely,
    // making the not-full ⇒ exact property airtight: without it, a hash
    // within ~1024 of Long.MaxValue maps through the 53-bit double
    // mantissa to u = 1.0 and the strict < would drop it (measure-zero
    // ≈5e-17 per value, but "provably exact" should not carry asterisks)
    val keep = (arr: String) => expr(
      s"filter($arr, h -> __theta >= 1.0d OR " +
        s"cast(h as double) / ${math.pow(2.0, 64)} + 0.5 < __theta)")
    a.join(b, col("g1") < col("g2"))
      .withColumn("__theta", thetaCol)
      .withColumn("__a", keep("kmv1"))
      .withColumn("__b", keep("kmv2"))
      .withColumn("est_intersection",
        round(size(array_intersect(col("__a"), col("__b"))) / col("__theta"), 3))
      .withColumn("est_union",
        round(size(array_union(col("__a"), col("__b"))) / col("__theta"), 3))
      .withColumn("est_jaccard",
        when(col("est_union") > 0,
          round(col("est_intersection") / col("est_union"), 6))
          .otherwise(lit(0.0)))
      .select("g1", "g2", "est_intersection", "est_union", "est_jaccard")
  }

  /** Count-Min frequency estimates for `probes`, from one pass over the
    * data. The sketch is a single O(1/eps · ln(1/conf)) aggregate row —
    * collecting IT (not the data) to the driver for probing is the
    * scale-honest move; estimates are upper bounds within eps·N of the
    * truth with probability `confidence` (pinned in SketchesSpec).
    */
  def countMinEstimates(
      df: DataFrame,
      valueCol: String,
      probes: Seq[String],
      eps: Double = 0.001,
      confidence: Double = 0.99,
      seed: Int = 42): DataFrame = {
    val spark = df.sparkSession
    val bytes = df.agg(count_min_sketch(
      col(valueCol), lit(eps), lit(confidence), lit(seed)).as("sk"))
      .head().getAs[Array[Byte]]("sk")
    val cms = org.apache.spark.util.sketch.CountMinSketch.readFrom(
      new java.io.ByteArrayInputStream(bytes))
    import spark.implicits._
    probes.map(p => (p, cms.estimateCount(p))).toDF(valueCol, "est_count")
  }
}
