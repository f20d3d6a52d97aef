package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.{Actions, GraftExtensions}

/** Similarity search over an embedding column (`array<float>`).
  *
  * Brute-force cosine is the correctness baseline; the scale paths are the
  * LSH (random-hyperplane) and IVF (coarse-quantizer) variants that bucket
  * vectors so candidate generation never goes all-pairs. All arithmetic is
  * promoted to double and accumulated in array order, so results are
  * reproducible across engines to the last ulp.
  */
object Similarity {

  /** Codegen'd dot (registers `vector_dot` on the session if needed). */
  def dot(spark: SparkSession)(a: Column, b: Column): Column =
    GraftExtensions.vectorDot(spark, a, b)

  def norm(spark: SparkSession)(a: Column): Column = sqrt(dot(spark)(a, a))

  def cosine(spark: SparkSession)(a: Column, b: Column): Column =
    dot(spark)(a, b) / (norm(spark)(a) * norm(spark)(b))

  /** Pre-spread an under-split vector frame for a QUADRATIC kernel (the
    * all-pairs cosine of [[bruteForcePairs]]), size-adaptively — the r20
    * embedding-family twin of TextDedup's spreadForCpuWork (guide §2:
    * partitioning must follow the work, not the bytes).
    *
    * Why byte-based machinery can't fix this: a small embedding table is
    * ONE parquet split (sf0.1: 2000 vecs, 780 KB, one row group — and a
    * single row group cannot be split, so `files.maxPartitionBytes` is
    * powerless), and the n² kernel is map-side in a broadcast
    * nested-loop join — there is no exchange for AQE to re-split; the
    * whole n²/2 vector arithmetic runs in the scan stage's single task
    * (measured: the 0.8 s 1-task stages in ext_semdedup/ext_dedup_embed
    * profiles at 32 idle cores). The rule targets ~64 KB of input per
    * task — ~250 64-dim vectors, whose all-pairs kernel against the
    * broadcast corpus is a few hundred ms of work — capped at
    * `defaultParallelism`.
    *
    * Two deliberate guards, both measured in the r20 A/B:
    *  - QUADRATIC consumers only. The linear kernels (the kmeansAssign
    *    argmax, Lloyd rounds, PQ subvector argmins, topK) are
    *    milliseconds of serial work; spreading them re-pays a
    *    repartition exchange + an extra AQE stage per ACTION and made
    *    the job-tax-bound IVF/PQ family ~15-30% SLOWER.
    *  - a 512 KB floor: below it the n² kernel is itself a few hundred
    *    ms single-threaded, about what the exchange costs — an ingest
    *    micro-batch stays put.
    * Partitioning never changes results — the pair kernel is per-row
    * expressions over a join, and every downstream consumer is
    * bit-deterministic at any partitioning (repo contract).
    */
  private[graft] def spreadForVectorWork(emb: DataFrame): DataFrame = {
    val par = emb.sparkSession.sparkContext.defaultParallelism
    // queryExecution.toRdd reuses the frame's cached physical plan (no
    // job; `.rdd` would build a second QueryExecution just to read the
    // partition count) — the spreadForCpuWork idiom
    val cur = emb.queryExecution.toRdd.getNumPartitions
    val bytes = emb.queryExecution.optimizedPlan.stats.sizeInBytes
    if (bytes < BigInt(512L << 10)) return emb
    val perTask = BigInt(64L << 10)
    val want = ((bytes + perTask - 1) / perTask)
      .min(BigInt(par)).max(BigInt(1)).toInt
    if (cur < want) emb.repartition(want) else emb
  }

  /** All pairs (a < b) with cosine ≥ tau — O(n²) by construction; the
    * baseline oracle-checkable form, NOT the scale path (use [[lshPairs]]).
    * Norms are computed once per vector, so the pair loop does one dot each.
    */
  def bruteForcePairs(emb: DataFrame, tau: Double, idCol: String = "vec_id"): DataFrame = {
    val s = emb.sparkSession
    val withNorm = emb.select(col(idCol), col("embedding"), norm(s)(col("embedding")).as("nrm"))
    // the STREAMED side of the broadcast nested-loop join carries the n²
    // kernel — spread it so the pair arithmetic parallelizes (the build
    // side stays unspread: it is collected for broadcast either way)
    val a = spreadForVectorWork(withNorm)
      .select(col(idCol).as("a_id"), col("embedding").as("a_emb"), col("nrm").as("a_nrm"))
    val b = withNorm.select(col(idCol).as("b_id"), col("embedding").as("b_emb"), col("nrm").as("b_nrm"))
    a.join(b, col("a_id") < col("b_id"))
      .withColumn("cosine", dot(s)(col("a_emb"), col("b_emb")) / (col("a_nrm") * col("b_nrm")))
      .filter(col("cosine") >= tau)
      .select("a_id", "b_id", "cosine")
  }

  /** The deterministic ±1 sign matrix behind [[randomProject]]: entry
    * (i, j) is the parity of the first md5 nibble of "seed:i:j". Pure
    * function of (seed, dIn, dOut), so every engine, run, and executor
    * derives the identical matrix — the catalog oracle inlines these same
    * signs into its generated SQL (the ext_quality_classifier pattern).
    */
  def rpSigns(seed: String, dIn: Int, dOut: Int): Array[Array[Int]] = {
    val md = java.security.MessageDigest.getInstance("MD5")
    Array.tabulate(dIn, dOut) { (i, j) =>
      val h = md.digest(s"$seed:$i:$j".getBytes("UTF-8"))
      if (((h(0) >> 4) & 1) == 1) 1 else -1
    }
  }

  /** Johnson–Lindenstrauss sign random projection (Achlioptas 2003,
    * density-1 variant): `proj_j = Σ_i v_i · s(i,j) / √dOut` with a
    * seeded deterministic ±1 matrix. The standard width cut BEFORE the
    * ANN stages at corpus scale — 64 float dims → `dOut` doubles shrinks
    * every LSH/IVF shuffle and distance kernel by the same factor while
    * JL bounds pairwise-distance distortion. Map-only: the matrix is a
    * plan-side constant (dIn·dOut ints), no shuffle, no UDF — the inner
    * sums are codegen'd arithmetic in ascending-i order, so the oracle's
    * left-to-right SQL sums are bit-identical before the shared 6-dp
    * rounding.
    *
    * @return (idCol, proj_0 … proj_{dOut-1}) — scalar columns, one per
    *         output dim (the driver's parquet compare sorts rows by
    *         column values, which array columns would break).
    */
  def randomProject(
      emb: DataFrame,
      dIn: Int,
      dOut: Int,
      seed: String = "jl",
      idCol: String = "vec_id",
      vecCol: String = "embedding"): DataFrame = {
    val signs = rpSigns(seed, dIn, dOut)
    val scale = math.sqrt(dOut.toDouble)
    val cols = (0 until dOut).map { j =>
      val sum = (0 until dIn).map { i =>
        element_at(col(vecCol), i + 1).cast("double") * lit(signs(i)(j))
      }.reduce(_ + _)
      round(sum / lit(scale), 6).as(s"proj_$j")
    }
    emb.select(col(idCol) +: cols: _*)
  }

  /** Brute-force top-k neighbors for each query vector (queries broadcast;
    * ties broken by neighbor id for determinism).
    */
  def topK(emb: DataFrame, queries: DataFrame, k: Int, idCol: String = "vec_id"): DataFrame = {
    val s = emb.sparkSession
    val q = queries.select(col(idCol).as("q_id"), col("embedding").as("q_emb"))
    // NOT spread (r20, measured): the nq·n kernel is LINEAR in the corpus
    // (a handful of broadcast queries), so the serial cost is far below
    // the exchange + extra AQE stage a repartition adds — the A/B read
    // ivf_pq_probe/ivf_indexed ~0.2-0.4 s slower with the spread
    val c = emb.select(col(idCol).as("n_id"), col("embedding").as("n_emb"))
    val scored = c.join(broadcast(q), col("q_id") =!= col("n_id"))
      .withColumn("cosine", cosine(s)(col("q_emb"), col("n_emb")))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("q_id").orderBy(desc("cosine"), asc("n_id"))
    scored
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= k)
      .select("q_id", "n_id", "rk", "cosine")
  }

  /** Deterministic ±1 hyperplane signs for LSH, seeded. */
  def hyperplanes(numPlanes: Int, dim: Int, seed: Long = 42L): Seq[Seq[Double]] = {
    val rnd = new scala.util.Random(seed)
    Seq.fill(numPlanes)(Seq.fill(dim)(if (rnd.nextBoolean()) 1.0 else -1.0))
  }

  /** Random-hyperplane LSH bucket id (one int, `numPlanes` sign bits). */
  def lshBucket(spark: SparkSession)(emb: Column, planes: Seq[Seq[Double]]): Column =
    planes.zipWithIndex.map { case (p, j) =>
      val signs = typedLit(p)
      when(dot(spark)(emb, signs) >= 0.0, lit(1 << j)).otherwise(lit(0))
    }.reduce[Column](_.bitwiseOR(_))

  /** Multi-table random-hyperplane LSH near-neighbor pairs: `numTables`
    * independent sign-pattern hashes of `numPlanes` bits each
    * (OR-amplification); a pair is a candidate if it collides in ANY
    * table, then verified with exact cosine ≥ tau (precision 1 by
    * construction). Collision prob for angle θ is 1-(1-(1-θ/π)^p)^L —
    * p=4, L=8 gives ~0.75 recall at cos 0.4 while candidate volume stays
    * Σ bucket² per table ≪ n². See SimilaritySpec's measured-recall test.
    *
    * Exact-bucket collisions only, no multi-probe: visiting every
    * 1-bit-flipped bucket multiplies one side's candidate rows by p+1,
    * and at p=4 that cancels the bucketing gain (measured 1.6 s → 17 s
    * on the sf0.1 `ext_ann_lsh` entry). Raise `numTables` for recall.
    */
  def lshPairs(
      emb: DataFrame,
      tau: Double,
      numPlanes: Int = 4,
      numTables: Int = 8,
      dim: Int = 64,
      seed: Long = 42L,
      idCol: String = "vec_id",
      checkpointDir: Option[String] = None): DataFrame = {
    val s = emb.sparkSession
    // persisted + forced: both sides of the bucket self-join read this
    // frame, and without materialization each side re-pays the
    // numTables × numPlanes sign dot products per vector (and a lazy
    // persist would be raced by the two join branches — see
    // TextDedup.jaccardPairs). The small verified pair list is evaluated
    // eagerly via localCheckpoint so no cache outlives the call.
    val withB = emb.select(
      col(idCol), col("embedding"),
      norm(s)(col("embedding")).as("nrm"),
      explode(array((0 until numTables).map { t =>
        struct(
          lit(t).as("table_id"),
          lshBucket(s)(col("embedding"), hyperplanes(numPlanes, dim, seed + t))
            .as("bucket"))
      }: _*)).as("tb"))
      .select(col(idCol), col("embedding"), col("nrm"),
        col("tb.table_id"), col("tb.bucket"))
      .persist()
    val a = withB.select(col("table_id"), col("bucket"), col(idCol).as("a_id"),
      col("embedding").as("a_emb"), col("nrm").as("a_nrm"))
    val b = withB.select(col("table_id"), col("bucket"), col(idCol).as("b_id"),
      col("embedding").as("b_emb"), col("nrm").as("b_nrm"))
    try {
      // cache-force inside the try: if this first evaluation throws (bad
      // embedding, lost executor), the finally still unpersists
      withB.count()
      a.join(b, Seq("table_id", "bucket"))
        .filter(col("a_id") < col("b_id"))
        // cosine BEFORE the pair-distinct (r20, guide §2.3 shuffle fewer
        // bytes): the old shape dragged both embeddings + norms through
        // the dropDuplicates exchange; the cosine is a deterministic
        // function of the pair, identical in every bucket-collision copy,
        // so verifying first and deduplicating (a_id, b_id, cosine) rows
        // is value-identical while the exchange carries 3 scalars per
        // candidate instead of two vectors — the verify work per extra
        // copy is one codegen'd dot, cheap next to the avoided bytes
        .withColumn("cosine",
          dot(s)(col("a_emb"), col("b_emb")) / (col("a_nrm") * col("b_nrm")))
        .filter(col("cosine") >= tau)
        .select("a_id", "b_id", "cosine")
        .dropDuplicates("a_id", "b_id")
        // reliable checkpoint on a cluster (survives executor loss),
        // executor-memory localCheckpoint in local mode — see
        // TextDedup.eager
        .transform(TextDedup.eager(_, checkpointDir))
    } finally {
      withB.unpersist()
      ()
    }
  }

  /** IVF-style ANN: a deterministic coarse quantizer (every `centroidStride`-th
    * vector is a centroid) partitions the corpus into inverted lists; a query
    * probes only the `nProbe` nearest lists. This is the index layout a
    * 100 TB deployment would persist (lists = partition key).
    */
  def ivfTopK(
      emb: DataFrame,
      queries: DataFrame,
      k: Int,
      centroidStride: Long = 100L,
      nProbe: Int = 2,
      idCol: String = "vec_id"): DataFrame = {
    ivfTopKWithCentroids(emb, ivfCentroids(emb, centroidStride, idCol),
      queries, k, nProbe, idCol)
  }

  /** [[ivfTopK]] with an EXPLICIT (frozen) centroid table instead of a
    * freshly sampled one — the in-memory reference for a grown index
    * ([[appendIvfIndex]] keeps the base build's centroids, so "index
    * after appends" must equal "this, over the whole corpus, with the
    * persisted centroids"; pinned in SimilaritySpec).
    */
  def ivfTopKWithCentroids(
      emb: DataFrame, centroids: DataFrame, queries: DataFrame,
      k: Int, nProbe: Int = 2, idCol: String = "vec_id"): DataFrame =
    probeLists(ivfLists(emb, centroids, idCol), centroids, queries, k, nProbe, idCol)

  /** Deterministic coarse quantizer: hash-based centroid sampling
    * (id-value independent: works for non-contiguous / 1-based / hashed
    * id spaces), with a fallback so a tiny or unlucky table still yields
    * a non-empty quantizer instead of silently returning zero results.
    */
  def ivfCentroids(emb: DataFrame, centroidStride: Long, idCol: String = "vec_id"): DataFrame = {
    val sampled = emb.filter(pmod(xxhash64(col(idCol)), lit(centroidStride)) === 0)
      .select(col(idCol).as("c_id"), col("embedding").as("c_emb"))
    if (sampled.isEmpty)
      emb.limit(1).select(col(idCol).as("c_id"), col("embedding").as("c_emb"))
    else sampled
  }

  /** Every vector's inverted list: [[kmeansAssign]]'s argmax against the
    * coarse centroids, as the IVF columns (n_id, n_emb, list_id).
    */
  private def ivfLists(emb: DataFrame, centroids: DataFrame, idCol: String): DataFrame =
    kmeansAssign(emb, centroids, idCol)
      .select(col(idCol).as("n_id"), col("embedding").as("n_emb"), col("cluster").as("list_id"))

  /** Rank the coarse centroids per query and keep the top `nProbe`
    * assignments: (q_id, q_emb, list_id), ties to the smallest centroid
    * id. The single source of truth for probe ranking, shared by the
    * exact-IVF and IVFPQ paths so a metric or tie-break change cannot
    * silently diverge them.
    */
  private[graft] def probeAssignments(
      centroids: DataFrame, queries: DataFrame, nProbe: Int,
      idCol: String): DataFrame = {
    val s = queries.sparkSession
    // top-nProbe via the bounded mergeable TopByAggregator, not a rank
    // window: each map task pre-reduces a query's candidate cells to
    // <= nProbe pairs, so the exchange carries O(queries·nProbe) rows
    // instead of O(queries·centroids) — same (cos DESC, id ASC) order
    val topby = udaf(new graft.functions.TopByAggregator(nProbe),
      org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[(Double, Long)]())
    queries.select(col(idCol).as("q_id"), col("embedding").as("q_emb"))
      .crossJoin(broadcast(centroids))
      .withColumn("c_cos", cosine(s)(col("q_emb"), col("c_emb")))
      .groupBy(col("q_id"))
      .agg(first(col("q_emb")).as("q_emb"),
        // cast: the aggregator's input encoder is (Double, Long); an
        // int-typed centroid id would otherwise fail at runtime
        topby(col("c_cos"), col("c_id").cast("long")).as("cells"))
      .select(col("q_id"), col("q_emb"), explode(col("cells")).as("cell"))
      .select(col("q_id"), col("q_emb"), col("cell._2").as("list_id"))
  }

  /** Each query probes its `nProbe` nearest lists; candidates are scored
    * exactly and ranked per query.
    */
  private def probeLists(
      assigned: DataFrame, centroids: DataFrame, queries: DataFrame,
      k: Int, nProbe: Int, idCol: String): DataFrame = {
    val s = assigned.sparkSession
    val probes = probeAssignments(centroids, queries, nProbe, idCol)
    val scored = assigned.join(broadcast(probes), Seq("list_id"))
      .filter(col("q_id") =!= col("n_id"))
      .withColumn("cosine", cosine(s)(col("q_emb"), col("n_emb")))
    scored
      .withColumn("rk", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy("q_id")
          .orderBy(desc("cosine"), asc("n_id"))))
      .filter(col("rk") <= k)
      .select("q_id", "n_id", "rk", "cosine")
  }

  /** Embedding-cosine near-duplicate dedup: connected components over
    * the cosine ≥ tau pair graph, every vector labeled with its cluster
    * (own id when unique) and a keeper flag (cluster minimum). This is
    * the semantic-dedup step of a training-data pipeline — it catches
    * paraphrase-level duplicates that n-gram methods miss.
    *
    * Pairs are the exact [[bruteForcePairs]] baseline (oracle-checkable).
    */
  def dedupByEmbedding(
      emb: DataFrame,
      tau: Double,
      idCol: String = "vec_id"): DataFrame = {
    val p = bruteForcePairs(emb, tau, idCol)
      .select(col("a_id").as("d1"), col("b_id").as("d2"))
    val cl = TextDedup.clusters(p).withColumnRenamed("id", idCol)
    emb.select(col(idCol))
      .join(cl, Seq(idCol), "left")
      .select(col(idCol), coalesce(col("cluster_id"), col(idCol)).as("cluster_id"))
      .withColumn("is_keeper", (col("cluster_id") === col(idCol)).cast("int"))
  }

  /** Assign every vector to its highest-cosine centroid (ties to the
    * smallest centroid id). Centroids are broadcast — k is small by
    * construction — so this is one map-side pass over the corpus plus a
    * per-vector top-1 window bounded by k rows per key; no shuffle of the
    * embedding column at any k.
    */
  def kmeansAssign(emb: DataFrame, centroids: DataFrame, idCol: String = "vec_id"): DataFrame = {
    val s = emb.sparkSession
    // argmax as a MAX-STRUCT aggregation, not a row_number window: both
    // need the n·k scored rows, but max() partial-aggregates map-side,
    // so what crosses the wire is ONE row per vector instead of k rows
    // each dragging the embedding — at production k (thousands of cells)
    // the window form's exchange is k× this one. Struct comparison is
    // field-lexicographic: highest cosine first, then highest -c_id =
    // smallest centroid id — the identical tie-break. NOT spread (r20,
    // measured): n·k with broadcast centroids is a light linear kernel;
    // a repartition's exchange + extra AQE stage cost more than it saves
    // (ext_kmeans_assign 0.23→0.35 s, ivf_indexed +0.4 s in the A/B)
    emb.select(col(idCol), col("embedding"))
      .crossJoin(broadcast(centroids))
      .withColumn("c_cos", cosine(s)(col("embedding"), col("c_emb")))
      // group by the SCALAR id only — an array-typed grouping key would
      // force a sort-based aggregate over the whole n·k cross product
      // (measured 2× slower than even the window form); the embedding
      // rides along as first() since every candidate row carries it
      .groupBy(col(idCol))
      .agg(first(col("embedding")).as("embedding"),
        max(struct(col("c_cos"), (-col("c_id")).as("nid"))).as("m"))
      .select(col(idCol), col("embedding"), (-col("m.nid")).as("cluster"))
  }

  /** A literal array column that PRESERVES the source element type
    * (float centroids stay float literals, double means stay double), so
    * a literal-form distance is bit-identical to its join-form twin. */
  private def litVec(
      values: Seq[Any],
      elemType: org.apache.spark.sql.types.DataType): Column = elemType match {
    case org.apache.spark.sql.types.FloatType =>
      lit(values.map(_.asInstanceOf[Float]).toArray)
    case org.apache.spark.sql.types.DoubleType =>
      lit(values.map(_.asInstanceOf[Double]).toArray)
    case other => throw new IllegalArgumentException(
      s"unsupported embedding element type: $other")
  }

  /** [[kmeansAssign]] against DRIVER-LOCAL centroid rows (r20, Lloyd-loop
    * fixed-cost cut): the k candidate cosines are evaluated as ONE
    * literal array_max expression per vector — no per-iteration broadcast
    * build job, no n·k join rows, and no re-aggregation exchange at all;
    * the struct comparator (c_cos, -c_id) is the aggregate form's
    * (array_max and max(struct) share the struct ordering), so the argmax
    * and tie-break are bit-identical. Centroids are bounded driver state
    * by the [[kmeans]] contract, so the literal plan stays small.
    */
  private[graft] def kmeansAssignLocal(
      emb: DataFrame,
      centroids: Seq[org.apache.spark.sql.Row],
      schema: org.apache.spark.sql.types.StructType,
      idCol: String): DataFrame = {
    val s = emb.sparkSession
    val ci = schema.fieldIndex("c_id")
    val vi = schema.fieldIndex("c_emb")
    // empty centroid set: the join form yields an empty assignment with
    // the cluster column typed like c_id — reproduce that, don't throw
    if (centroids.isEmpty)
      return emb.select(col(idCol), col("embedding")).filter(lit(false))
        .withColumn("cluster", lit(null).cast(schema(ci).dataType))
    val elemType = schema(vi).dataType
      .asInstanceOf[org.apache.spark.sql.types.ArrayType].elementType
    val scored = array(centroids.map { r =>
      struct(
        cosine(s)(col("embedding"), litVec(r.getSeq[Any](vi), elemType)).as("c_cos"),
        (-lit(r.get(ci))).as("nid"))
    }: _*)
    emb.select(col(idCol), col("embedding"),
      (-array_max(scored).getField("nid")).as("cluster"))
  }

  /** Lloyd's k-means over the embedding column (cosine assignment,
    * per-dimension mean update) — the clustering stage of SemDeDup-style
    * curation and of building a LEARNED IVF quantizer (vs
    * [[ivfCentroids]]' sampled one).
    *
    * Determinism at any partitioning (the repo-wide bit-determinism
    * contract): the mean is summed in DECIMAL(38,18) — exact, hence
    * shuffle-order-independent — and only divided/cast to double at the
    * end; assignment ties break on centroid id. Initial centroids default
    * to the k vectors with the smallest xxhash64(id) (deterministic,
    * id-value independent spread).
    *
    * Scale shape: per iteration one broadcast-assign pass plus one
    * groupBy(k)·dim aggregate; centroids (k·dim doubles — bounded driver
    * state, like spark.ml's KMeans) are collected and re-broadcast each
    * round, so plan lineage stays flat without checkpointing. A cluster
    * that loses all members drops out (k may shrink); fixed `maxIter`
    * rounds, no convergence probe — the assignment argmax stabilizes long
    * before the means stop drifting at the precision that matters here.
    * Seeding defaults to [[kmeansInitParallel]] (constant cluster rounds).
    *
    * Returns (assignments: id, embedding, cluster; centroids: c_id, c_emb).
    */
  /** Deterministic k-means‖-style seeding (Bahmani et al. 2012, VLDB —
    * "Scalable k-means++" — with the random distance-proportional draw
    * replaced by a deterministic farthest-batch selection):
    *
    *   1. seed 0 = the vector with the smallest xxhash64(id);
    *   2. `rounds` (fixed, default 3) oversampling passes, each drawing
    *      `oversample·k` vectors by DISTANCE-PROPORTIONAL priority
    *      sampling in ONE broadcast-scored corpus scan: priority =
    *      (1 − closest cosine)² / u(id) with u a seeded md5-uniform in
    *      (0, 1] (the [[DatasetSplit.sampleWeighted]] idiom) — the
    *      deterministic stand-in for k-means‖'s ℓ·d²/φ Bernoulli draw.
    *      Proportional sampling is load-bearing, not a nicety: taking
    *      the `oversample·k` FARTHEST points instead collapses the whole
    *      batch into the single most anti-aligned cluster (tight
    *      clusters ⇒ near-identical distances per cluster; measured
    *      purity 0.7 on SemDedupSpec's planted 10-center corpus),
    *      while d²-mass sampling spreads each batch across every far
    *      cluster ∝ its size — exactly why Bahmani et al. sample;
    *   3. a local maximin refine over the ≤ 1 + rounds·oversample·k
    *      collected candidates picks the final k (greedy farthest-point,
    *      ties to the smaller id) — bounded driver work, no corpus scan.
    *
    * This keeps the purity property the old sequential maximin seeding
    * had (SemDedupSpec pins ≥ 0.95) while cutting the driver-blocking
    * cluster rounds from k−1 to a CONSTANT: at SemDedup-scale k
    * (thousands of cells) the old loop was thousands of sequential
    * jobs, this is always `rounds`+1. Fully deterministic at any
    * partitioning: the draw is a global sort-limit on a pure function
    * of (id, distances) with a unique id tie-break, the refine is pure
    * driver arithmetic on sorted candidates.
    */
  def kmeansInitParallel(
      emb: DataFrame, k: Int,
      rounds: Int = 3, oversample: Int = 4,
      idCol: String = "vec_id"): DataFrame = {
    val s = emb.sparkSession
    // NOT spread (r20, measured): each oversampling round's n·|cands|
    // kernel is linear in the corpus and each round is its own action, so
    // a repartition re-pays its exchange every round — the A/B read the
    // kmeans-family consumers flat-to-slower with the spread
    val sel = emb.select(col(idCol).as("c_id"), col("embedding").as("c_emb"),
      xxhash64(col(idCol)).as("h"))
    val schema = org.apache.spark.sql.types.StructType(sel.drop("h").schema.fields)
    var cands = Seq(sel.orderBy(col("h"), col("c_id")).limit(1).drop("h").head())
    def candFrame = s.createDataFrame(s.sparkContext.parallelize(cands, 1), schema)
    val perRound = math.max(1, oversample * k)
    var round = 0
    while (round < rounds) {
      val batch = emb.select(col(idCol), col("embedding"))
        // exclude already-picked candidates so a tiny corpus cannot
        // re-select them (their distance weight is ~0 anyway, but an
        // exact re-pick would shrink the effective candidate pool)
        .join(candFrame.select(col("c_id").as(idCol)), Seq(idCol), "left_anti")
        .crossJoin(broadcast(candFrame))
        .withColumn("c_cos", cosine(s)(col("embedding"), col("c_emb")))
        // group by the scalar id only: an array-typed grouping key
        // forces a sort-based aggregate (~2× the hash-agg cost on this
        // exact shape, PLANS.md "Round-15: the last array-key groupBy");
        // the embedding is functionally dependent on the id, so carry it
        // with first()
        .groupBy(col(idCol))
        .agg(first(col("embedding")).as("embedding"), max("c_cos").as("closest"))
        // priority = d² / u: u = md5-uniform in (0, 1], d = angular gap
        .withColumn("graft_u",
          (conv(substring(md5(concat(lit("kmeanspar:"), col(idCol).cast("string"))),
            1, 4), 16, 10).cast("double") + 1.0) / 65536.0)
        .withColumn("graft_priority",
          pow(greatest(lit(0.0), lit(1.0) - col("closest")), 2) / col("graft_u"))
        .orderBy(desc("graft_priority"), asc(idCol))
        .limit(perRound)
        .select(col(idCol).as("c_id"), col("embedding").as("c_emb"))
        .collect()
      cands = cands ++ batch
      round += 1
    }
    // local maximin refine: greedy farthest-point over the bounded
    // candidate set, starting from the hash-smallest seed already at
    // position 0. O(k · |cands| · dim) driver flops, no cluster jobs.
    def vec(r: org.apache.spark.sql.Row): Array[Double] =
      r.getSeq[Any](1).map {
        case f: Float => f.toDouble
        case d: Double => d
        case n: Number => n.doubleValue()
      }.toArray
    def cos(a: Array[Double], b: Array[Double]): Double = {
      var dot = 0.0; var na = 0.0; var nb = 0.0; var i = 0
      while (i < a.length) { dot += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i); i += 1 }
      if (na == 0.0 || nb == 0.0) 0.0 else dot / math.sqrt(na * nb)
    }
    val byId = cands.sortBy(r => r.getLong(0)).toArray
    val vs = byId.map(vec)
    val taken = new Array[Boolean](byId.length)
    val seed0 = byId.indexWhere(_.getLong(0) == cands.head.getLong(0))
    taken(seed0) = true
    val chosen = scala.collection.mutable.ArrayBuffer(byId(seed0))
    val closest = Array.tabulate(byId.length)(i => cos(vs(i), vs(seed0)))
    while (chosen.size < math.min(k, byId.length)) {
      var best = -1
      var i = 0
      while (i < byId.length) {
        if (!taken(i) && (best < 0 || closest(i) < closest(best))) best = i
        i += 1
      }
      taken(best) = true
      chosen += byId(best)
      i = 0
      while (i < byId.length) {
        val c = cos(vs(i), vs(best))
        if (c > closest(i)) closest(i) = c
        i += 1
      }
    }
    s.createDataFrame(s.sparkContext.parallelize(chosen.toSeq, 1), schema)
  }

  def kmeans(
      emb: DataFrame,
      k: Int,
      maxIter: Int = 5,
      idCol: String = "vec_id"): (DataFrame, DataFrame) = {
    val s = emb.sparkSession
    val dim = emb.select(size(col("embedding"))).head().getInt(0)
    // NOT spread (r20, measured): each Lloyd round's n·k assignment
    // kernel is linear and each round is its own collect action — a
    // repartition re-pays its exchange every round for a kernel that is
    // milliseconds at this k (A/B: kmeans consumers flat-to-slower).
    // centroids are bounded driver state by contract (k·dim doubles, like
    // spark.ml's KMeans — they were collected every round anyway): hold
    // them as LOCAL rows for the whole loop, so each round's assignment
    // is a literal expression — one aggregation job per iteration, no
    // broadcast-build job, no assignment exchange (r20, verdict task 6).
    // Iteration count, seeding, means, and tie-breaks are unchanged.
    val init = kmeansInitParallel(emb, k, idCol = idCol)
    var rows: Seq[org.apache.spark.sql.Row] = init.collect().toSeq
    var schema = init.schema
    val meanCols = (0 until dim).map(i =>
      (sum(col("embedding").getItem(i).cast("decimal(38,18)")) / count(lit(1)))
        .cast("double").as(s"m$i"))
    for (_ <- 1 to maxIter) {
      val upd = kmeansAssignLocal(emb, rows, schema, idCol)
        .groupBy(col("cluster").as("c_id"))
        .agg(meanCols.head, meanCols.tail: _*)
        .select(col("c_id"), array((0 until dim).map(i => col(s"m$i")): _*).as("c_emb"))
      rows = upd.collect().toSeq
      schema = upd.schema
    }
    val centroids = s.createDataFrame(s.sparkContext.parallelize(rows, 1), schema)
    (kmeansAssignLocal(emb, rows, schema, idCol), centroids)
  }

  /** SemDeDup (Abbas et al. 2023): k-means-bucketed embedding dedup —
    * cluster the corpus, generate cosine ≥ tau candidate pairs only
    * within shared cells, connected-components them, keep each dup
    * group's minimum id. The k-means cells play the role LSH buckets play
    * in [[lshPairs]]: candidate volume is Σ cell² · probe², never n², and
    * the cell count scales with the corpus so cells stay bounded.
    *
    * `probe`: each vector participates in its `probe` nearest cells for
    * CANDIDATE GENERATION (its reported `kmeans_cluster` stays the top-1
    * cell) — the same recall lever as [[ivfTopK]]'s nProbe and
    * [[lshPairs]]' multi-probe. It matters here more than on real
    * pretraining embeddings: this corpus' directions are uniform (no
    * macro-cluster structure), so Voronoi margins are thin and
    * single-assignment splits planted near-dup pairs across cells
    * (measured recall on the corpus' 7 planted removals: 3/7 at
    * probe=1, 5/7 at probe=2, 7/7 at probe=3 — SemDedupSpec pins the
    * probe=3 figure; real clustered embeddings need lower probe, and
    * production k grows with the corpus so probe/k stays small).
    *
    * Removals are always a SUBSET of the exact graph's at the same tau
    * (cell-restricted pairs ⇒ finer components ⇒ every removal is
    * justified by a kept near-duplicate), so the operator can lose
    * recall but can never remove a non-duplicate.
    *
    * Output: (id, kmeans_cluster, dup_cluster, is_keeper).
    */
  def semDedup(
      emb: DataFrame,
      k: Int,
      tau: Double,
      kmeansIter: Int = 3,
      probe: Int = 2,
      idCol: String = "vec_id"): DataFrame = {
    val s = emb.sparkSession
    val (assigned, centroids) = kmeans(emb, k, kmeansIter, idCol)
    // top-probe cells as ONE literal sort_array+slice expression per
    // vector (r20): the centroids are bounded driver state (kmeans
    // contract, local rows already), so the candidate scoring needs no
    // crossJoin broadcast, no n·k rows, and NO exchange at all — the old
    // TopByAggregator groupBy was the family's last corpus×cells
    // aggregation. Ordering parity with TopBy's (score DESC, id ASC):
    // struct(c_cos, -c_id) sorted DESCENDING ranks NaN first and folds
    // -0.0 like Spark's double ordering (exactly TopBy's comparator) and
    // breaks cosine ties to the smaller id via the negated id.
    val cRows = centroids.collect().toSeq
    val cSchema = centroids.schema
    val cIdx = cSchema.fieldIndex("c_id")
    val vIdx = cSchema.fieldIndex("c_emb")
    val cElem = cSchema(vIdx).dataType
      .asInstanceOf[org.apache.spark.sql.types.ArrayType].elementType
    val scored = array(cRows.map { r =>
      struct(
        cosine(s)(col("embedding"), litVec(r.getSeq[Any](vIdx), cElem)).as("c_cos"),
        (-lit(r.get(cIdx)).cast("long")).as("nid"))
    }: _*)
    // NOT spread (r20, measured): the literal top-probe scoring is a
    // linear n·k kernel, and the within-cell pair join downstream gets
    // its parallelism from its own exchange — spreading here only added
    // an exchange (A/B: semdedup flat-to-slower with it)
    val probed = emb.select(col(idCol), col("embedding"))
      .withColumn("__cands", slice(sort_array(scored, asc = false), 1, probe))
      .select(col(idCol), col("embedding"),
        norm(s)(col("embedding")).as("nrm"), explode(col("__cands")).as("cell0"))
      .select(col(idCol), col("embedding"), col("nrm"),
        (-col("cell0.nid")).as("cell"))
    val a = probed.select(col("cell"), col(idCol).as("d1"),
      col("embedding").as("a_emb"), col("nrm").as("a_nrm"))
    val b = probed.select(col("cell"), col(idCol).as("d2"),
      col("embedding").as("b_emb"), col("nrm").as("b_nrm"))
    // cosine BEFORE the pair-distinct (r20 — see lshPairs): the distinct
    // exchange carries (d1, d2) ids instead of both embeddings; the
    // cosine is identical in every shared-cell copy, so the kept set is
    // value-identical
    val pairs = a.join(b, Seq("cell")).filter(col("d1") < col("d2"))
      .withColumn("cosine", dot(s)(col("a_emb"), col("b_emb")) / (col("a_nrm") * col("b_nrm")))
      .filter(col("cosine") >= tau)
      .select("d1", "d2")
      .dropDuplicates("d1", "d2")
    val cl = TextDedup.clusters(pairs).withColumnRenamed("id", idCol)
    assigned.select(col(idCol), col("cluster").as("kmeans_cluster"))
      .join(cl, Seq(idCol), "left")
      .select(col(idCol), col("kmeans_cluster"),
        coalesce(col("cluster_id"), col(idCol)).as("dup_cluster"))
      .withColumn("is_keeper", (col("dup_cluster") === col(idCol)).cast("int"))
  }

  // ---- Product quantization (Jégou, Douze, Schmid: "Product
  // Quantization for Nearest Neighbor Search", TPAMI 2011) ----

  /** Squared L2 distance via three codegen'd dots — argmin-equivalent to
    * the elementwise form and an order of magnitude faster than a
    * higher-order-function loop in the n·m·ks encode hot path.
    */
  private def l2sq(s: SparkSession)(a: Column, b: Column): Column =
    dot(s)(a, a) + dot(s)(b, b) - lit(2.0) * dot(s)(a, b)

  /** (id, sub_id, sub_vec): each embedding cut into `m` contiguous
    * subvectors of dim/m dims, cast to double once so every downstream
    * distance runs on a uniform type.
    */
  private def subVectors(emb: DataFrame, m: Int, dim: Int, idCol: String): DataFrame = {
    val dsub = dim / m
    // NOT spread (r20, measured): the n·m·ks argmin kernels over these
    // subvectors are linear and the PQ paths are job-tax-bound (70 jobs
    // at sf0.1) — adding a repartition exchange per action made
    // ext_ann_ivf_pq ~30% slower in the A/B
    emb.select(col(idCol),
      posexplode(array((0 until m).map(j =>
        slice(col("embedding"), j * dsub + 1, dsub).cast("array<double>")): _*))
        .as(Seq("sub_id", "sub_vec")))
  }

  /** Nearest-code assignment for a (id, sub_id, sub_vec) frame against a
    * broadcast codebook; ties break on the smaller code id.
    */
  private def assignCodes(subs: DataFrame, codebooks: DataFrame, idCol: String): DataFrame = {
    val s = subs.sparkSession
    // min-struct argmin (see kmeansAssign's max-struct note): one row
    // per (vector, subspace) crosses the exchange instead of one per
    // codebook entry — ks× less shuffle at any corpus size
    subs.join(broadcast(codebooks), Seq("sub_id"))
      .withColumn("d2", l2sq(s)(col("sub_vec"), col("c_vec")))
      .groupBy(col(idCol), col("sub_id"))
      .agg(first(col("sub_vec")).as("sub_vec"),
        min(struct(col("d2"), col("code"))).as("m"))
      .select(col(idCol), col("sub_id"), col("sub_vec"), col("m.code"))
  }

  /** Train per-subspace codebooks: independent Lloyd's k-means (L2, the
    * PQ metric) in each of the `m` subspaces, all subspaces trained in
    * the SAME distributed pass per iteration (one broadcast-assign + one
    * groupBy((sub, code)) — not m separate jobs).
    *
    * Determinism: seeds are the `ks` distinct subvectors with the
    * smallest xxhash64 of their minimum owning id (groupBy(min) before
    * ranking, so duplicate vectors can't make seeding order depend on row
    * arrival); means are summed in DECIMAL(38,18) exactly as [[kmeans]]
    * does, so codebooks and codes are bit-identical at any partitioning.
    * Codebook state is m·ks·(dim/m) = ks·dim doubles — bounded driver
    * collect, same contract as [[kmeans]].
    *
    * Returns (sub_id, code, c_vec).
    */
  def pqCodebooks(
      emb: DataFrame,
      m: Int = 8,
      ks: Int = 16,
      maxIter: Int = 5,
      idCol: String = "vec_id",
      dimHint: Option[Int] = None): DataFrame = {
    val s = emb.sparkSession
    // dimHint (r20, job-count cut): the PQ paths are job-tax-bound (~70
    // jobs for ext_ann_ivf_pq at sf0.1, each ~0.1-0.2 s of fixed action
    // cost); a caller that already probed the vector width passes it in
    // so this head() job — and its twins in pqEncode — run once per
    // query instead of once per stage. None keeps the self-probing
    // behavior; the value is identical either way.
    val dim = dimHint.getOrElse(
      emb.select(size(col("embedding"))).head().getInt(0))
    require(dim % m == 0, s"dim $dim not divisible into $m subspaces")
    val dsub = dim / m
    val subs = subVectors(emb, m, dim, idCol).persist()
    try {
      subs.count() // fill the persist before the iteration fan-out
      val seedW = org.apache.spark.sql.expressions.Window
        .partitionBy(col("sub_id")).orderBy(col("h"), col("seed_id"))
      val cb = subs.groupBy(col("sub_id"), col("sub_vec"))
        .agg(min(col(idCol)).as("seed_id"))
        .withColumn("h", xxhash64(col("seed_id")))
        .withColumn("rk", row_number().over(seedW))
        .filter(col("rk") <= ks)
        .select(col("sub_id"), (col("rk") - 1).cast("int").as("code"),
          col("sub_vec").as("c_vec"))
      val meanCols = (0 until dsub).map(i =>
        (sum(col("sub_vec").getItem(i).cast("decimal(38,18)")) / count(lit(1)))
          .cast("double").as(s"m$i"))
      // NOTE (r20): a literal-expression assignment (one array_min per
      // subspace over the driver-local codebook) was tried here and
      // REVERTED — m·ks l2sq terms inline is ~384
      // vector-dot subexpressions in one generated method, which blows
      // past JIT/codegen method limits and measured ~2× slower than the
      // broadcast-join argmin (ext_ann_pq 5.1 → 9.3 s). The join form
      // stays; kmeansAssignLocal keeps the literal form because its k·3
      // dot terms stay JIT-sized.
      var cbLoop = cb
      for (_ <- 1 to maxIter) {
        val upd = assignCodes(subs, cbLoop, idCol)
          .groupBy(col("sub_id"), col("code"))
          .agg(meanCols.head, meanCols.tail: _*)
          .select(col("sub_id"), col("code"),
            array((0 until dsub).map(i => col(s"m$i")): _*).as("c_vec"))
        // ks·dim doubles: bounded driver action; rebuilding from local
        // rows keeps iteration lineage flat (see kmeans)
        val rows = upd.collect().toSeq
        cbLoop = s.createDataFrame(s.sparkContext.parallelize(rows, 1), upd.schema)
      }
      cbLoop
    } finally subs.unpersist()
  }

  /** Encode each vector as `m` one-byte-ish codes: (id, codes array<int>
    * ordered by subspace). This is the 100 TB storage win — a 64-dim
    * float vector (256 B) compresses to m codes (m B at ks ≤ 256), so a
    * billion-vector index fits where the raw vectors never would.
    */
  def pqEncode(
      emb: DataFrame, codebooks: DataFrame, idCol: String = "vec_id",
      mHint: Option[Int] = None, dimHint: Option[Int] = None): DataFrame = {
    // hints: see pqCodebooks.dimHint — same job-count cut, same values
    val m = mHint.getOrElse(
      codebooks.select(max(col("sub_id"))).head().getInt(0) + 1)
    val dim = dimHint.getOrElse(
      emb.select(size(col("embedding"))).head().getInt(0))
    assignCodes(subVectors(emb, m, dim, idCol), codebooks, idCol)
      .groupBy(col(idCol))
      .agg(transform(array_sort(collect_list(struct(col("sub_id"), col("code")))),
        x => x.getField("code")).as("codes"))
  }

  /** Per-query ADC lookup table: exact d² from each query's subvectors
    * to every code centroid — (q_id, sub_id, code, d2), nq·m·ks rows,
    * broadcast-sized. The single source of truth for ADC scoring,
    * shared by [[pqTopK]] and [[ivfPqTopKIndexed]].
    */
  private def adcLut(
      queries: DataFrame, cb: DataFrame, m: Int, dim: Int,
      idCol: String): DataFrame =
    subVectors(queries, m, dim, idCol)
      .select(col(idCol).as("q_id"), col("sub_id"), col("sub_vec"))
      .join(broadcast(cb), Seq("sub_id"))
      .select(col("q_id"), col("sub_id"), col("code"),
        l2sq(queries.sparkSession)(col("sub_vec"), col("c_vec")).as("d2"))

  /** ADC (asymmetric distance computation) top-k with exact re-rank.
    *
    * Per query, the exact distances from its subvectors to every
    * codebook centroid form an m·ks lookup table; the approximate
    * distance to a database vector is then just the sum of m table
    * entries addressed by its codes — no database vector is ever
    * decoded. Plan shape: the LUT (nq·m·ks rows) broadcasts; exploded
    * codes join it on (sub_id, code) and a partial-aggregatable
    * groupBy((q, id)) sums the m entries — one shuffle, map-side
    * combined. The `rerank·k` ADC survivors (tiny) then join back to the
    * raw vectors for exact cosine ordering, so PQ coarseness costs
    * recall only when the true neighbor falls outside the candidate set,
    * not ranking accuracy inside it.
    *
    * At 100 TB this composes behind [[ivfTopK]]: IVF prunes to nProbe
    * lists, ADC scans those lists' codes — the standard IVFPQ layout.
    * Here the scan side is the whole corpus, the oracle-checkable form.
    *
    * Output matches [[topK]]: (q_id, n_id, rk, cosine).
    */
  def pqTopK(
      emb: DataFrame,
      queries: DataFrame,
      k: Int,
      m: Int = 8,
      ks: Int = 16,
      maxIter: Int = 5,
      rerank: Int = 8,
      idCol: String = "vec_id"): DataFrame = {
    val s = emb.sparkSession
    val dim = emb.select(size(col("embedding"))).head().getInt(0)
    val cb = pqCodebooks(emb, m, ks, maxIter, idCol, Some(dim))
    val codes = pqEncode(emb, cb, idCol, Some(m), Some(dim))
      .select(col(idCol).as("n_id"), posexplode(col("codes")).as(Seq("sub_id", "code")))
    val lut = adcLut(queries, cb, m, dim, idCol)
    val adcW = org.apache.spark.sql.expressions.Window
      .partitionBy("q_id").orderBy(asc("adc_d2"), asc("n_id"))
    val cand = codes.join(broadcast(lut), Seq("sub_id", "code"))
      .filter(col("q_id") =!= col("n_id"))
      .groupBy(col("q_id"), col("n_id"))
      .agg(sum(col("d2")).as("adc_d2"))
      .withColumn("rk", row_number().over(adcW))
      .filter(col("rk") <= k * rerank)
      .select("q_id", "n_id")
    val qn = queries.select(col(idCol).as("q_id"), col("embedding").as("q_emb"))
    val nn = emb.select(col(idCol).as("n_id"), col("embedding").as("n_emb"))
    val finalW = org.apache.spark.sql.expressions.Window
      .partitionBy("q_id").orderBy(desc("cosine"), asc("n_id"))
    cand.join(broadcast(qn), Seq("q_id")).join(nn, Seq("n_id"))
      .withColumn("cosine", cosine(s)(col("q_emb"), col("n_emb")))
      .withColumn("rk", row_number().over(finalW))
      .filter(col("rk") <= k)
      .select("q_id", "n_id", "rk", "cosine")
  }

  /** Persist an IVF index: the inverted lists as parquet PARTITIONED BY
    * `list_id` plus the centroid table alongside. This is the 100 TB ANN
    * deployment shape: the quantization pass runs once, and every probe
    * afterwards reads only its `nProbe` list directories — on the
    * partitioned layout the broadcast probe join triggers dynamic
    * partition pruning, so a 2-of-50-lists probe scans ~4% of the index
    * instead of 100%.
    */
  def writeIvfIndex(
      emb: DataFrame, dir: String,
      centroidStride: Long = 100L, idCol: String = "vec_id"): Unit = {
    writeIvfCentroids(emb, dir, centroidStride, idCol)
    val centroids = emb.sparkSession.read.parquet(s"$dir/centroids")
    // cluster by the partition column before the partitioned write:
    // without it every write task holds rows of every list and emits one
    // fragment file PER (task, list) pair — tasks x lists tiny files
    // (measured 7.2 s for a 2000-row index; ~2x faster clustered, and at
    // corpus scale fragment counts are what kill the probe-side scan)
    //
    // lists live under a batch=base slice so [[appendIvfIndex]] can grow
    // the index with idempotent per-batch slices (same layout contract
    // as the dedup index); list_id stays a partition level, so probe
    // pruning skips unprobed list dirs inside EVERY slice
    writeIvfSlice(emb, centroids, dir, "base", idCol)
  }

  /** Train and persist ONLY the coarse quantizer — the bootstrap half of
    * [[writeIvfIndex]], split out so an ingest loop can train centroids
    * from its first batch and then grow the index purely through
    * [[appendIvfIndex]] slices (no `base` slice that a tag replay could
    * not rewrite).
    */
  def writeIvfCentroids(
      emb: DataFrame, dir: String,
      centroidStride: Long = 100L, idCol: String = "vec_id"): Unit =
    ivfCentroids(emb, centroidStride, idCol)
      .write.mode("overwrite").parquet(s"$dir/centroids")

  private def writeIvfSlice(
      emb: DataFrame, centroids: DataFrame, dir: String, tag: String,
      idCol: String): Unit = {
    require(!tag.contains("/") && tag.nonEmpty, s"bad index batch tag: $tag")
    ivfLists(emb, centroids, idCol)
      .repartition(col("list_id"))
      .write.mode("overwrite").partitionBy("list_id")
      .parquet(s"$dir/lists/batch=$tag")
  }

  /** Append a batch of NEW vectors to a persisted [[writeIvfIndex]]
    * index under the index's FROZEN coarse centroids — the
    * embedding-corpus twin of the dedup ingest loop's index growth
    * (`TextDedup.appendIndexSlicePrecomputed`). The batch is assigned with
    * the same argmax as the base build and lands in its own
    * `batch=<tag>` slice with OVERWRITE semantics, so a replayed ingest
    * batch rewrites its slice instead of duplicating it; probes read the
    * union of slices through partition discovery, still pruned by
    * `list_id` inside every slice.
    *
    * Frozen centroids are the standard serving trade-off: recall
    * degrades only if the NEW data's distribution drifts away from the
    * centroids' training distribution. Watch [[ivfListStats]] for
    * hot-list skew (drifted data piles into few lists, making probes
    * scan more than |corpus|·nProbe/nLists) and rebuild on cadence —
    * the analog of dedup-index compaction.
    */
  def appendIvfIndex(
      spark: SparkSession, newEmb: DataFrame, dir: String,
      batchTag: String, idCol: String = "vec_id"): Unit = {
    val centroids = spark.read.parquet(s"$dir/centroids")
    writeIvfSlice(newEmb, centroids, dir, batchTag, idCol)
  }

  /** Rows per (slice, list) of a persisted IVF index — the monitoring
    * hook for frozen-centroid drift: rising `n` concentration in few
    * lists across recent slices means new data has drifted from the
    * centroid training distribution and the index wants a rebuild.
    */
  def ivfListStats(spark: SparkSession, dir: String): DataFrame =
    spark.read.parquet(s"$dir/lists")
      .groupBy(col("batch"), col("list_id"))
      .agg(count(lit(1)).as("n"))

  /** Merge the slices of an appended IVF (or IVFPQ) index into at most
    * TWO fresh slices at `dstDir` — `base` (the quantizer's training-era
    * mass, copied as-is) and `appended` (every post-training slice
    * folded together) — the embedding analog of
    * `TextDedup.compactIncrementalIndex`, for the same reason: after
    * many [[appendIvfIndex]] ticks, per-probe costs that scale with
    * slice count (partition discovery, one footer per slice file per
    * probed list) creep up at constant data volume. Centroids and
    * codebooks copy verbatim (they are frozen — compaction never
    * re-assigns or re-encodes); lists and codes rows re-cluster by
    * `list_id` so each list lands in ONE file again. Writes to a NEW
    * directory so a concurrent tick never probes a half-compacted index;
    * in the loop, `EmbedIngest.compactIfNeeded` (opt-in `maxSlices`)
    * builds it at the start of a tick and swaps it in through
    * `FsPaths.rebuildAndSwap`.
    *
    * Why not fold everything into `base`: `batch=base` means "mass the
    * current quantizer was trained on" — the drift monitor
    * ([[ivfListStats]], `EmbedIngest.rebuildIfDrifted`) measures
    * hot-list share over the NON-base slices, so a compaction that
    * relabeled appended mass as `base` would erase the drift evidence
    * and an in-loop `maxSlices` trigger could permanently disable the
    * drift response. Only [[rebuildIvfIndex]] (which actually retrains
    * the quantizer) resets mass to `base`. Probe results are unaffected
    * either way — slice labels never reach the ranking.
    */
  def compactIvfIndex(
      spark: SparkSession, srcDir: String, dstDir: String,
      excludeTag: Option[String] = None): Unit = {
    require(
      // Hadoop-qualified comparison, not java.io.File: the index lives
      // wherever parquet does, and scheme'd URI aliases (hdfs://x vs
      // hdfs://x/) must not slip past the guard and overwrite the live
      // index mid-read
      !graft.core.FsPaths.samePath(spark, srcDir, dstDir),
      "compaction must target a fresh directory, not the live index")
    // excludeTag: the crashed-attempt replay contract (graft.core.Slices)
    def slices(table: String) = graft.core.Slices.excludeTag(
      spark.read.parquet(s"$srcDir/$table"), excludeTag)
    // un-sliced layouts (no batch column — the Slices contract's legacy
    // shape, which excludeTag already tolerates) fold to `base`: such
    // mass predates any append, so it IS quantizer-training mass
    def foldTag(df: org.apache.spark.sql.DataFrame): Column =
      if (df.columns.contains("batch"))
        when(col("batch") === "base", lit("base")).otherwise(lit("appended"))
      else lit("base")
    def compactTable(table: String): Unit = {
      val df = slices(table)
      df.withColumn("batch", foldTag(df))
        .repartition(col("batch"), col("list_id"))
        .write.mode("overwrite").partitionBy("batch", "list_id")
        .parquet(s"$dstDir/$table")
    }
    spark.read.parquet(s"$srcDir/centroids")
      .write.mode("overwrite").parquet(s"$dstDir/centroids")
    compactTable("lists")
    if (graft.core.FsPaths.exists(spark, s"$srcDir/codebooks")) {
      spark.read.parquet(s"$srcDir/codebooks")
        .write.mode("overwrite").parquet(s"$dstDir/codebooks")
      compactTable("codes")
    }
  }

  /** Drift response for a frozen-centroid IVF index: RETRAIN the coarse
    * quantizer on the index's CURRENT contents and re-slice everything
    * under the new centroids — what [[ivfListStats]] monitoring asks for
    * once appended batches have drifted from the centroid training
    * distribution (the frozen quantizer then can't subdivide the new
    * mass: drifted ticks pile into few lists, and probe recall for
    * drifted queries decays — measured ladder in PLANS.md). Writes to a
    * fresh directory like [[compactIvfIndex]] (in the loop,
    * `EmbedIngest.rebuildIfDrifted` swaps it in at the start of a tick
    * through `FsPaths.rebuildAndSwap`); unlike
    * compaction the output is NOT probe-identical to the source by
    * design.
    *
    * IVFPQ indexes survive the rebuild: the PQ codebooks are trained on
    * raw subvectors ([[pqCodebooks]] never sees the coarse quantizer),
    * so a coarse retrain leaves them — and every vector's codes —
    * valid; they copy verbatim and the codes merely RE-CLUSTER under
    * the new list assignment so the ADC scan's partition pruning keeps
    * working. The one drift this does NOT cure is codebook-era drift
    * (the subvector distribution itself moving): rebuild that with
    * [[writeIvfPqIndex]] from the raw vectors.
    */
  def rebuildIvfIndex(
      spark: SparkSession, srcDir: String, dstDir: String,
      centroidStride: Long = 100L, idCol: String = "vec_id",
      excludeTag: Option[String] = None): Unit = {
    require(
      !graft.core.FsPaths.samePath(spark, srcDir, dstDir),
      "rebuild must target a fresh directory, not the live index")
    // excludeTag: same replay contract as compactIvfIndex — an in-loop
    // rebuild at the start of tick <tag> must DROP that tag's
    // crashed-attempt slices, or the replayed batch probes its own
    // vectors and silently dedups against itself
    val lists = graft.core.Slices.excludeTag(
      spark.read.parquet(s"$srcDir/lists"), excludeTag)
    val vecs = lists.select(col("n_id").as(idCol), col("n_emb").as("embedding"))
    writeIvfIndex(vecs, dstDir, centroidStride, idCol)
    if (graft.core.FsPaths.exists(spark, s"$srcDir/codebooks")) {
      spark.read.parquet(s"$srcDir/codebooks")
        .write.mode("overwrite").parquet(s"$dstDir/codebooks")
      val newLists = spark.read.parquet(s"$dstDir/lists")
        .select(col("n_id").as(idCol), col("list_id"))
      graft.core.Slices.excludeTag(
          spark.read.parquet(s"$srcDir/codes"), excludeTag)
        .drop("list_id", "batch")
        .join(newLists, Seq(idCol))
        .repartition(col("list_id"))
        .write.mode("overwrite").partitionBy("list_id")
        .parquet(s"$dstDir/codes/batch=base")
    }
  }

  /** Top-k over a persisted [[writeIvfIndex]] index — result-identical to
    * [[ivfTopK]] on the same corpus/stride (pinned in SimilaritySpec),
    * but the corpus scan is replaced by a pruned read of the probed
    * lists.
    */
  def ivfTopKIndexed(
      spark: SparkSession, dir: String, queries: DataFrame,
      k: Int, nProbe: Int = 2, idCol: String = "vec_id",
      excludeBatchTag: Option[String] = None): DataFrame = {
    val centroids = spark.read.parquet(s"$dir/centroids")
    // excludeBatchTag: a replayed ingest tick must not probe its OWN
    // earlier slice (every batch vector is an exact dup of itself there);
    // batch= is a partition level, so exclusion is a directory prune
    val assigned = graft.core.Slices.excludeTag(
      spark.read.parquet(s"$dir/lists"), excludeBatchTag)
    probeLists(assigned, centroids, queries, k, nProbe, idCol)
  }

  /** Persist the full IVFPQ layout (the index a 100 TB ANN service
    * ships): [[writeIvfIndex]]'s centroids + raw inverted lists (the
    * exact-re-rank side), PLUS the trained PQ codebooks and every
    * vector's codes partitioned by `list_id` — so the ADC scan AND the
    * re-rank fetch both read only the probed list directories.
    */
  def writeIvfPqIndex(
      emb: DataFrame, dir: String,
      centroidStride: Long = 100L,
      m: Int = 8, ks: Int = 16, maxIter: Int = 5,
      idCol: String = "vec_id"): Unit = {
    // the coarse index build (centroids → lists) and the PQ codebook
    // training are INDEPENDENT — overlap them from driver threads
    // (guide §2.6; the FIFO scheduler back-fills each side's idle
    // stages); the codes slice needs both and stays after the barrier.
    // Content is unchanged: training is deterministic (exact decimal
    // means) regardless of what runs beside it.
    // probe the vector width ONCE for the whole build (job-count cut,
    // see pqCodebooks.dimHint) — before the fork so neither side re-pays
    val dim = emb.select(size(col("embedding"))).head().getInt(0)
    val cbHolder =
      new java.util.concurrent.atomic.AtomicReference[DataFrame]()
    Actions.inParallel(
      () => writeIvfIndex(emb, dir, centroidStride, idCol),
      () => {
        val cb = pqCodebooks(emb, m, ks, maxIter, idCol, Some(dim))
        cb.write.mode("overwrite").parquet(s"$dir/codebooks")
        cbHolder.set(cb)
      })
    writeCodesSlice(emb, cbHolder.get(), dir, "base", idCol,
      mHint = Some(m), dimHint = Some(dim))
  }

  private[graft] def writeCodesSlice(
      emb: DataFrame, cb: DataFrame, dir: String, tag: String,
      idCol: String,
      mHint: Option[Int] = None, dimHint: Option[Int] = None): Unit = {
    // read the assignment back from the written slice (not recomputed):
    // codes and lists are guaranteed consistent even if the quantizer
    // implementation changes between the two writes
    val lists = emb.sparkSession.read.parquet(s"$dir/lists/batch=$tag")
      .select(col("n_id").as(idCol), col("list_id"))
    pqEncode(emb, cb, idCol, mHint, dimHint)
      .join(lists, Seq(idCol))
      .repartition(col("list_id"))
      .write.mode("overwrite").partitionBy("list_id")
      .parquet(s"$dir/codes/batch=$tag")
  }

  /** IVF-pruned ADC top-k over a persisted [[writeIvfPqIndex]] index —
    * the standard IVFPQ composition: each query ranks the coarse
    * centroids, its `nProbe` probed lists prune the partitioned CODE
    * scan (dynamic partition pruning — [[pqTopK]] scans all codes), ADC
    * sums the broadcast per-query lookup table over the surviving codes,
    * and the `rerank·k` ADC winners re-rank by exact cosine against the
    * raw vectors fetched from the SAME pruned list directories.
    *
    * Output matches [[topK]]: (q_id, n_id, rk, cosine). Recall loses
    * only when a true neighbor's list is unprobed (IVF miss) or it falls
    * out of the ADC candidate set (PQ coarseness) — both pinned vs
    * brute force in SimilaritySpec.
    */
  def ivfPqTopKIndexed(
      spark: SparkSession, dir: String, queries: DataFrame,
      k: Int, nProbe: Int = 2, rerank: Int = 8,
      idCol: String = "vec_id"): DataFrame = {
    val centroids = spark.read.parquet(s"$dir/centroids")
    val cb = spark.read.parquet(s"$dir/codebooks")
    val m = cb.select(max(col("sub_id"))).head().getInt(0) + 1
    val dim = queries.select(size(col("embedding"))).head().getInt(0)
    val q = queries.select(col(idCol).as("q_id"), col("embedding").as("q_emb"))
    // q_emb dropped from the broadcast probe frame: the ADC scan only
    // needs (q_id, list_id); raw query vectors rejoin at the re-rank
    val probes = probeAssignments(centroids, queries, nProbe, idCol)
      .select(col("q_id"), col("list_id"))
    val lut = adcLut(queries, cb, m, dim, idCol)
    val codes = spark.read.parquet(s"$dir/codes")
    val cand = codes.join(broadcast(probes), Seq("list_id"))
      .select(col("q_id"), col("list_id"), col(idCol).as("n_id"),
        posexplode(col("codes")).as(Seq("sub_id", "code")))
      .filter(col("q_id") =!= col("n_id"))
      .join(broadcast(lut), Seq("q_id", "sub_id", "code"))
      .groupBy(col("q_id"), col("n_id"), col("list_id"))
      .agg(sum(col("d2")).as("adc_d2"))
      .withColumn("rk", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy("q_id")
          .orderBy(asc("adc_d2"), asc("n_id"))))
      .filter(col("rk") <= k * rerank)
      .select("q_id", "n_id", "list_id")
    // exact re-rank: the (tiny) survivor set broadcasts against the raw
    // lists, keyed on (list_id, n_id) so the list scan prunes too
    val lists = spark.read.parquet(s"$dir/lists")
    lists
      .join(broadcast(cand.join(broadcast(q), Seq("q_id"))), Seq("list_id", "n_id"))
      .withColumn("cosine", cosine(spark)(col("q_emb"), col("n_emb")))
      .withColumn("rk", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy("q_id")
          .orderBy(desc("cosine"), asc("n_id"))))
      .filter(col("rk") <= k)
      .select("q_id", "n_id", "rk", "cosine")
  }
}
