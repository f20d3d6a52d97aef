package graft.ops

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
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
    *  - QUADRATIC consumers only. The linear kernels (nearest-centroid
    *    assignment in k-means, IVF and PQ, probe ranking, topK) are
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
      k: Int, nProbe: Int = 2, idCol: String = "vec_id"): DataFrame = {
    val cents = centroidRows(centroids) // one collect: lists and probes
    probeLists(ivfLists(emb, cents, idCol), cents, queries, k, nProbe, idCol)
  }

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

  /** Every vector's inverted list: its nearest coarse centroid
    * ([[kmeansAssign]]), as the IVF columns (n_id, n_emb, list_id).
    */
  private def ivfLists(emb: DataFrame, cents: Seq[Row], idCol: String): DataFrame =
    assignNearest(emb, cents, idCol)
      .select(col(idCol).as("n_id"), col("embedding").as("n_emb"), col("cluster").as("list_id"))

  /** Rank the coarse centroids per query and keep the top `nProbe`
    * assignments: (q_id, q_emb, list_id), ties to the smallest centroid
    * id. The single source of truth for probe ranking, shared by the
    * exact-IVF and IVFPQ paths so a metric or tie-break change cannot
    * silently diverge them.
    */
  private[graft] def probeAssignments(
      centroids: DataFrame, queries: DataFrame, nProbe: Int,
      idCol: String): DataFrame =
    probeNearest(centroidRows(centroids), queries, nProbe, idCol)

  /** [[probeAssignments]] against driver-held centroid rows. */
  private def probeNearest(
      cents: Seq[Row], queries: DataFrame, nProbe: Int, idCol: String): DataFrame =
    // map-side: no exchange, whatever the query or centroid count
    queries.select(col(idCol).as("q_id"), col("embedding").as("q_emb"),
      explode(nearestCentroids(queries.sparkSession)(
        col("embedding"), cents, nProbe, "cosine")).as("list_id"))

  /** Each query probes its `nProbe` nearest lists; candidates are scored
    * exactly and ranked per query.
    */
  private def probeLists(
      assigned: DataFrame, cents: Seq[Row], queries: DataFrame,
      k: Int, nProbe: Int, idCol: String): DataFrame = {
    val s = assigned.sparkSession
    val probes = probeNearest(cents, queries, nProbe, idCol)
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

  /** The long ids of the `n` centroids nearest `vec`, best first, as an
    * array column — the one nearest-centroid search, behind k-means and
    * IVF list assignment, probe ranking, SemDeDup's cells and PQ
    * training and encoding: the native `nearest_centroids` over
    * driver-held (int or long id, float or double vector) rows `cents`.
    * Ties go to the smaller id ([[graft.functions.NearestCentroids]]
    * gives the exact order). The rows become plan literals, so they are
    * bounded driver state: k·dim doubles, like spark.ml's KMeans.
    */
  private def nearestCentroids(s: SparkSession)(
      vec: Column, cents: Seq[Row], n: Int, metric: String): Column =
    GraftExtensions.nearestCentroids(s, vec,
      typedLit(cents.map(_.getSeq[Number](1).map(_.doubleValue))),
      lit(cents.map(_.getAs[Number](0).longValue).toArray), n, metric)

  /** A one-partition frame of collected (hence schema-carrying) rows. */
  private def localFrame(s: SparkSession, rows: Seq[Row]): DataFrame =
    s.createDataFrame(s.sparkContext.parallelize(rows, 1), rows.head.schema)

  /** Assign every vector to its highest-cosine centroid, ties to the
    * smallest centroid id: (id, embedding, cluster), `cluster` typed like
    * `c_id`. The centroids are collected to the driver (k is small by
    * construction) and scored map-side by [[nearestCentroids]], so the
    * assignment plans no exchange at any k; an empty centroid set
    * assigns NULL. NOT spread (r20, measured): n·k is a light linear
    * kernel; a repartition's exchange + extra AQE stage cost more than it
    * saves (ext_kmeans_assign 0.23→0.35 s, ivf_indexed +0.4 s in the A/B).
    */
  def kmeansAssign(emb: DataFrame, centroids: DataFrame, idCol: String = "vec_id"): DataFrame =
    assignNearest(emb, centroidRows(centroids), idCol)

  /** A (c_id, c_emb) centroid frame collected to the driver. */
  private def centroidRows(centroids: DataFrame): Seq[Row] =
    centroids.select("c_id", "c_emb").collect().toSeq

  private def assignNearest(emb: DataFrame, cents: Seq[Row], idCol: String): DataFrame = {
    val cluster = nearestCentroids(emb.sparkSession)(col("embedding"), cents, 1, "cosine")
      .getItem(0)
    emb.select(col(idCol), col("embedding"),
      // typed like c_id (the ids cross the kernel as long)
      cents.headOption.fold(cluster)(c => cluster.cast(c.schema("c_id").dataType)).as("cluster"))
  }

  /** Deterministic k-means‖-style seeding (Bahmani et al. 2012, VLDB —
    * "Scalable k-means++" — with the random distance-proportional draw
    * replaced by a deterministic farthest-batch selection):
    *
    *   1. seed 0 = the vector with the smallest xxhash64(id);
    *   2. `rounds` (fixed at 3) oversampling passes, each drawing
    *      `oversample·k` (4·k) vectors by DISTANCE-PROPORTIONAL priority
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
    * driver arithmetic on sorted candidates. Returns the seed rows
    * (c_id, c_emb), held on the driver for [[kmeans]]' first round.
    */
  private def kmeansInitParallel(emb: DataFrame, k: Int, idCol: String): Seq[Row] = {
    val s = emb.sparkSession
    val (rounds, oversample) = (3, 4)
    // NOT spread (r20, measured): each oversampling round's n·|cands|
    // kernel is linear in the corpus and each round is its own action, so
    // a repartition re-pays its exchange every round — the A/B read the
    // kmeans-family consumers flat-to-slower with the spread
    val sel = emb.select(col(idCol).as("c_id"), col("embedding").as("c_emb"),
      xxhash64(col(idCol)).as("h"))
    var cands = Seq(sel.orderBy(col("h"), col("c_id")).limit(1).drop("h").head())
    def candFrame = localFrame(s, cands)
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
    def cos(a: Array[Double], b: Array[Double]): Double = {
      var dot = 0.0; var na = 0.0; var nb = 0.0; var i = 0
      while (i < a.length) { dot += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i); i += 1 }
      if (na == 0.0 || nb == 0.0) 0.0 else dot / math.sqrt(na * nb)
    }
    val byId = cands.sortBy(r => r.getLong(0)).toArray
    val vs = byId.map(_.getSeq[Number](1).map(_.doubleValue).toArray)
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
    chosen.toSeq
  }

  /** Lloyd's k-means over the embedding column (cosine assignment,
    * per-dimension mean update) — the clustering stage of SemDeDup-style
    * curation and of building a LEARNED IVF quantizer (vs
    * [[ivfCentroids]]' sampled one).
    *
    * Determinism at any partitioning (the repo-wide bit-determinism
    * contract): the mean is summed in DECIMAL(38,18) — exact, hence
    * shuffle-order-independent — and only divided/cast to double at the
    * end; assignment ties break on centroid id. Seeding is
    * [[kmeansInitParallel]] (constant cluster rounds).
    *
    * Scale shape: per iteration one aggregation job — the map-side
    * [[nearestCentroids]] assignment, then one groupBy(k)·dim exchange;
    * the centroids (bounded driver state) are collected each round and
    * feed the next round's assignment as literals, so plan lineage stays
    * flat without checkpointing. A cluster that loses all members drops
    * out (k may shrink); fixed `maxIter` rounds, no convergence probe —
    * the assignment stabilizes long before the means stop drifting at
    * the precision that matters here.
    *
    * Returns (assignments: id, embedding, cluster; centroids: c_id, c_emb).
    */
  def kmeans(
      emb: DataFrame,
      k: Int,
      maxIter: Int = 5,
      idCol: String = "vec_id"): (DataFrame, DataFrame) = {
    val rows = lloydCentroids(emb, k, maxIter, idCol)
    (assignNearest(emb, rows, idCol), localFrame(emb.sparkSession, rows))
  }

  /** [[kmeans]]' centroid rows (c_id, c_emb), held on the driver. */
  private def lloydCentroids(emb: DataFrame, k: Int, maxIter: Int, idCol: String): Seq[Row] = {
    // NOT spread (r20, measured): each Lloyd round's n·k assignment
    // kernel is linear and each round is its own collect action — a
    // repartition re-pays its exchange every round for a kernel that is
    // milliseconds at this k (A/B: kmeans consumers flat-to-slower)
    var rows = kmeansInitParallel(emb, k, idCol)
    val dim = rows.head.getSeq[Any](1).length
    val meanCols = (0 until dim).map(i =>
      (sum(col("embedding").getItem(i).cast("decimal(38,18)")) / count(lit(1)))
        .cast("double").as(s"m$i"))
    for (_ <- 1 to maxIter) {
      rows = assignNearest(emb, rows, idCol)
        .groupBy(col("cluster").as("c_id"))
        .agg(meanCols.head, meanCols.tail: _*)
        .select(col("c_id"), array((0 until dim).map(i => col(s"m$i")): _*).as("c_emb"))
        .collect().toSeq
    }
    rows
  }

  /** SemDeDup (Abbas et al. 2023): k-means-bucketed embedding dedup —
    * cluster the corpus, generate cosine ≥ tau candidate pairs only
    * within shared cells, connected-components them, keep each dup
    * group's minimum id. The k-means cells play the role LSH buckets play
    * in [[lshPairs]]: candidate volume is Σ cell² · probe², never n², and
    * the cell count scales with the corpus so cells stay bounded. The
    * cells and the top-1 `kmeans_cluster` come from the same map-side
    * nearest-centroid search as [[kmeansAssign]], against the final Lloyd
    * centroids the driver already holds.
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
    val cents = lloydCentroids(emb, k, kmeansIter, idCol)
    // each vector's top-`probe` cells, scored map-side against the
    // driver-held centroids: no n·k rows and no exchange. NOT spread
    // (r20, measured): a linear n·k kernel, and the within-cell pair join
    // downstream gets its parallelism from its own exchange — spreading
    // here only added an exchange (A/B: semdedup flat-to-slower with it)
    val probed = emb.select(col(idCol), col("embedding"),
      norm(s)(col("embedding")).as("nrm"),
      explode(nearestCentroids(s)(col("embedding"), cents, probe, "cosine")).as("cell"))
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
    assignNearest(emb, cents, idCol).select(col(idCol), col("cluster").as("kmeans_cluster"))
      .join(cl, Seq(idCol), "left")
      .select(col(idCol), col("kmeans_cluster"),
        coalesce(col("cluster_id"), col(idCol)).as("dup_cluster"))
      .withColumn("is_keeper", (col("dup_cluster") === col(idCol)).cast("int"))
  }

  // ---- Product quantization (Jégou, Douze, Schmid: "Product
  // Quantization for Nearest Neighbor Search", TPAMI 2011) ----

  /** (id, sub_id, sub_vec): each embedding cut into `m` contiguous
    * subvectors of dim/m dims, cast to double once so every downstream
    * distance runs on a uniform type.
    */
  private[graft] def subVectors(emb: DataFrame, m: Int, dim: Int, idCol: String): DataFrame = {
    val dsub = dim / m
    // NOT spread (r20, measured): the n·m·ks nearest-code kernels over
    // these subvectors are linear and the PQ paths are job-tax-bound (70 jobs
    // at sf0.1) — adding a repartition exchange per action made
    // ext_ann_ivf_pq ~30% slower in the A/B
    emb.select(col(idCol),
      posexplode(array((0 until m).map(j =>
        slice(col("embedding"), j * dsub + 1, dsub).cast("array<double>")): _*))
        .as(Seq("sub_id", "sub_vec")))
  }

  /** Codebook rows (sub_id, code, c_vec) as per-subspace (code, c_vec)
    * rows, subspace j at index j. */
  private def bySubspace(cb: Seq[Row]): IndexedSeq[Seq[Row]] = {
    val subs = cb.groupBy(_.getInt(0))
    (0 to subs.keys.max).map(j => subs(j).map(r => Row(r.getInt(1), r.get(2))))
  }

  /** The nearest code to subvector `sub` in one subspace's codebook:
    * squared L2, ties to the smaller code. */
  private def nearestCode(s: SparkSession)(sub: Column, codes: Seq[Row]): Column =
    nearestCentroids(s)(sub, codes, 1, "l2sq").getItem(0).cast("int")

  /** (m, dim) of the vectors a codebook encodes. */
  private def pqShape(cb: Seq[Row]): (Int, Int) = {
    val m = cb.map(_.getInt(0)).max + 1
    (m, m * cb.head.getSeq[Any](2).length)
  }

  /** Train per-subspace codebooks: independent Lloyd's k-means (L2, the
    * PQ metric) in each of the `m` subspaces, all subspaces trained in
    * the SAME distributed pass per iteration ([[codebookRound]]: a
    * map-side nearest-code assignment against the driver-held codebook,
    * then one groupBy((sub, code)) exchange and a collect — not m
    * separate jobs).
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
      idCol: String = "vec_id"): DataFrame =
    localFrame(emb.sparkSession, trainCodebooks(emb, m, ks, maxIter, idCol))

  /** [[pqCodebooks]]' rows, held on the driver. */
  private def trainCodebooks(
      emb: DataFrame, m: Int, ks: Int, maxIter: Int, idCol: String): Seq[Row] = {
    val dim = emb.select(size(col("embedding"))).head().getInt(0)
    require(dim % m == 0, s"dim $dim not divisible into $m subspaces")
    val subs = subVectors(emb, m, dim, idCol).persist()
    try {
      val seedW = org.apache.spark.sql.expressions.Window
        .partitionBy(col("sub_id")).orderBy(col("h"), col("seed_id"))
      val seeds = subs.groupBy(col("sub_id"), col("sub_vec"))
        .agg(min(col(idCol)).as("seed_id"))
        .withColumn("h", xxhash64(col("seed_id")))
        .withColumn("rk", row_number().over(seedW))
        .filter(col("rk") <= ks)
        .select(col("sub_id"), (col("rk") - 1).cast("int").as("code"),
          col("sub_vec").as("c_vec"))
      // ks·dim doubles: a bounded driver collect per round, which also
      // keeps iteration lineage flat (see kmeans); the seeds' collect
      // fills the persist the rounds read
      var rows = seeds.collect().toSeq
      for (_ <- 1 to maxIter) rows = codebookRound(subs, rows).collect().toSeq
      rows
    } finally subs.unpersist()
  }

  /** One Lloyd round of [[pqCodebooks]] over a [[subVectors]] frame:
    * each subvector's nearest code in its own subspace's codebook `cb`
    * (one [[nearestCentroids]] call per subspace, so code size grows with
    * m only), then the per-(sub_id, code) decimal means — the round's one
    * exchange. Returns (sub_id, code, c_vec).
    */
  private[graft] def codebookRound(subs: DataFrame, cb: Seq[Row]): DataFrame = {
    val s = subs.sparkSession
    val dsub = cb.head.getSeq[Any](2).length
    val book = bySubspace(cb)
    val code = book.indices.tail.foldLeft(
        when(col("sub_id") === 0, nearestCode(s)(col("sub_vec"), book(0)))) { (w, j) =>
      w.when(col("sub_id") === j, nearestCode(s)(col("sub_vec"), book(j)))
    }
    val meanCols = (0 until dsub).map(i =>
      (sum(col("sub_vec").getItem(i).cast("decimal(38,18)")) / count(lit(1)))
        .cast("double").as(s"m$i"))
    subs.select(col("sub_id"), col("sub_vec"), code.as("code"))
      .groupBy(col("sub_id"), col("code"))
      .agg(meanCols.head, meanCols.tail: _*)
      .select(col("sub_id"), col("code"),
        array((0 until dsub).map(i => col(s"m$i")): _*).as("c_vec"))
  }

  /** Encode each vector as `m` one-byte-ish codes: (id, codes array<int>
    * ordered by subspace). This is the 100 TB storage win — a 64-dim
    * float vector (256 B) compresses to m codes (m B at ks ≤ 256), so a
    * billion-vector index fits where the raw vectors never would. The
    * codebook is collected to the driver; m and the subvector width come
    * from its rows, and encoding is map-side, with no exchange.
    */
  def pqEncode(emb: DataFrame, codebooks: DataFrame, idCol: String = "vec_id"): DataFrame =
    encodeRows(emb, codebooks.select("sub_id", "code", "c_vec").collect().toSeq, idCol)

  private def encodeRows(emb: DataFrame, cb: Seq[Row], idCol: String): DataFrame = {
    val (m, dim) = pqShape(cb)
    val dsub = dim / m
    val book = bySubspace(cb)
    emb.select(col(idCol), array((0 until m).map(j =>
      nearestCode(emb.sparkSession)(
        slice(col("embedding"), j * dsub + 1, dsub), book(j))): _*).as("codes"))
  }

  /** Per-query ADC lookup table: exact d² from each query's subvectors
    * to every code centroid — (q_id, sub_id, code, d2), nq·m·ks rows,
    * broadcast-sized. The single source of truth for ADC scoring,
    * shared by [[pqTopK]] and [[ivfPqTopKIndexed]]; d² is
    * `nearest_centroids`' l2sq arithmetic, three codegen'd dots.
    */
  private def adcLut(
      queries: DataFrame, cb: DataFrame, m: Int, dim: Int,
      idCol: String): DataFrame = {
    val d = dot(queries.sparkSession) _
    subVectors(queries, m, dim, idCol)
      .select(col(idCol).as("q_id"), col("sub_id"), col("sub_vec"))
      .join(broadcast(cb), Seq("sub_id"))
      .select(col("q_id"), col("sub_id"), col("code"),
        (d(col("sub_vec"), col("sub_vec")) + d(col("c_vec"), col("c_vec")) -
          lit(2.0) * d(col("sub_vec"), col("c_vec"))).as("d2"))
  }

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
    val cb = trainCodebooks(emb, m, ks, maxIter, idCol)
    val codes = encodeRows(emb, cb, idCol)
      .select(col(idCol).as("n_id"), posexplode(col("codes")).as(Seq("sub_id", "code")))
    val lut = adcLut(queries, localFrame(s, cb), m, pqShape(cb)._2, idCol)
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
    ivfLists(emb, centroidRows(centroids), idCol)
      .repartition(col("list_id"))
      .write.mode("overwrite").partitionBy("list_id")
      .parquet(s"$dir/lists/batch=$tag")
  }

  /** Append a batch of NEW vectors to a persisted [[writeIvfIndex]]
    * index under the index's FROZEN coarse centroids — the
    * embedding-corpus twin of the dedup ingest loop's index growth
    * (`TextDedup.appendIndexSlicePrecomputed`). The batch is assigned with
    * the same nearest-centroid search as the base build and lands in its own
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
    val cents = centroidRows(spark.read.parquet(s"$dir/centroids"))
    // excludeBatchTag: a replayed ingest tick must not probe its OWN
    // earlier slice (every batch vector is an exact dup of itself there);
    // batch= is a partition level, so exclusion is a directory prune
    val assigned = graft.core.Slices.excludeTag(
      spark.read.parquet(s"$dir/lists"), excludeBatchTag)
    probeLists(assigned, cents, queries, k, nProbe, idCol)
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
    val cbHolder =
      new java.util.concurrent.atomic.AtomicReference[DataFrame]()
    Actions.inParallel(
      () => writeIvfIndex(emb, dir, centroidStride, idCol),
      () => {
        val cb = pqCodebooks(emb, m, ks, maxIter, idCol)
        cb.write.mode("overwrite").parquet(s"$dir/codebooks")
        cbHolder.set(cb)
      })
    writeCodesSlice(emb, cbHolder.get(), dir, "base", idCol)
  }

  private[graft] def writeCodesSlice(
      emb: DataFrame, cb: DataFrame, dir: String, tag: String,
      idCol: String): Unit = {
    // read the assignment back from the written slice (not recomputed):
    // codes and lists are guaranteed consistent even if the quantizer
    // implementation changes between the two writes
    val lists = emb.sparkSession.read.parquet(s"$dir/lists/batch=$tag")
      .select(col("n_id").as(idCol), col("list_id"))
    pqEncode(emb, cb, idCol)
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
    val (m, dim) = pqShape(cb.select("sub_id", "code", "c_vec").collect().toSeq)
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
