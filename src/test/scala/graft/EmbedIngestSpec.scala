package graft

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.core.Tables
import graft.ops.Similarity
import graft.streaming.EmbedIngest

/** The growing embedding-corpus loop (EmbedIngest.ingestTick /
  * incrementalIngest): intra-batch semantic dedup, probe-served dedup
  * against the persisted IVF index, survivors appended as the next
  * ticks' corpus. Fixtures use real corpus embeddings: exact copies
  * (cosine 1, immune to probe approximation) as planted dups, and
  * NEGATED vectors as fresh content (measured max |cosine| vs the
  * corpus ≈ 0.48 across all testdata scales — far under τ=0.8).
  */
class EmbedIngestSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private lazy val emb =
    Tables.embeddings(spark, "/root/testdata/sf0.001")
      .select("vec_id", "embedding").cache()

  private def negated(df: DataFrame, offset: Long): DataFrame =
    df.select((col("vec_id") + offset).as("vec_id"),
      transform(col("embedding"), x => -x).as("embedding"))

  private def copies(df: DataFrame, offset: Long): DataFrame =
    df.select((col("vec_id") + offset).as("vec_id"), col("embedding"))

  private def ids(df: DataFrame): Set[Long] =
    df.select("vec_id").as[Long].collect().toSet

  private def freshDirs(): (String, String) = (
    Files.createTempDirectory("graft_embing_idx").toString,
    Files.createTempDirectory("graft_embing_out").toString)

  test("ingestTick: three layers, and survivors become corpus for the next tick") {
    val (idx, out) = freshDirs()
    val corpus = emb.filter($"vec_id" < 100)
    Similarity.writeIvfIndex(corpus, idx, centroidStride = 20L)
    val b0 = negated(emb.filter($"vec_id" < 20), 1000L)            // fresh
      .unionByName(copies(emb.filter($"vec_id" === 5), 2000L))     // dup of corpus
      .unionByName(negated(emb.filter($"vec_id" === 30), 3000L))   // intra pair a
      .unionByName(negated(emb.filter($"vec_id" === 30), 3100L))   //   ...pair b (dropped)
    val n0 = EmbedIngest.ingestTick(spark, b0, idx, out, "b0", tau = 0.8, nProbe = 2)
    val kept0 = (1000L until 1020L).toSet + 3030L
    assert(n0 == kept0.size.toLong)
    assert(ids(spark.read.parquet(out)) == kept0)

    // tick 2: dups of TICK-1 SURVIVORS drop — only possible if the b0
    // append really grew the index
    val b1 = negated(emb.filter($"vec_id" >= 20 && $"vec_id" < 30), 4000L)
      .unionByName(negated(emb.filter($"vec_id" === 7), 5000L))    // dup of b0 survivor 1007
      .unionByName(copies(emb.filter($"vec_id" === 9), 6000L))     // still dup of seed
    val n1 = EmbedIngest.ingestTick(spark, b1, idx, out, "b1", tau = 0.8, nProbe = 2)
    assert(n1 == 10L)
    assert(ids(spark.read.parquet(out)) == kept0 ++ (4020L until 4030L))
  }

  test("removals are a subset of the exact tau-graph removals vs corpus ∪ earlier") {
    val (idx, out) = freshDirs()
    val corpus = emb.filter($"vec_id" < 100)
    Similarity.writeIvfIndex(corpus, idx, centroidStride = 20L)
    val b0 = negated(emb.filter($"vec_id" < 40), 1000L)
      .unionByName(copies(emb.filter($"vec_id" < 6), 2000L))
    EmbedIngest.ingestTick(spark, b0, idx, out, "b0", tau = 0.8, nProbe = 1): Unit
    val dropped = ids(b0) -- ids(spark.read.parquet(out))
    // exact reference: a dropped batch vector must have an exact-cosine
    // >= tau partner in the corpus or among smaller-id batch members
    val all = corpus.unionByName(b0)
    val exactPairs = Similarity.bruteForcePairs(all, tau = 0.8)
      .select($"a_id", $"b_id").as[(Long, Long)].collect()
    val partnered = exactPairs.flatMap(p => Seq(p._1, p._2)).toSet
    assert(dropped.subsetOf(partnered),
      s"probe-based removals must be exact-graph-justified; rogue: ${dropped -- partnered}")
  }

  test("replaying a tag is a no-op for index stats and output") {
    val (idx, out) = freshDirs()
    val corpus = emb.filter($"vec_id" < 100)
    Similarity.writeIvfIndex(corpus, idx, centroidStride = 20L)
    val b0 = negated(emb.filter($"vec_id" < 15), 1000L)
      .unionByName(copies(emb.filter($"vec_id" === 3), 2000L))
    val n1 = EmbedIngest.ingestTick(spark, b0, idx, out, "b0")
    def snapshot(): (Seq[(String, Long, Long)], Set[Long]) = (
      Similarity.ivfListStats(spark, idx)
        .as[(String, Long, Long)].collect().sortBy(r => (r._1, r._2)).toSeq,
      ids(spark.read.parquet(out)))
    val before = snapshot()
    val n2 = EmbedIngest.ingestTick(spark, b0, idx, out, "b0")
    assert(n2 == n1)
    assert(snapshot() == before)
  }

  test("bootstrap: first tick trains the centroids from its own batch") {
    val (idx, out) = freshDirs()
    val b0 = emb.filter($"vec_id" < 50)
      .unionByName(copies(emb.filter($"vec_id" === 2), 9000L)) // intra dup
    val n0 = EmbedIngest.ingestTick(spark, b0, idx, out, "b0",
      tau = 0.8, nProbe = 2, centroidStride = 10L)
    assert(n0 == 50L)
    assert(new java.io.File(s"$idx/centroids").exists())
    // centroids are frozen afterwards: tick 2 dedups against tick 1
    val b1 = copies(emb.filter($"vec_id" === 17), 9500L)
      .unionByName(negated(emb.filter($"vec_id" === 17), 9600L))
    val n1 = EmbedIngest.ingestTick(spark, b1, idx, out, "b1",
      tau = 0.8, nProbe = 2, centroidStride = 10L)
    assert(n1 == 1L)
    assert(ids(spark.read.parquet(out).filter($"batch" === "b1")) == Set(9617L))
  }

  test("metadata columns ride through the tick to the output corpus") {
    val (idx, out) = freshDirs()
    Similarity.writeIvfIndex(emb.filter($"vec_id" < 100), idx, centroidStride = 20L)
    val b0 = negated(emb.filter($"vec_id" < 5), 1000L)
      .unionByName(copies(emb.filter($"vec_id" === 8), 2000L))
      .withColumn("url", concat(lit("doc://"), $"vec_id"))
    EmbedIngest.ingestTick(spark, b0, idx, out, "b0"): Unit
    val got = spark.read.parquet(out)
      .select("vec_id", "url").as[(Long, String)].collect().toSet
    assert(got == (1000L until 1005L).map(i => (i, s"doc://$i")).toSet)
  }

  test("compactIvfIndex: base/appended fold, identical probes and ticks") {
    val (idx, out) = freshDirs()
    val corpus = emb.filter($"vec_id" < 100)
    Similarity.writeIvfPqIndex(corpus, idx, centroidStride = 20L,
      m = 8, ks = 16, maxIter = 3)
    val b0 = negated(emb.filter($"vec_id" < 20), 1000L)
    IndexSetup.appendIvfPqIndex(spark, b0, idx, "b0")
    val dst = Files.createTempDirectory("graft_embing_compact").toString
    Similarity.compactIvfIndex(spark, idx, dst)
    // post-training mass folds to ONE `appended` slice, never into
    // `base`: base means "quantizer training era", and relabeling
    // appended rows would erase the drift monitor's evidence
    def slices(dir: String, table: String): Set[String] =
      new java.io.File(s"$dir/$table").list().filter(_.startsWith("batch=")).toSet
    assert(slices(dst, "lists") == Set("batch=base", "batch=appended"))
    assert(slices(dst, "codes") == Set("batch=base", "batch=appended"))
    assert(spark.read.parquet(s"$dst/lists")
      .filter($"batch" === "appended").count() == 20L)
    // frozen artifacts copied verbatim; probes identical on both copies
    val queries = emb.filter($"vec_id" < 10)
    def rows(dir: String): Set[(Long, Long, Int)] =
      Similarity.ivfTopKIndexed(spark, dir, queries, k = 10, nProbe = 3)
        .select("q_id", "n_id", "rk").as[(Long, Long, Int)].collect().toSet
    assert(rows(dst) == rows(idx))
    def pqRows(dir: String): Set[(Long, Long, Int)] =
      Similarity.ivfPqTopKIndexed(spark, dir, queries, k = 10, nProbe = 3)
        .select("q_id", "n_id", "rk").as[(Long, Long, Int)].collect().toSet
    assert(pqRows(dst) == pqRows(idx))
    // an identical next tick appends the same survivors to either copy
    val b1 = negated(emb.filter($"vec_id" >= 20 && $"vec_id" < 30), 2000L)
    val outSrc = Files.createTempDirectory("graft_embing_osrc").toString
    val outDst = Files.createTempDirectory("graft_embing_odst").toString
    val nSrc = EmbedIngest.ingestTick(spark, b1, idx, outSrc, "b1")
    val nDst = EmbedIngest.ingestTick(spark, b1, dst, outDst, "b1")
    assert(nSrc == nDst)
    assert(ids(spark.read.parquet(outSrc)) == ids(spark.read.parquet(outDst)))
  }

  test("compactIvfIndex tolerates an un-sliced layout (no batch column)") {
    // the Slices contract's legacy shape: a lists table written without
    // batch= partitioning. Compaction must not fail analysis on the
    // missing column — such mass predates any append, so it folds to
    // `base` (quantizer-training era).
    val (idx, _) = freshDirs()
    val corpus = emb.filter($"vec_id" < 100)
    Similarity.writeIvfIndex(corpus, idx, centroidStride = 20L)
    val flat = spark.read.parquet(s"$idx/lists").drop("batch")
      .localCheckpoint()
    val listsPath = new org.apache.hadoop.fs.Path(s"$idx/lists")
    listsPath.getFileSystem(spark.sessionState.newHadoopConf())
      .delete(listsPath, true): Unit
    flat.write.partitionBy("list_id").parquet(s"$idx/lists")
    val dst = Files.createTempDirectory("graft_embing_unsliced").toString
    Similarity.compactIvfIndex(spark, idx, dst)
    def slices(dir: String): Set[String] =
      new java.io.File(s"$dir/lists").list().filter(_.startsWith("batch=")).toSet
    assert(slices(dst) == Set("batch=base"))
    assert(spark.read.parquet(s"$dst/lists").count() == 100L)
  }

  test("frozen-centroid drift: ivfListStats fires, rebuild restores the probe bill") {
    // Drift scenario (PLANS.md "Round-15: frozen-centroid drift"
    // measurements, L=4 on the sf0.001 embeddings): batches carry a
    // strong shared component on axis 0 that the frozen quantizer never
    // trained on. On this uniform-
    // direction corpus the failure mode is the probe BILL, not recall —
    // the drifted mass piles into one hot list (hotShare 0.64 vs ~0.11
    // balanced), so every drifted query's nProbe=1 scan covers ~37% of
    // the index instead of ~11%. rebuildIvfIndex retrains the quantizer
    // on current contents at a matched list count: per-probe cost falls
    // back to ~1/nLists, and at an equal scan budget (nProbe=3 ≈ the
    // old nProbe=1 bill) recall matches the frozen index (0.61 vs 0.60).
    val (idx, out) = freshDirs()
    val corpus = emb.filter($"vec_id" < 200)
    Similarity.writeIvfIndex(corpus, idx, centroidStride = 20L)
    def drifted(lo: Long, hi: Long, offset: Long): DataFrame =
      emb.filter($"vec_id" >= lo && $"vec_id" < hi)
        .select(($"vec_id" + offset).as("vec_id"),
          transform($"embedding", (x, i) =>
            when(i === 0, lit(4.0f)).otherwise(x)).as("embedding"))
    for (t <- 0 until 3)
      EmbedIngest.ingestTick(spark, drifted(200L + t * 100, 300L + t * 100, 10000L),
        idx, out, s"b$t", tau = 0.99, nProbe = 2): Unit
    // 1. the monitor fires: one list owns most of the drifted slices
    val stats = Similarity.ivfListStats(spark, idx).filter($"batch" =!= "base")
    val driftTotal = stats.agg(sum("n")).as[Long].head().toDouble
    val hotShare = stats.groupBy("list_id").agg(sum("n").as("n"))
      .agg(max("n")).as[Long].head().toDouble / driftTotal
    assert(hotShare >= 0.5, s"drift fixture no longer concentrates: $hotShare")
    // 2. the hot list inflates the per-query probe bill
    val all = corpus.unionByName(
      spark.read.parquet(out).select("vec_id", "embedding"))
    val queries = drifted(0L, 20L, 20000L)
    def scanFrac(dir: String, nProbe: Int): Double = {
      val sizes = spark.read.parquet(s"$dir/lists")
        .groupBy("list_id").agg(count(lit(1)).as("sz"))
      val total = spark.read.parquet(s"$dir/lists").count().toDouble
      Similarity.probeAssignments(spark.read.parquet(s"$dir/centroids"),
          queries, nProbe, "vec_id")
        .select("q_id", "list_id")
        .join(sizes, Seq("list_id"))
        .groupBy("q_id").agg(sum("sz").as("scanned"))
        .agg(avg(col("scanned"))).as[Double].head() / total
    }
    def recall(dir: String, nProbe: Int): Double = {
      val exact = Similarity.topK(all, queries, k = 10).select("q_id", "n_id")
      val got = Similarity.ivfTopKIndexed(spark, dir, queries, k = 10, nProbe)
        .select("q_id", "n_id")
      got.join(exact, Seq("q_id", "n_id"), "left_semi").count().toDouble /
        exact.count().toDouble
    }
    val costBefore = scanFrac(idx, 1)
    val recallBefore = recall(idx, 1)
    assert(costBefore >= 0.25,
      s"drifted nProbe=1 scan should cover >2x the balanced share: $costBefore")
    // 3. rebuild at a matched list count; the bill resets, recall holds
    //    at the equal-cost budget (measured 0.136 / 0.61-vs-0.60; floors
    //    carry margin per the measure-first recipe)
    val idx2 = java.nio.file.Files.createTempDirectory("graft_embing_rebuild").toString
    Similarity.rebuildIvfIndex(spark, idx, idx2, centroidStride = 55L)
    assert(scanFrac(idx2, 1) <= 0.2, "rebuild must deflate the probe bill")
    val costAfter3 = scanFrac(idx2, 3)
    val recallAfter3 = recall(idx2, 3)
    assert(costAfter3 <= costBefore + 0.1,
      s"nProbe=3 on the rebuilt index should cost ~the old nProbe=1: $costAfter3")
    assert(recallAfter3 >= recallBefore - 0.1 && recallAfter3 >= 0.5,
      s"equal-budget recall regressed: $recallAfter3 vs $recallBefore")
  }

  test("rebuildIfDrifted: hot-share trigger, replay exclusion, loop continuity") {
    val (idx, out) = freshDirs()
    val corpus = emb.filter($"vec_id" < 200)
    Similarity.writeIvfIndex(corpus, idx, centroidStride = 20L)
    def drifted(lo: Long, hi: Long, offset: Long): DataFrame =
      emb.filter($"vec_id" >= lo && $"vec_id" < hi)
        .select(($"vec_id" + offset).as("vec_id"),
          transform($"embedding", (x, i) =>
            when(i === 0, lit(4.0f)).otherwise(x)).as("embedding"))
    // two drifted ticks pile into the hot list (hotShare >= 0.5 measured)
    for (t <- 0 until 2)
      EmbedIngest.ingestTick(spark, drifted(200L + t * 100, 300L + t * 100, 10000L),
        idx, out, s"b$t", tau = 0.99, nProbe = 2): Unit
    // below the minRows guard: no rebuild even though the share is high
    assert(!EmbedIngest.rebuildIfDrifted(spark, idx, hotShareThreshold = 0.4,
      centroidStride = 55L, currentTag = "b2", minRows = 100000L))
    // crashed-attempt simulation: b2's slice exists but the tick never
    // committed — the rebuild must drop it, not fold it in
    Similarity.appendIvfIndex(spark, drifted(400L, 420L, 30000L), idx, "b2")
    assert(EmbedIngest.rebuildIfDrifted(spark, idx, hotShareThreshold = 0.4,
      centroidStride = 55L, currentTag = "b2", minRows = 100L))
    def slices(): Set[String] =
      new java.io.File(s"$idx/lists").list().filter(_.startsWith("batch=")).toSet
    assert(slices() == Set("batch=base"), "rebuild must re-slice to base")
    val nIndexed = spark.read.parquet(s"$idx/lists").count()
    assert(nIndexed == 400L, // 200 corpus + 2x100 survivors, b2 dropped
      s"crashed b2 slice must be excluded from the rebuild, got $nIndexed")
    // the replayed tick survives against the rebuilt index: its own
    // vectors are gone, dups of pre-rebuild survivors still drop
    val replay = drifted(400L, 420L, 30000L)                 // fresh (was the crash)
      .unionByName(drifted(210L, 215L, 40000L))              // dups of b0 survivors
    val n = EmbedIngest.ingestTick(spark, replay, idx, out, "b2",
      tau = 0.99, nProbe = 2)
    assert(n == 20L, s"replay across the rebuild lost/duplicated vectors: $n")
    // monitor state after rebuild: appended mass is just b2 now
    assert(!EmbedIngest.rebuildIfDrifted(spark, idx, hotShareThreshold = 0.4,
      centroidStride = 55L, currentTag = "b3", minRows = 100L))
  }

  test("incrementalIngest stream: micro-batches dedup against all earlier survivors") {
    val (idx, out) = freshDirs()
    val ckpt = Files.createTempDirectory("graft_embing_ckpt").toString
    val corpus = emb.filter($"vec_id" < 100)
    Similarity.writeIvfIndex(corpus, idx, centroidStride = 20L)
    val fix = negated(emb.filter($"vec_id" < 3), 1000L)
      .select("vec_id", "embedding").as[(Long, Seq[Float])].collect().toSeq
    val corpusDup = copies(emb.filter($"vec_id" === 50), 2000L)
      .select("vec_id", "embedding").as[(Long, Seq[Float])].collect().toSeq
    implicit val ctx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val source = MemoryStream[(Long, Seq[Float])]
    // maxSlices=0 ("no loose slices tolerated") also exercises the
    // in-loop compaction wiring: at the second micro-batch b0 is a
    // loose slice beyond the base/currentTag floor, crossing the
    // trigger, so the loop compacts-and-swaps before its tick
    val q = EmbedIngest.incrementalIngest(
      source.toDF().toDF("vec_id", "embedding"), idx, out, ckpt,
      tau = 0.8, nProbe = 2, maxSlices = Some(0))
    try {
      source.addData(fix ++ corpusDup: _*)
      q.processAllAvailable()
      // wave 2: dup of a wave-1 survivor + novel content
      source.addData((fix.head._1 + 100L, fix.head._2),
        (negated(emb.filter($"vec_id" === 60), 3000L)
          .select("vec_id", "embedding").as[(Long, Seq[Float])].head()))
      q.processAllAvailable()
    } finally q.stop()
    assert(ids(spark.read.parquet(out)) == Set(1000L, 1001L, 1002L, 3060L))
    // the compaction wiring ran: b0 was folded into `appended` (not left
    // as its own slice), so the survivors are {base, appended, b1} —
    // compaction keeps post-training mass out of `base` for the drift
    // monitor
    val names = graft.core.FsPaths
      .childNames(spark, s"$idx/lists", "batch=").toSet
    assert(names == Set("batch=base", "batch=appended", "batch=b1"),
      s"maxSlices=0 stream never compacted: $names")
  }

  test("incrementalIngest stream drops a crashed tag's leftovers WITHOUT maxSlices") {
    // pre-crash simulation: batch b0's lists slice landed but the tick
    // never committed (no checkpoint offset). The replayed b0 must (a)
    // not dedup against its own crashed vectors, and (b) find the
    // leftover slice deleted at tick start even though neither a
    // compaction nor a rebuild trigger is configured — the per-tick
    // dropCrashedTag contract (the embedding twin of IngestLoopSpec's
    // text-loop case).
    val (idx, out) = freshDirs()
    val ckpt = Files.createTempDirectory("graft_embing_crashckpt").toString
    Similarity.writeIvfIndex(emb.filter($"vec_id" < 100), idx, centroidStride = 20L)
    val fresh = negated(emb.filter($"vec_id" < 3), 1000L)
    Similarity.appendIvfIndex(spark, fresh, idx, "b0")
    val rows = fresh.select("vec_id", "embedding").as[(Long, Seq[Float])].collect().toSeq
    val corpusDup = copies(emb.filter($"vec_id" === 50), 2000L)
      .select("vec_id", "embedding").as[(Long, Seq[Float])].head()
    implicit val ctx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val source = MemoryStream[(Long, Seq[Float])]
    val q = EmbedIngest.incrementalIngest(
      source.toDF().toDF("vec_id", "embedding"), idx, out, ckpt,
      tau = 0.8, nProbe = 2)
    try {
      source.addData(rows :+ corpusDup: _*) // fresh SURVIVE, the dup drops
      q.processAllAvailable()
    } finally q.stop()
    assert(ids(spark.read.parquet(out)) == Set(1000L, 1001L, 1002L),
      "replayed batch deduped against its own crashed slice or lost the dup check")
    // the replay's own committed slice is the only b0 slice left, and
    // the crashed rows did not accumulate next to it
    val b0 = spark.read.parquet(s"$idx/lists").filter($"batch" === "b0")
    assert(b0.count() == 3L)
    assert(b0.select("n_id").as[Long].collect().toSet == Set(1000L, 1001L, 1002L))
  }

  test("rebuildIvfIndex preserves the PQ halves of an IVFPQ index") {
    val (idx, _) = freshDirs()
    val corpus = emb.filter($"vec_id" < 100)
    Similarity.writeIvfPqIndex(corpus, idx, centroidStride = 20L,
      m = 8, ks = 16, maxIter = 3)
    val b0 = negated(emb.filter($"vec_id" < 20), 1000L)
      .unionByName(copies(emb.filter($"vec_id" === 3), 2000L))
    IndexSetup.appendIvfPqIndex(spark, b0, idx, "b0")
    val dst = Files.createTempDirectory("graft_embing_pqrb").toString
    Similarity.rebuildIvfIndex(spark, idx, dst, centroidStride = 30L)
    // codebooks are coarse-quantizer-independent (trained on raw
    // subvectors) — they must survive the rebuild verbatim
    def cb(dir: String): DataFrame = spark.read.parquet(s"$dir/codebooks")
    assert(cb(dst).exceptAll(cb(idx)).count() == 0L
      && cb(idx).exceptAll(cb(dst)).count() == 0L)
    // every vector's codes survive, re-clustered under the NEW lists
    val lists = spark.read.parquet(s"$dst/lists")
      .select($"n_id", $"list_id".as("l_lid"))
    val codes = spark.read.parquet(s"$dst/codes")
      .select($"vec_id", $"list_id".as("c_lid"))
    assert(codes.count() == 121L) // 100 corpus + 20 negated + 1 copy
    assert(lists.join(codes, $"n_id" === $"vec_id")
      .filter($"l_lid" =!= $"c_lid").count() == 0L,
      "codes must re-cluster to the rebuilt list assignment")
    // the ADC serving path works against the rebuilt index: an exact
    // twin of a corpus vector is its own nearest neighbor at cosine ~1
    val q = copies(emb.filter($"vec_id" === 3), 9000L)
    val top = Similarity.ivfPqTopKIndexed(spark, dst, q, k = 1, nProbe = 2)
      .select("n_id", "cosine").as[(Long, Double)].collect()
    assert(top.nonEmpty && Set(3L, 2003L).contains(top.head._1)
      && top.head._2 > 0.999, s"got ${top.toSeq}")
  }

  test("in-loop compaction preserves the drift monitor's evidence") {
    val (idx, out) = freshDirs()
    Similarity.writeIvfIndex(emb.filter($"vec_id" < 200), idx,
      centroidStride = 20L)
    def drifted(lo: Long, hi: Long, offset: Long): DataFrame =
      emb.filter($"vec_id" >= lo && $"vec_id" < hi)
        .select(($"vec_id" + offset).as("vec_id"),
          transform($"embedding", (x, i) =>
            when(i === 0, lit(4.0f)).otherwise(x)).as("embedding"))
    for (t <- 0 until 2)
      EmbedIngest.ingestTick(spark, drifted(200L + t * 100, 300L + t * 100, 10000L),
        idx, out, s"b$t", tau = 0.99, nProbe = 2): Unit
    // maintenance order of a small-batch loop: compaction folds the
    // drifted slices BEFORE the appended mass ever reaches minRows
    assert(EmbedIngest.compactIfNeeded(spark, idx, maxSlices = 1,
      currentTag = "b2"))
    def sliceNames(): Set[String] =
      new java.io.File(s"$idx/lists").list().filter(_.startsWith("batch=")).toSet
    assert(sliceNames() == Set("batch=base", "batch=appended"))
    // the folded `appended` slice is still drift evidence: the rebuild
    // trigger must fire on it (with the old fold-into-base behavior the
    // evidence was erased and the response permanently disabled)
    assert(EmbedIngest.rebuildIfDrifted(spark, idx, hotShareThreshold = 0.4,
      centroidStride = 55L, currentTag = "b2", minRows = 100L),
      "compaction must not erase the drift evidence")
    assert(sliceNames() == Set("batch=base"))
    assert(spark.read.parquet(s"$idx/lists").count() == 400L)
  }

  test("incrementalIngest: the drift rebuild runs in the loop before the next tick") {
    val (idx, out) = freshDirs()
    val ckpt = Files.createTempDirectory("graft_embing_rbckpt").toString
    Similarity.writeIvfIndex(emb.filter($"vec_id" < 200), idx,
      centroidStride = 50L)
    def drifted(lo: Long, hi: Long, offset: Long) =
      emb.filter($"vec_id" >= lo && $"vec_id" < hi)
        .select(($"vec_id" + offset).as("vec_id"),
          transform($"embedding", (x, i) =>
            when(i === 0, lit(4.0f)).otherwise(x)).as("embedding"))
        .as[(Long, Seq[Float])].collect().toSeq
    implicit val ctx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val source = MemoryStream[(Long, Seq[Float])]
    val q = EmbedIngest.incrementalIngest(
      source.toDF().toDF("vec_id", "embedding"), idx, out, ckpt,
      tau = 0.99, nProbe = 2, centroidStride = 50L,
      rebuildHotShare = Some(0.2), rebuildMinRows = 50L)
    try {
      source.addData(drifted(200L, 300L, 10000L): _*) // b0: ~100 drifted rows append
      q.processAllAvailable()
      source.addData(drifted(300L, 310L, 20000L): _*) // b1: rebuild fires first
      q.processAllAvailable()
    } finally q.stop()
    // the rebuild re-sliced the seed and b0's survivors into `base`, and
    // b1 appended on top of the rebuilt index
    val names = graft.core.FsPaths
      .childNames(spark, s"$idx/lists", "batch=").toSet
    assert(names == Set("batch=base", "batch=b1"), names.toString)
    assert(spark.read.parquet(s"$idx/lists").count() ==
      200L + spark.read.parquet(out).count())
  }
}
