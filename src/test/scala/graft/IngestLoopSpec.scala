package graft

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.scalatest.funsuite.AnyFunSuite

import graft.ops.TextDedup
import graft.streaming.DedupStream

/** The continuously-growing deduped corpus loop
  * (DedupStream.ingestTick / incrementalIngest): each tick dedups a
  * batch intra-batch (exact + near), against the persisted index
  * (exact + near), appends its survivors to the index, and writes them
  * to the output — so later ticks see earlier survivors as corpus.
  * Replay of a tag must be a no-op (overwrite-per-slice idempotency).
  *
  * Texts follow the BloomFilterSpec fixture: "... with words" vs
  * "... with words also" is J = 5/6 ≈ 0.83 ≥ τ=0.8 on word bigrams.
  */
class IngestLoopSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private def ids(df: DataFrame): Set[Long] =
    df.select("doc_id").as[Long].collect().toSet

  private def freshDirs(): (String, String) = (
    Files.createTempDirectory("graft_ingest_idx").toString,
    Files.createTempDirectory("graft_ingest_out").toString)

  private val corpus =
    (0 until 40).map(i => (i.toLong, s"corpus doc number $i with words"))
      .toDF("doc_id", "text")

  test("ingestTick: three dedup layers, and survivors become corpus for the next tick") {
    val (idx, out) = freshDirs()
    TextDedup.writeIncrementalIndex(corpus, idx, k = 2)
    val b0 = (
      (100 until 110).map(i => (i.toLong, s"fresh doc $i unlike anything")) ++
      Seq(
        (200L, "corpus doc number 3 with words"),        // exact dup of corpus
        (201L, "corpus doc number 7 with words also"),   // near dup of corpus
        (210L, "intra exact pair payload with words"),   // intra-batch exact pair:
        (211L, "intra exact pair payload with words"),   //   only min-id 210 survives
        (220L, "intra near pair payload with words"),    // intra-batch near pair:
        (221L, "intra near pair payload with words also") //  only min-id 220 survives
      )).toDF("doc_id", "text")
    val n0 = DedupStream.ingestTick(spark, b0, idx, out, "b0", k = 2, tau = 0.8)
    val kept0 = (100L until 110L).toSet ++ Set(210L, 220L)
    assert(n0 == kept0.size.toLong)
    assert(ids(spark.read.parquet(out)) == kept0)

    // tick 2: dups of TICK-1 SURVIVORS must now be dropped — the only way
    // that happens is the b0 append actually grew the index
    val b1 = Seq(
      (300L, "fresh doc 105 unlike anything"),         // exact dup of a b0 survivor
      (301L, "intra near pair payload with words also"), // near dup of b0 survivor 220
      (302L, "corpus doc number 5 with words"),        // still dropped vs seed corpus
      (310L, "genuinely new material with words")
    ).toDF("doc_id", "text")
    val n1 = DedupStream.ingestTick(spark, b1, idx, out, "b1", k = 2, tau = 0.8)
    assert(n1 == 1L)
    assert(ids(spark.read.parquet(out)) == kept0 + 310L)
  }

  test("ingestTick equals the self-contained operator over seed ∪ earlier survivors") {
    val (idx, out) = freshDirs()
    TextDedup.writeIncrementalIndex(corpus, idx, k = 2)
    val b0 = (100 until 115).map(i => (i.toLong, s"settled doc $i from batch zero"))
      .toDF("doc_id", "text")
    DedupStream.ingestTick(spark, b0, idx, out, "b0", k = 2, tau = 0.8): Unit
    val grown = corpus.unionByName(
      spark.read.parquet(out).select("doc_id", "text"))
    val b1 = (
      (400 until 410).map(i => (i.toLong, s"second wave doc $i with payload")) ++
      Seq((500L, "settled doc 103 from batch zero"),      // exact vs b0 survivor
        (501L, "settled doc 104 from batch zero also"),   // near vs b0 survivor
        (502L, "corpus doc number 2 with words"))         // exact vs seed
      ).toDF("doc_id", "text")
    val expected = ids(
      TextDedup.incrementalSurvivors(b1, grown, k = 2, tau = 0.8))
    DedupStream.ingestTick(spark, b1, idx, out, "b1", k = 2, tau = 0.8): Unit
    val got = ids(spark.read.parquet(out)
      .filter($"batch" === "b1").select("doc_id"))
    assert(got == expected)
    assert(expected == (400L until 410L).toSet)
  }

  test("replaying a tag is a no-op: index slices and output are rewritten, not duplicated") {
    val (idx, out) = freshDirs()
    TextDedup.writeIncrementalIndex(corpus, idx, k = 2)
    val b0 = ((100 until 108).map(i => (i.toLong, s"replay test doc $i with body")) :+
      (200L, "corpus doc number 1 with words")).toDF("doc_id", "text")
    val n1 = DedupStream.ingestTick(spark, b0, idx, out, "b0", k = 2, tau = 0.8)
    def snapshot(): (Long, Long, Long, Set[Long]) = (
      spark.read.parquet(s"$idx/hashes").count(),
      spark.read.parquet(s"$idx/shingles").count(),
      spark.read.parquet(s"$idx/df").groupBy("shingle")
        .agg(org.apache.spark.sql.functions.sum("df")).count(),
      ids(spark.read.parquet(out)))
    val before = snapshot()
    // the foreachBatch retry contract: same data, same tag, run again
    val n2 = DedupStream.ingestTick(spark, b0, idx, out, "b0", k = 2, tau = 0.8)
    assert(n2 == n1)
    assert(snapshot() == before,
      "a replayed tag must overwrite its own slices, never duplicate them")
  }

  test("bootstrap from an empty seed corpus, and an empty tick is harmless") {
    val (idx, out) = freshDirs()
    TextDedup.writeIncrementalIndex(corpus.limit(0), idx, k = 2)
    val b0 = (100 until 105).map(i => (i.toLong, s"first ever doc $i of corpus"))
      .toDF("doc_id", "text")
    val n0 = DedupStream.ingestTick(spark, b0, idx, out, "b0", k = 2, tau = 0.8)
    assert(n0 == 5L)
    val nEmpty = DedupStream.ingestTick(
      spark, b0.limit(0), idx, out, "b1", k = 2, tau = 0.8)
    assert(nEmpty == 0L)
    // the index still serves after an empty slice landed
    val b2 = Seq((200L, "first ever doc 102 of corpus"),
      (201L, "unrelated new text entirely")).toDF("doc_id", "text")
    DedupStream.ingestTick(spark, b2, idx, out, "b2", k = 2, tau = 0.8): Unit
    assert(ids(spark.read.parquet(out)) == (100L until 105L).toSet + 201L)
  }

  test("metadata columns ride through the tick to the output corpus") {
    val (idx, out) = freshDirs()
    TextDedup.writeIncrementalIndex(corpus, idx, k = 2)
    val b0 = ((100 until 105).map(i => (i.toLong, s"meta test doc $i with body")) :+
      (200L, "corpus doc number 2 with words"))
      .toDF("doc_id", "text")
      .withColumn("url", org.apache.spark.sql.functions.concat(
        org.apache.spark.sql.functions.lit("doc://"), $"doc_id"))
    DedupStream.ingestTick(spark, b0, idx, out, "b0", k = 2, tau = 0.8): Unit
    val got = spark.read.parquet(out)
      .select("doc_id", "url").as[(Long, String)].collect().toSet
    assert(got == (100L until 105L).map(i => (i, s"doc://$i")).toSet)
  }

  test("compactIncrementalIndex: one base slice, identical serving results") {
    val (idx, out) = freshDirs()
    TextDedup.writeIncrementalIndex(corpus, idx, k = 2)
    val b0 = (100 until 110).map(i => (i.toLong, s"compacted doc $i with words"))
      .toDF("doc_id", "text")
    val b1 = (200 until 210).map(i => (i.toLong, s"second slice doc $i with body"))
      .toDF("doc_id", "text")
    DedupStream.ingestTick(spark, b0, idx, out, "b0", k = 2, tau = 0.8): Unit
    DedupStream.ingestTick(spark, b1, idx, out, "b1", k = 2, tau = 0.8): Unit
    val dst = Files.createTempDirectory("graft_ingest_compact").toString
    TextDedup.compactIncrementalIndex(spark, idx, dst)
    // re-layout only: every table collapses to the single base slice...
    def slices(table: String): Set[String] =
      new java.io.File(s"$dst/$table").list().filter(_.startsWith("batch=")).toSet
    assert(slices("hashes") == Set("batch=base"))
    assert(slices("shingles") == Set("batch=base"))
    assert(slices("df") == Set("batch=base"))
    // ...with identical content as the reader sees it
    assert(spark.read.parquet(s"$dst/hashes").select("__h").as[String].collect().sorted.toSeq ==
      spark.read.parquet(s"$idx/hashes").select("__h").as[String].collect().sorted.toSeq)
    assert(spark.read.parquet(s"$dst/df").select("shingle", "df")
        .as[(String, Long)].collect().sortBy(_._1).toSeq ==
      spark.read.parquet(s"$idx/df").groupBy("shingle")
        .agg(org.apache.spark.sql.functions.sum("df").as("df"))
        .as[(String, Long)].collect().sortBy(_._1).toSeq)
    // an identical next tick serves the same survivors from either copy
    val b2 = Seq(
      (300L, "compacted doc 103 with words"),      // exact dup of a b0 survivor
      (301L, "second slice doc 204 with body also"), // near dup of a b1 survivor
      (302L, "corpus doc number 9 with words"),    // exact dup of seed
      (310L, "untouched novel payload with words")
    ).toDF("doc_id", "text")
    val outSrc = Files.createTempDirectory("graft_ingest_osrc").toString
    val outDst = Files.createTempDirectory("graft_ingest_odst").toString
    val nSrc = DedupStream.ingestTick(spark, b2, idx, outSrc, "b2", k = 2, tau = 0.8)
    val nDst = DedupStream.ingestTick(spark, b2, dst, outDst, "b2", k = 2, tau = 0.8)
    assert(nSrc == nDst)
    assert(ids(spark.read.parquet(outSrc)) == ids(spark.read.parquet(outDst)))
    assert(ids(spark.read.parquet(outDst)) == Set(310L))
  }

  test("lengthCap upstream bounds a pathological doc before the tick") {
    val (idx, out) = freshDirs()
    TextDedup.writeIncrementalIndex(corpus, idx, k = 2)
    val huge = (0 until 200000).map(i => s"w$i").mkString(" ")
    val batch = Seq(
      (100L, huge),
      (101L, "ordinary sized doc with words")).toDF("doc_id", "text")
    val capped = graft.ops.Curation.lengthCap(batch, maxTokens = 64)
      .select("doc_id", "text")
    val n = DedupStream.ingestTick(spark, capped, idx, out, "b0", k = 2, tau = 0.8)
    assert(n == 2L)
    // the capped doc entered the index truncated: its shingle footprint
    // is bounded by maxTokens, not the original 200k tokens
    val sh = spark.read.parquet(s"$idx/shingles")
      .filter($"doc_id" === 100L).count()
    assert(sh <= 63L)
  }

  test("ingestTick maxTokens: the length cap holds at the operator boundary") {
    val (idx, out) = freshDirs()
    TextDedup.writeIncrementalIndex(corpus, idx, k = 2)
    val huge = (0 until 200000).map(i => s"w$i").mkString(" ")
    val batch = Seq(
      (100L, huge),
      (101L, "ordinary sized doc with words")).toDF("doc_id", "text")
    // no upstream lengthCap — the tick's own maxTokens must bound it
    val n = DedupStream.ingestTick(spark, batch, idx, out, "b0",
      k = 2, tau = 0.8, maxTokens = Some(64))
    assert(n == 2L)
    val sh = spark.read.parquet(s"$idx/shingles")
      .filter($"doc_id" === 100L).count()
    assert(sh <= 63L, "pathological doc must enter the index truncated")
    // output schema stays the batch schema (audit columns dropped)
    assert(spark.read.parquet(out).columns.toSet == Set("doc_id", "text", "batch"))
  }

  test("compactIfNeeded: trigger, swap, and replay idempotence across the swap") {
    val (idx, out) = freshDirs()
    TextDedup.writeIncrementalIndex(corpus, idx, k = 2)
    def tick(tag: String, docs: Seq[(Long, String)]): Long =
      DedupStream.ingestTick(spark, docs.toDF("doc_id", "text"),
        idx, out, tag, k = 2, tau = 0.8)
    tick("b0", Seq((100L, "first wave novel payload with words")))
    tick("b1", Seq((200L, "second wave novel payload with words")))
    def slices() = graft.core.FsPaths.childNames(spark, s"$idx/hashes", "batch=").size
    assert(slices() == 3) // base + b0 + b1
    // below the trigger (2 loose slices, 3 tolerated): no-op
    assert(!DedupStream.compactIfNeeded(spark, idx, maxSlices = 3, currentTag = "b2"))
    // at the boundary (2 loose, 2 tolerated): still a no-op — the floor
    // slices (base, the current tag) never count against maxSlices
    assert(!DedupStream.compactIfNeeded(spark, idx, maxSlices = 2, currentTag = "b2"))
    // crashed-attempt simulation: b2's index slices were written but the
    // tick never committed; compaction at replay start must DROP them
    IndexSetup.appendIncrementalIndex(
      Seq((300L, "third wave novel payload with words")).toDF("doc_id", "text"),
      idx, "b2", k = 2)
    assert(slices() == 4) // base + b0 + b1 + crashed b2
    // the crashed leftover is dropped even when the compaction trigger
    // does NOT fire — a cheap delete, not a wait-for-next-compaction
    assert(!DedupStream.compactIfNeeded(spark, idx, maxSlices = 99, currentTag = "b2"))
    assert(slices() == 3, "crashed b2 must be deleted by the no-op check")
    IndexSetup.appendIncrementalIndex(
      Seq((300L, "third wave novel payload with words")).toDF("doc_id", "text"),
      idx, "b2", k = 2) // re-create the leftover for the firing path
    assert(DedupStream.compactIfNeeded(spark, idx, maxSlices = 1, currentTag = "b2"))
    assert(slices() == 1, "compaction must fold committed slices into base")
    assert(spark.read.parquet(s"$idx/hashes").count() ==
      corpus.count() + 2, "the crashed b2 slice must be dropped, not folded")
    // the replayed tick now runs against the compacted index: its docs
    // must SURVIVE (not dedup against their own crashed write) and dups
    // of pre-compaction survivors must still drop
    val n2 = tick("b2", Seq(
      (300L, "third wave novel payload with words"),
      (301L, "first wave novel payload with words"),  // dup of b0 survivor
      (302L, "corpus doc number 6 with words")))      // dup of seed
    assert(n2 == 1L, "replay across the swap lost or duplicated documents")
    assert(ids(spark.read.parquet(out)) == Set(100L, 200L, 300L))
    // post-swap index serves the same answers: replaying b2 again is a no-op
    assert(tick("b2", Seq(
      (300L, "third wave novel payload with words"),
      (301L, "first wave novel payload with words"),
      (302L, "corpus doc number 6 with words"))) == 1L)
    assert(ids(spark.read.parquet(out)) == Set(100L, 200L, 300L))
  }

  test("incrementalIngest stream with maxSlices matches the uncompacted run") {
    val (idxA, outA) = freshDirs()
    val (idxB, outB) = freshDirs()
    TextDedup.writeIncrementalIndex(corpus, idxA, k = 2)
    TextDedup.writeIncrementalIndex(corpus, idxB, k = 2)
    implicit val ctx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val waves = Seq(
      Seq((100L, "stream alpha novel content with words"),
        (101L, "corpus doc number 2 with words")),
      Seq((200L, "stream beta novel content with words"),
        (201L, "stream alpha novel content with words also")),
      Seq((300L, "stream gamma novel content with words"),
        (301L, "stream beta novel content with words")))
    def run(idx: String, outDir: String, maxSlices: Option[Int]): Set[Long] = {
      val ckpt = Files.createTempDirectory("graft_ingest_ckpt").toString
      val source = MemoryStream[(Long, String)]
      val q = DedupStream.incrementalIngest(
        source.toDF().toDF("doc_id", "text"), idx, outDir, ckpt,
        k = 2, tau = 0.8, maxSlices = maxSlices)
      try {
        waves.foreach { w => source.addData(w: _*); q.processAllAvailable() }
      } finally q.stop()
      ids(spark.read.parquet(outDir))
    }
    val plain = run(idxA, outA, None)
    val compacted = run(idxB, outB, Some(1))
    assert(compacted == plain)
    assert(compacted == Set(100L, 200L, 300L))
    // the compacting run actually compacted: slice count stayed bounded
    assert(graft.core.FsPaths.childNames(spark, s"$idxB/hashes", "batch=").size <=
      2, "maxSlices=1 run never compacted")
  }

  test("incrementalIngest stream drops a crashed tag's leftovers WITHOUT maxSlices") {
    // pre-crash simulation: batch b0's index slices landed but the tick
    // never committed (no checkpoint offset). The replayed b0 must (a)
    // not dedup against its own crashed write, and (b) find the
    // leftover slices DELETED at tick start even though no compaction
    // trigger is configured — the per-tick dropCrashedTag contract.
    val (idx, out) = freshDirs()
    val ckpt = Files.createTempDirectory("graft_ingest_crashckpt").toString
    TextDedup.writeIncrementalIndex(corpus, idx, k = 2)
    IndexSetup.appendIncrementalIndex(
      Seq((100L, "crashed wave novel payload with words")).toDF("doc_id", "text"),
      idx, "b0", k = 2)
    assert(graft.core.FsPaths.childNames(spark, s"$idx/hashes", "batch=").size == 2)
    implicit val ctx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val source = MemoryStream[(Long, String)]
    val q = DedupStream.incrementalIngest(
      source.toDF().toDF("doc_id", "text"), idx, out, ckpt, k = 2, tau = 0.8)
    try {
      source.addData(
        (100L, "crashed wave novel payload with words"), // must SURVIVE the replay
        (101L, "corpus doc number 3 with words"))        // dup vs seed -> dropped
      q.processAllAvailable()
    } finally q.stop()
    assert(ids(spark.read.parquet(out)) == Set(100L),
      "replayed batch deduped against its own crashed slice or lost the dup check")
    // the replay's own committed slice is the only b0 slice left: the
    // crashed one was deleted, then overwritten by the tick's append
    assert(graft.core.FsPaths.childNames(spark, s"$idx/hashes", "batch=").size == 2)
    assert(spark.read.parquet(s"$idx/hashes").count() == corpus.count() + 1,
      "crashed leftover rows must not accumulate next to the replay's write")
  }

  test("incrementalIngest stream: micro-batches dedup against all earlier survivors") {
    val (idx, out) = freshDirs()
    val ckpt = Files.createTempDirectory("graft_ingest_ckpt").toString
    TextDedup.writeIncrementalIndex(corpus, idx, k = 2)
    implicit val ctx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val source = MemoryStream[(Long, String)]
    val q = DedupStream.incrementalIngest(
      source.toDF().toDF("doc_id", "text"), idx, out, ckpt, k = 2, tau = 0.8)
    try {
      source.addData(
        (100L, "streamed doc one hundred with body"),
        (101L, "streamed doc one oh one with body"),
        (102L, "corpus doc number 4 with words"))        // dup vs seed -> dropped
      q.processAllAvailable()
      source.addData(
        (200L, "streamed doc one hundred with body"),    // exact dup vs batch-0 survivor
        (201L, "streamed doc one oh one with body also"),// near dup vs batch-0 survivor
        (202L, "stream wave two novel content"))
      q.processAllAvailable()
    } finally q.stop()
    val outDf = spark.read.parquet(out)
    assert(ids(outDf) == Set(100L, 101L, 202L))
    // batch provenance: survivors landed under their own micro-batch tag
    assert(outDf.filter($"batch" === "b1").count() == 1L)
  }
}
