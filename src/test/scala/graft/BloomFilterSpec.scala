package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.BloomFilter
import graft.ops.TextDedup

/** Bloom-filter build/probe contract: no false negatives ever, a bounded
  * false-positive rate, partitioning-independent bits, and result
  * invisibility when used as the incremental-dedup prefilter. */
class BloomFilterSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private val m = 1 << 14
  private val k = 5

  test("no false negatives: every inserted key probes true") {
    val keys = (0 until 500).map(i => s"key_$i")
    val df = keys.toDF("key")
    val bloom = BloomFilter.build(df, col("key"), m, k)
    val probed = df.filter(BloomFilter.mightContain(bloom, col("key"), m, k)).count()
    assert(probed == 500L, "a Bloom filter must never reject an inserted key")
  }

  test("false-positive rate stays near the design envelope") {
    val bloom = BloomFilter.build(
      (0 until 500).map(i => s"key_$i").toDF("key"), col("key"), m, k)
    // theoretical fpp = (1 - e^(-kn/m))^k ~ 5.7e-5 here; 2000 absent
    // probes should see ~0 positives — assert a generous 1% ceiling so
    // the test pins the mechanism, not the random draw
    val absent = (0 until 2000).map(i => s"other_$i").toDF("key")
    val fp = absent.filter(BloomFilter.mightContain(bloom, col("key"), m, k)).count()
    assert(fp <= 20, s"false-positive count $fp exceeds 1% of 2000 probes")
  }

  test("bits are a pure function of the key set, not the partitioning") {
    val keys = (0 until 300).map(i => s"key_$i")
    val one = BloomFilter.build(keys.toDF("key").coalesce(1), col("key"), m, k)
    val many = BloomFilter.build(keys.toDF("key").repartition(7), col("key"), m, k)
    assert(java.util.Arrays.equals(one, many),
      "OR-merge must make the filter partitioning-independent")
  }

  test("incremental dedup with the bloom prefilter returns exactly the anti-join result") {
    val corpus = (0 until 60).map(i => (i.toLong, s"corpus doc number $i with words"))
      .toDF("doc_id", "text")
    val batch = (
      (100 until 130).map(i => (i.toLong, s"fresh doc $i unlike anything")) ++
      (0 until 10).map(i => (1000L + i, s"corpus doc number $i with words"))) // exact dups
      .toDF("doc_id", "text")
    val plain = TextDedup.incrementalSurvivors(batch, corpus, k = 2, tau = 0.8)
      .select("doc_id").as[Long].collect().toSet
    val bloomed = TextDedup.incrementalSurvivors(batch, corpus, k = 2, tau = 0.8,
      bloomBits = Some(1 << 12))
      .select("doc_id").as[Long].collect().toSet
    assert(bloomed == plain)
    assert(plain.nonEmpty && !plain.exists(_ >= 1000L), "exact dups must be dropped")
  }

  test("null keys: the build skips them and the bloom path still equals the anti-join") {
    // 'changes cost, never the answer': a corpus with null text must not
    // crash the aggregator (UTF8String.fromString(null) would NPE) —
    // null never equi-joins, so skipping it in the build is lossless
    val corpus = ((0 until 20).map(i => (i.toLong, s"corpus doc number $i with words"))
      :+ (999L, null.asInstanceOf[String])).toDF("doc_id", "text")
    val batch = (
      (100 until 110).map(i => (i.toLong, s"fresh doc $i unlike anything")) ++
      Seq((2000L, "corpus doc number 3 with words"), // exact dup
        (2001L, null.asInstanceOf[String])))        // null text in the batch too
      .toDF("doc_id", "text")
    val plain = TextDedup.incrementalSurvivors(batch, corpus, k = 2, tau = 0.8)
      .select("doc_id").as[Long].collect().toSet
    val bloomed = TextDedup.incrementalSurvivors(batch, corpus, k = 2, tau = 0.8,
      bloomBits = Some(1 << 12))
      .select("doc_id").as[Long].collect().toSet
    assert(bloomed == plain)
    assert(!plain.contains(2000L), "exact dup must be dropped")
  }

  test("indexed incremental dedup equals the self-contained form (with and without bloom)") {
    // the deployment shape: corpus hashed/shingled once into a parquet
    // index, ticks read the index — must be result-identical to the
    // self-contained operator on the same corpus, with or without its
    // bloom prefilter
    val corpus = ((0 until 60).map(i => (i.toLong, s"corpus doc number $i with words"))
      ++ (900 until 903).map(i => (i.toLong, s"corpus doc number 1 with words extra")))
      .toDF("doc_id", "text")
    val batch = (
      (100 until 130).map(i => (i.toLong, s"fresh doc $i unlike anything")) ++
      (0 until 10).map(i => (1000L + i, s"corpus doc number $i with words")) ++   // exact dups
      Seq((3000L, "corpus doc number 7 with words also")))                        // near dup
      .toDF("doc_id", "text")
    val idx = java.nio.file.Files.createTempDirectory("graft_incr_idx").toString
    TextDedup.writeIncrementalIndex(corpus, idx, k = 2)
    def ids(df: org.apache.spark.sql.DataFrame): Set[Long] =
      df.select("doc_id").as[Long].collect().toSet
    val direct = ids(TextDedup.incrementalSurvivors(batch, corpus, k = 2, tau = 0.8))
    val indexed = ids(TextDedup.incrementalSurvivorsIndexed(spark, batch, idx, tau = 0.8))
    assert(indexed == direct)
    val directBloom = ids(TextDedup.incrementalSurvivors(batch, corpus, k = 2, tau = 0.8,
      bloomBits = Some(1 << 12)))
    assert(indexed == directBloom)
    // semantics: exact dups (1000–1009) and the J≈0.83 near-dup (3000)
    // dropped, all 30 fresh docs kept
    assert(direct == (100L until 130L).toSet)
  }
}
