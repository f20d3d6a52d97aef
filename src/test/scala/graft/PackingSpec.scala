package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.core.Tables
import graft.ops.Packing

/** Training-order layout: deterministic shuffle-shards and context
  * packing on the real corpus.
  */
class PackingSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private val dir = "/root/testdata/sf0.001"
  private lazy val docs = Tables.documents(spark, dir).select("doc_id", "text").cache()

  test("lengthBuckets: floor-division bucket arithmetic, zero-shuffle plan") {
    val df = Seq((1L, "a b c"), (2L, ("w " * 16).trim), (3L, ("w " * 17).trim))
      .toDF("doc_id", "text")
    val out = Packing.lengthBuckets(df, bucketWidth = 16)
    val rows = out.select("doc_id", "n_tokens", "bucket_id", "bucket_lo", "bucket_hi")
      .as[(Long, Long, Long, Long, Long)].collect().toSet
    assert(rows == Set(
      (1L, 3L, 0L, 0L, 15L),
      (2L, 16L, 1L, 16L, 31L),
      (3L, 17L, 1L, 16L, 31L)))
    // map-only: the physical plan must contain no Exchange
    val plan = Packing.lengthBuckets(docs, bucketWidth = 16)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), s"lengthBuckets must be shuffle-free:\n$plan")
  }

  test("shuffleShards: dense 1..n positions per shard, all rows kept") {
    val sh = Packing.shuffleShards(docs, numShards = 4).cache()
    assert(sh.count() == docs.count())
    assert(sh.select("shard_id").distinct().as[Int].collect().toSet.subsetOf((0 until 4).toSet))
    // positions are exactly 1..count(shard) — dense, no gaps or dups
    val ok = sh.groupBy("shard_id")
      .agg(count(lit(1)).as("n"), min("shard_pos").as("mn"),
        max("shard_pos").as("mx"), countDistinct("shard_pos").as("nd"))
      .filter($"mn" === 1 && $"mx" === $"n" && $"nd" === $"n")
    assert(ok.count() == sh.select("shard_id").distinct().count())
  }

  test("shuffleShards: layout is a pure function of content — stable across reshards") {
    def layout(df: org.apache.spark.sql.DataFrame) =
      Packing.shuffleShards(df, numShards = 4)
        .select("doc_id", "shard_id", "shard_pos")
        .as[(Long, Int, Int)].collect().toSet
    assert(layout(docs) == layout(docs.repartition(7)))
  }

  test("chunk: windows tile the token sequence with the configured overlap") {
    val doc = (1 to 10).map(i => s"w$i").mkString(" ")
    val df = Seq((1L, doc), (2L, "a b c"), (3L, (1 to 9).map(i => s"v$i").mkString(" ")))
      .toDF("doc_id", "text")
    val got = Packing.chunk(df, windowLen = 4, stride = 2)
      .select("doc_id", "chunk_idx", "chunk_text", "n_chunk_tokens")
      .as[(Long, Int, String, Int)].collect()
      .groupBy(_._1).view.mapValues(_.sortBy(_._2).map(r => (r._3, r._4)).toSeq).toMap
    // 10 tokens, window 4, stride 2: ceil((10-4)/2)+1 = 4 chunks
    assert(got(1L) == Seq(
      ("w1 w2 w3 w4", 4), ("w3 w4 w5 w6", 4), ("w5 w6 w7 w8", 4), ("w7 w8 w9 w10", 4)))
    // shorter than the window: one (whole) chunk
    assert(got(2L) == Seq(("a b c", 3)))
    // 9 tokens: the tail chunk is short
    assert(got(3L).last == (("v7 v8 v9", 3)) && got(3L).size == 4)
    // coverage: every token position appears in at least one chunk
    val covered = got(1L).flatMap { case (t, _) => t.split(" ").toSeq }.toSet
    assert(covered == (1 to 10).map(i => s"w$i").toSet)
  }

  test("pack: bin arithmetic matches a driver-side replay of the shard order") {
    val sized = docs.withColumn("n_words", size(split($"text", " ")))
    val packed = Packing.pack(sized, contextLen = 512, numShards = 4, sizeCol = "n_words")
      .select("shard_id", "shard_pos", "n_words", "bin_id", "bin_offset")
      .as[(Int, Int, Int, Long, Long)].collect()
    assert(packed.forall { case (_, _, _, _, off) => off >= 0 && off < 512 })
    packed.groupBy(_._1).foreach { case (_, rows) =>
      var cum = 0L
      rows.sortBy(_._2).foreach { case (_, _, n, binId, off) =>
        assert(binId == cum / 512 && off == cum % 512)
        cum += n
      }
    }
  }
}
