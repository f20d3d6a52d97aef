package perfbench

import java.io.File

import scala.util.Random

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types._

import graft.ops.TextDedup
import graft.streaming.DedupStream

/** `text_ingest`: `DedupStream.incrementalIngest` over a file stream of
  * seeded document batches, one batch per trigger, against a persisted
  * shingle index that every trigger grows.
  *
  * Every document comes from the engine's sf0.1 `documents` table (5,000
  * documents of 10–100 words over a 31-word vocabulary; a copy is in
  * `perfbench/data/`). The seed corpus is a seeded sample of the table.
  * A batch's fresh documents are table documents drawn without repetition
  * from the ones that are neither repeated nor near-duplicates in the
  * table (no two of them reach Jaccard 0.23 on word bigrams), with every
  * token rewritten by a batch suffix, so they share no shingle with
  * anything before. Planted in each batch: exact copies of seed
  * documents, of the previous batch's fresh documents and of its own fresh
  * documents, and one-word edits of seed and previous-batch documents of at
  * least 30 words (Jaccard ≥ 0.87 on word bigrams, above τ = 0.8).
  */
object TextIngest {

  private final case class Size(seedDocs: Int, fresh: Int, seedExact: Int, prevExact: Int,
      intraExact: Int, seedNear: Int, prevNear: Int, warmupOps: Int)
  private val Full = Size(2000, 320, 20, 20, 10, 15, 15, warmupOps = 1)
  private val Tiny = Size(300, 80, 5, 5, 2, 4, 4, warmupOps = 1)

  /** Compaction runs when more than this many tick slices accumulate:
    * every third trigger. */
  private val MaxSlices = 2

  val schema: StructType = StructType(Seq(
    StructField("doc_id", LongType), StructField("text", StringType)))

  /** Near-duplicate sources have at least this many words. */
  private val NearMinWords = 30

  def run(spark: SparkSession, args: Main.Args, sessionS: Double): Main.Result = {
    import spark.implicits._
    val (table, loadS) = Main.time(
      spark.read.parquet(new File(args.data, "documents.parquet").getPath)
        .orderBy("doc_id").select("text").as[String].collect())
    IngestLoop.run(spark, args, sessionS, loadS,
      new Docs(spark, args.seed, if (args.tiny) Tiny else Full, table))
  }

  private final class Docs(spark: SparkSession, seed: Long, size: Size, table: Array[String])
      extends IngestLoop.Spec {
    val schema: StructType = TextIngest.schema
    val idCol = "doc_id"
    val indexTable = "hashes"
    val warmupOps: Int = size.warmupOps

    private val vocab: Array[String] = table.flatMap(_.split(' ')).distinct.sorted
    /** Fresh-document sources: the table's documents that occur once and
      * carry no `dup` token (the table's own planted near-duplicates and
      * the documents they copy). */
    private val pool: Array[String] = {
      val once = table.groupBy(identity).collect { case (t, a) if a.length == 1 => t }.toSet
      table.filter(t => once(t) && !t.split(' ').contains("dup"))
    }
    private var corpus = Array.empty[String]
    private var prev = Array.empty[String]
    private var prevTag = ""

    private def tagged(text: String, tag: String): String = text.split(' ').map(_ + tag).mkString(" ")

    /** Replace one inner word with another word of the same batch. */
    private def nearOf(r: Random, text: String, tag: String): String = {
      val w = text.split(' ')
      val p = 1 + r.nextInt(w.length - 2)
      var nw = w(p)
      while (nw == w(p)) nw = vocab(r.nextInt(vocab.length)) + tag
      w(p) = nw
      w.mkString(" ")
    }

    private def write(file: File, rows: Seq[(Long, String)]): File =
      Inputs.writeLines(file, rows.map { case (id, t) => s"""{"doc_id":$id,"text":"$t"}""" })

    def seed(dir: File, index: String): Long = {
      val r = new Random(seed ^ 0x5eedL)
      corpus = r.shuffle(table.toVector).take(size.seedDocs).toArray
      val f = write(new File(dir, "corpus.json"), corpus.indices.map(i => (i.toLong, corpus(i))))
      TextDedup.writeIncrementalIndex(spark.read.schema(schema).json(f.getPath), index, k = 2)
      prev = corpus
      prevTag = ""
      f.length()
    }

    def batch(i: Int, dir: File): IngestLoop.Batch = {
      val r = new Random(seed * 1000003L + i)
      val tag = "x" + Integer.toString(i, 36)
      val base = (i + 1).toLong * 10000000L
      val fresh = r.shuffle(pool.toVector).take(size.fresh).map(tagged(_, tag)).toArray
      def pick(from: Array[String], n: Int) = r.shuffle(from.indices.toVector).take(n).map(from)
      def long(from: Array[String]) = from.filter(_.split(' ').length >= NearMinWords)
      val planted = Seq(
        "exact" -> (pick(corpus, size.seedExact) ++ pick(prev, size.prevExact) ++
          pick(fresh, size.intraExact)),
        "near" -> (pick(long(corpus), size.seedNear).map(nearOf(r, _, "")) ++
          pick(long(prev), size.prevNear).map(nearOf(r, _, prevTag))))
      val freshRows = fresh.indices.map(j => (base + j, fresh(j)))
      var next = base + fresh.length
      val plantedRows = planted.map { case (kind, texts) =>
        kind -> texts.map { t => next += 1; (next, t) }
      }.toMap
      val rows = r.shuffle(freshRows ++ plantedRows.values.flatten)
      val f = write(new File(dir, f"batch_$i%05d.json"), rows)
      prev = fresh
      prevTag = tag
      IngestLoop.Batch(f, rows.size, freshRows.map(_._1),
        plantedRows("exact").map(_._1), plantedRows("near").map(_._1))
    }

    def start(stream: DataFrame, index: String, out: String, checkpoint: String): StreamingQuery =
      DedupStream.incrementalIngest(stream, index, out, checkpoint,
        k = 2, tau = 0.8, maxSlices = Some(MaxSlices))
  }
}
