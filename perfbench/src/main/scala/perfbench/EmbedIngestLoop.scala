package perfbench

import java.io.File

import scala.collection.mutable.ArrayBuffer
import scala.util.Random

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types._

import graft.ops.Similarity
import graft.streaming.EmbedIngest

/** `embed_ingest`: `EmbedIngest.incrementalIngest` over a file stream of
  * seeded vector batches (dim 64), one batch per trigger, against a
  * persisted IVF index that every trigger grows.
  *
  * Every vector comes from the engine's sf0.1 `embeddings` table (2,000
  * unit vectors; a copy is in `perfbench/data/`). The seed corpus is the
  * table in a seeded row order. A batch's fresh vectors are table vectors
  * drawn without repetition under a seeded per-batch permutation and sign
  * flip of their coordinates: new vectors of the same distribution (the
  * table's vectors are isotropic, no two within cosine 0.61). Planted in
  * each batch: exact copies of seed vectors, of the previous batch's fresh
  * vectors and of its own fresh vectors, and near-duplicates (cosine
  * ≈ 0.99) of seed and previous-batch vectors. One batch drifts: its fresh
  * vectors lean towards one of the index's centroids, which piles them
  * into one list, so the hot-list share crosses `rebuildHotShare` and the
  * loop retrains the quantizer (the k-means rebuild) in the next trigger.
  */
object EmbedIngestLoop {

  private final case class Size(seedVecs: Int, fresh: Int, seedExact: Int, prevExact: Int,
      intraExact: Int, seedNear: Int, prevNear: Int, warmupOps: Int)
  private val Full = Size(2000, 460, 30, 30, 20, 30, 30, warmupOps = 1)
  private val Tiny = Size(300, 80, 5, 5, 2, 4, 4, warmupOps = 1)

  private val Dim = 64
  private val CentroidStride = 100L
  /** Compaction runs when more than this many tick slices accumulate:
    * every fourth trigger. */
  private val MaxSlices = 3
  private val RebuildHotShare = 0.15
  /** Below one batch's fresh rows (460): the drifted batch alone is
    * enough evidence for a rebuild. */
  private val RebuildMinRows = 400L
  /** The drifted batch: the warm-up batch, so the rebuild runs in the
    * first timed trigger and every later one sees the rebuilt index. */
  private val DriftBatch = 0
  /** Weight of the centroid direction in a drifted vector. */
  private val Drift = 0.25
  /** Drifted vectors stay below this cosine of each other. */
  private val DriftMaxCos = 0.6

  val schema: StructType = StructType(Seq(
    StructField("vec_id", LongType), StructField("embedding", ArrayType(FloatType))))

  def run(spark: SparkSession, args: Main.Args, sessionS: Double): Main.Result = {
    import spark.implicits._
    val (table, loadS) = Main.time(
      spark.read.parquet(new File(args.data, "embeddings.parquet").getPath)
        .orderBy("vec_id").select("embedding").as[Array[Float]].collect())
    IngestLoop.run(spark, args, sessionS, loadS,
      new Vectors(spark, args.seed, if (args.tiny) Tiny else Full, table))
  }

  private def cos(a: Array[Float], b: Array[Float]): Double = {
    var d = 0.0; var na = 0.0; var nb = 0.0
    var k = 0
    while (k < a.length) { d += a(k) * b(k); na += a(k) * a(k); nb += b(k) * b(k); k += 1 }
    d / math.sqrt(na * nb)
  }

  private final class Vectors(spark: SparkSession, seed: Long, size: Size,
      table: Array[Array[Float]]) extends IngestLoop.Spec {
    val schema: StructType = EmbedIngestLoop.schema
    val idCol = "vec_id"
    val indexTable = "lists"
    val warmupOps: Int = size.warmupOps

    private var corpus = Array.empty[Array[Float]]
    private var prev = Array.empty[Array[Float]]
    private var index = ""
    private val drifted = ArrayBuffer[Array[Float]]()
    private var driftAxis = Array.empty[Float]

    private def gaussian(r: Random, scale: Double): Array[Double] =
      Array.fill(Dim)(r.nextGaussian() * scale / math.sqrt(Dim.toDouble))

    /** Table vectors `rows`, each under one coordinate permutation and sign
      * flip drawn from `r`. */
    private def permuted(r: Random, rows: Seq[Int]): Array[Array[Float]] = {
      val perm = r.shuffle((0 until Dim).toVector).toArray
      val sign = Array.fill(Dim)(if (r.nextBoolean()) 1f else -1f)
      rows.map(i => Array.tabulate(Dim)(k => table(i)(perm(k)) * sign(k))).toArray
    }

    private def near(r: Random, v: Array[Float]): Array[Float] = {
      val norm = math.sqrt(v.map(x => x.toDouble * x).sum)
      v.zip(gaussian(r, 0.12 * norm)).map { case (x, e) => (x + e).toFloat }
    }

    /** `v` leaning towards `driftAxis`, or None when that brings it within
      * [[DriftMaxCos]] of another drifted vector. */
    private def drift(v: Array[Float]): Option[Array[Float]] = {
      val c = v.zip(driftAxis).map { case (x, a) => x + Drift.toFloat * a }
      if (drifted.exists(d => cos(c, d) > DriftMaxCos)) None
      else { drifted += c; Some(c) }
    }

    /** A unit vector along one of the index's current centroids. */
    private def centroidAxis(r: Random): Array[Float] = {
      import spark.implicits._
      val cs = spark.read.parquet(s"$index/centroids").select("c_emb").as[Array[Float]].collect()
        .sortBy(_.mkString(","))
      val c = cs(r.nextInt(cs.length))
      val n = math.sqrt(c.map(x => x.toDouble * x).sum)
      c.map(x => (x / n).toFloat)
    }

    private def write(file: File, rows: Seq[(Long, Array[Float])]): File =
      Inputs.writeLines(file, rows.map { case (id, v) =>
        s"""{"vec_id":$id,"embedding":[${v.mkString(",")}]}""" })

    def seed(dir: File, index: String): Long = {
      val r = new Random(seed ^ 0x5eedL)
      corpus = r.shuffle(table.indices.toVector).take(size.seedVecs).map(table).toArray
      val f = write(new File(dir, "corpus.json"), corpus.indices.map(i => (i.toLong, corpus(i))))
      Similarity.writeIvfIndex(spark.read.schema(schema).json(f.getPath), index, CentroidStride)
      this.index = index
      prev = corpus
      f.length()
    }

    def batch(i: Int, dir: File): IngestLoop.Batch = {
      val r = new Random(seed * 1000003L + i)
      val base = (i + 1).toLong * 10000000L
      val driftBatch = i == DriftBatch
      if (driftBatch) driftAxis = centroidAxis(r)
      // fresh vectors: distinct table rows, so none is a copy of another
      val drawn = permuted(r, r.shuffle(table.indices.toVector))
      val fr =
        if (driftBatch) drawn.iterator.flatMap(drift).take(size.fresh).toArray
        else drawn.take(size.fresh)
      require(fr.length == size.fresh, s"batch $i: too few fresh vectors")
      def pick(from: Array[Array[Float]], n: Int) = r.shuffle(from.indices.toVector).take(n).map(from)
      val exact = pick(corpus, size.seedExact) ++ pick(prev, size.prevExact) ++ pick(fr, size.intraExact)
      val nearDups = (pick(corpus, size.seedNear) ++ pick(prev, size.prevNear)).map(near(r, _))
      val freshRows = fr.indices.map(j => (base + j, fr(j)))
      val exactRows = exact.indices.map(j => (base + fr.length + j, exact(j)))
      val nearRows = nearDups.indices.map(j => (base + fr.length + exact.length + j, nearDups(j)))
      val rows = r.shuffle(freshRows ++ exactRows ++ nearRows)
      val f = write(new File(dir, f"batch_$i%05d.json"), rows)
      prev = fr
      IngestLoop.Batch(f, rows.size, freshRows.map(_._1), exactRows.map(_._1), nearRows.map(_._1))
    }

    def start(stream: DataFrame, index: String, out: String, checkpoint: String): StreamingQuery =
      EmbedIngest.incrementalIngest(stream, index, out, checkpoint,
        tau = 0.8, nProbe = 2, centroidStride = CentroidStride,
        maxSlices = Some(MaxSlices), rebuildHotShare = Some(RebuildHotShare),
        rebuildMinRows = RebuildMinRows)
  }
}

/** Input files, written whole before the stream can see them. */
object Inputs {
  def writeLines(file: File, lines: Seq[String]): File = {
    file.getParentFile.mkdirs()
    val w = new java.io.PrintWriter(file, "UTF-8")
    try lines.foreach(w.println) finally w.close()
    file
  }
}
