package graft

import scala.util.Random

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.core.GraftExtensions
import graft.functions.NearestCentroids
import graft.ops.Similarity

/** `nearest_centroids` against the reference forms it replaced (the
  * struct argmax/argmin and the `row_number() <= n` window), row for row,
  * on random and adversarial inputs; its call sites in `Similarity`
  * against the same forms; and the plans those call sites make.
  */
class NearestCentroidsSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  /** 240 gaussian 64-dim float embeddings over two partitions; vector 5
    * repeats vector 2, so the centroids drawn from ids < 8 hold an exact
    * tie in every score. */
  private lazy val emb = {
    val rnd = new Random(7)
    val vs = Array.fill(240)(Seq.fill(64)(rnd.nextGaussian().toFloat))
    vs(5) = vs(2)
    spark.sparkContext.parallelize(vs.toSeq.zipWithIndex.map { case (v, i) => (i.toLong, v) }, 2)
      .toDF("vec_id", "embedding").cache()
  }

  /** One random case: vectors (id, values) and centroids (c_id, values),
    * with their element and id types. Values are halves in [-1, 1] or
    * float-representable gaussians, so float and double inputs carry the
    * same numbers and planted ties stay exact ties.
    */
  private case class Case(
      vecs: Seq[(Long, Seq[Double])], cents: Seq[(Long, Seq[Double])],
      floatVec: Boolean, floatCent: Boolean, intIds: Boolean)

  private def randomCase(seed: Int): Case = {
    val rnd = new Random(seed)
    val dim = 1 + rnd.nextInt(5)
    def value(): Double =
      if (rnd.nextBoolean()) (rnd.nextInt(5) - 2) * 0.5 else rnd.nextGaussian().toFloat.toDouble
    def vector(): Seq[Double] = Seq.fill(dim)(value())
    val k = 1 + rnd.nextInt(6)
    val ids = rnd.shuffle((1L to 40L).toList).take(k + 2)
    val base = Seq.tabulate(k)(i => ids(i) -> vector())
    // planted: a duplicate of a centroid under another id (an exact tie
    // in both metrics) and a zero centroid (a NULL cosine)
    val cents = rnd.shuffle(base :+ (ids(k) -> base(rnd.nextInt(k))._2) :+
      (ids(k + 1) -> Seq.fill(dim)(if (rnd.nextBoolean()) -0.0 else 0.0)))
    val vecs = Seq.tabulate(30)(i => i.toLong -> vector()) ++ Seq(
      30L -> Seq.fill(dim)(0.0),                     // zero vector: every cosine NULL
      31L -> Seq.fill(dim)(-0.0),                    // negative zeros
      32L -> (Double.NaN +: Seq.fill(dim - 1)(0.5)), // NaN scores
      33L -> cents.head._2.map(x => if (x == 0.0) -0.0 else x), // on a centroid
      34L -> Seq.fill(dim)(0.5))
    Case(vecs, cents, rnd.nextBoolean(), rnd.nextBoolean(), rnd.nextBoolean())
  }

  /** RDD-backed, not a local relation: the optimizer would evaluate a
    * projection over a local relation itself, with interpreted `eval`,
    * and the generated code would never run. */
  private def vecFrame(c: Case): DataFrame = {
    val df = spark.sparkContext.parallelize(c.vecs, 2).toDF("id", "vec")
    if (c.floatVec) df.withColumn("vec", col("vec").cast("array<float>")) else df
  }

  private def centFrame(c: Case): DataFrame = {
    val df = c.cents.toDF("c_id", "c_vec")
      .withColumn("c_id", col("c_id").cast(if (c.intIds) "int" else "long"))
    if (c.floatCent) df.withColumn("c_vec", col("c_vec").cast("array<float>")) else df
  }

  /** The kernel over the case's centroids as double and long literals —
    * the reference frames carry them as float or double, int or long. */
  private def kernelRows(c: Case, n: Int, metric: String): Map[Long, Seq[Long]] =
    vecFrame(c).select(col("id"), GraftExtensions.nearestCentroids(spark, col("vec"),
        typedLit(c.cents.map(_._2)), typedLit(c.cents.map(_._1)), n, metric))
      .as[(Long, Seq[Long])].collect().toMap

  private def windowRows(vecs: DataFrame, cents: DataFrame, n: Int, metric: String) =
    ReferenceForms.nearestWindow(vecs, cents, n, metric)
      .select(col("id"), col("rk"), col("c_id").cast("long"))
      .as[(Long, Int, Long)].collect()
      .groupBy(_._1).map { case (id, rs) => id -> rs.sortBy(_._2).map(_._3).toSeq }

  private def structRows(vecs: DataFrame, cents: DataFrame, metric: String) =
    ReferenceForms.nearestStruct(vecs, cents, metric)
      .select(col("id"), col("c_id").cast("long")).as[(Long, Long)].collect().toMap

  /** `body` with whole-stage and expression codegen off, so projections
    * call `eval` instead of the generated code. */
  private def interpreted[T](body: => T): T = {
    val keys = Seq("spark.sql.codegen.wholeStage", "spark.sql.codegen.factoryMode")
    val saved = keys.map(k => k -> spark.conf.getOption(k))
    spark.conf.set(keys(0), "false")
    spark.conf.set(keys(1), "NO_CODEGEN")
    try body
    finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  test("kernel equals the struct and window forms on random inputs") {
    for (seed <- 1 to 12; metric <- Seq("cosine", "l2sq")) {
      val c = randomCase(seed)
      val (vecs, cents) = (vecFrame(c), centFrame(c))
      val k = c.cents.length
      val top1 = kernelRows(c, 1, metric)
      assert(top1.view.mapValues(_.head).toMap == structRows(vecs, cents, metric),
        s"seed $seed $metric: top-1 vs the struct form")
      if (seed <= 3) assert(interpreted(kernelRows(c, 2, metric)) == kernelRows(c, 2, metric),
        s"seed $seed $metric: interpreted eval vs generated code")
      for (n <- Seq(1, 2, 3, k + 1)) {
        val got = if (n == 1) top1 else kernelRows(c, n, metric)
        assert(got == windowRows(vecs, cents, n, metric),
          s"seed $seed $metric n=$n: kernel vs the window form")
        assert(got.values.forall(_.length == math.min(n, k)))
      }
    }
  }

  test("ranking keeps the window order under NaN, -0.0 and ties") {
    // the (key, score, id) rows the bounded top-p aggregator was pinned on
    val rows = Seq(
      // key 1: a NaN candidate — Spark's desc ordering ranks NaN FIRST,
      // so the kept top-2 must be (NaN, then the best real score)
      (1L, 0.9, 10L), (1L, Double.NaN, 11L), (1L, 0.8, 12L), (1L, 0.7, 13L),
      // key 2: two NaNs — both kept, tie broken to the smaller id
      (2L, Double.NaN, 21L), (2L, Double.NaN, 20L), (2L, 1.0, 22L),
      // key 3: -0.0 vs 0.0 are EQUAL — tie must break by id, not by sign
      (3L, -0.0, 31L), (3L, 0.0, 30L), (3L, -1.0, 32L))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("key").orderBy(desc("score"), asc("id"))
    val windowForm = rows.toDF("key", "score", "id")
      .withColumn("rn", row_number().over(w)).filter(col("rn") <= 2)
      .orderBy("key", "rn")
      .select("key", "id").as[(Long, Long)].collect()
      .groupBy(_._1).view.mapValues(_.map(_._2).toSeq).toMap
    val expected = Map(
      1L -> Seq(11L, 10L), 2L -> Seq(20L, 21L), 3L -> Seq(30L, 31L))
    assert(windowForm == expected, "window-form baseline moved")
    val ranked = rows.groupBy(_._1).map { case (key, rs) =>
      val ids = rs.map(_._3).toArray
      val best = NearestCentroids.rank(rs.map(_._2).toArray, new Array[Boolean](rs.length),
        ids, 2, greatestFirst = true)
      key -> best.map(ids(_)).toSeq
    }
    assert(ranked == expected)
  }

  private def asVecs(df: DataFrame): DataFrame = df.select($"vec_id".as("id"), $"embedding".as("vec"))

  private lazy val centF = emb.filter($"vec_id" < 8).select($"vec_id".as("c_id"), $"embedding".as("c_emb"))

  test("kmeansAssign equals the max-struct form, float and double") {
    val centD = centF.select($"c_id", $"c_emb".cast("array<double>").as("c_emb"))
    for (cent <- Seq(centF, centD)) {
      val got = Similarity.kmeansAssign(emb, cent)
        .select("vec_id", "cluster").as[(Long, Long)].collect().toMap
      val ref = ReferenceForms.nearestStruct(asVecs(emb),
          cent.select($"c_id", $"c_emb".as("c_vec")), "cosine")
        .as[(Long, Long)].collect().toMap
      assert(got == ref)
    }
  }

  test("probeAssignments equals the row_number() <= nProbe window form") {
    val queries = emb.filter($"vec_id" % 7 === 0)
    val got = Similarity.probeAssignments(centF, queries, 3, "vec_id")
      .select("q_id", "list_id").as[(Long, Long)].collect()
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val ref = windowRows(asVecs(queries), centF.select($"c_id", $"c_emb".as("c_vec")), 3, "cosine")
      .view.mapValues(_.toSet).toMap
    assert(got == ref && got.nonEmpty)
  }

  test("pqEncode equals the codebook-join min-struct form") {
    val cb = Similarity.pqCodebooks(emb, m = 8, ks = 16, maxIter = 2)
    val got = Similarity.pqEncode(emb, cb)
      .select("vec_id", "codes").as[(Long, Seq[Int])].collect().toMap
    val ref = ReferenceForms.pqEncodeJoin(emb, cb, m = 8, dim = 64)
      .select("vec_id", "codes").as[(Long, Seq[Int])].collect().toMap
    assert(got == ref && got.size == emb.count())
  }

  /** Shuffle exchanges in the final (adaptive) plan, after a collect. */
  private def shuffles(df: DataFrame): Int = {
    df.collect()
    new AdaptiveSparkPlanHelper {}.collect(df.queryExecution.executedPlan) {
      case e: ShuffleExchangeExec => e
    }.size
  }

  test("plans: no exchange to assign, probe or encode; one per round") {
    assert(shuffles(Similarity.kmeansAssign(emb, centF)) == 0)
    assert(shuffles(Similarity.probeAssignments(centF, emb.filter($"vec_id" < 10), 3, "vec_id")) == 0)
    val cb = Similarity.pqCodebooks(emb, m = 8, ks = 16, maxIter = 1)
    assert(shuffles(Similarity.pqEncode(emb, cb)) == 0)
    val round = Similarity.codebookRound(
      Similarity.subVectors(emb, 8, 64, "vec_id"), cb.collect().toSeq)
    assert(shuffles(round) == 1)
  }
}
