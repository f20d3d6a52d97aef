package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.ops.Similarity

/** Centroid-id typing at the Similarity probe path. The probe path once
  * ranked cells with a (Double, Long)-typed top-p aggregator; that
  * aggregator and its ordering case are gone (the ordering rows are now
  * inputs of NearestCentroidsSpec), and this case stays to pin that a
  * non-long centroid id still runs through `nearest_centroids`.
  */
class TopByAggregatorSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  test("int-typed centroid ids work through the probe path") {
    // the aggregator's input encoder is (Double, Long); the call sites
    // cast c_id, so an int-id centroid table must not fail at runtime
    val emb = Seq(
      (1L, Seq(1.0f, 0.0f)), (2L, Seq(0.9f, 0.1f)), (3L, Seq(0.0f, 1.0f)))
      .toDF("vec_id", "embedding")
    val centroids = Seq(
      (1, Seq(1.0f, 0.0f)), (2, Seq(0.0f, 1.0f)))
      .toDF("c_id", "c_emb")
      .withColumn("c_id", col("c_id").cast("int"))
    val got = Similarity.ivfTopKWithCentroids(
        emb, centroids, emb.filter(col("vec_id") === 1L), k = 2, nProbe = 1)
      .select("n_id").as[Long].collect().toSet
    // list 1 holds {1, 2}; self-matches are excluded, so the probe
    // returns exactly vector 2 (the point is it RUNS with int c_id)
    assert(got == Set(2L))
  }
}
