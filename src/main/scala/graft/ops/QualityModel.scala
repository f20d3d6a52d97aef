package graft.ops

import org.apache.spark.ml.classification.{LogisticRegression, LogisticRegressionModel}
import org.apache.spark.ml.feature.HashingTF
import org.apache.spark.ml.functions.vector_to_array
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Model-based quality filtering — the trainable stage of corpus curation
  * (CCNet / LLaMA-style: a fastText-like linear classifier trained on a
  * small labeled sample — "looks like Wikipedia" vs "random crawl" — then
  * applied to the whole corpus). This complements
  * [[TextAnalysis.qualityClassifier]] (fixed hand-set weights over
  * engineered ratios): here the weights are LEARNED from labels, and the
  * features are the hashed bag of words, so the model adapts to whatever
  * distinction the labels encode.
  *
  * Built on Spark ML's public primitives — `HashingTF` (hashing-trick
  * featurization: NO vocabulary build, NO fit pass, bounded `numFeatures`
  * vector space regardless of corpus size) and `LogisticRegression`
  * (distributed L-BFGS; each iteration is one treeAggregate over the
  * training sample).
  *
  * Scale shape: training touches only the labeled SAMPLE (small by
  * definition — label acquisition is the bottleneck, not compute).
  * Scoring the full corpus is map-only: the fitted model is a single
  * coefficient vector of `numFeatures` doubles riding to executors with
  * the plan (an `numFeatures`-bounded broadcast, ~160 KB at the 2^14
  * default) — no shuffle, no join, embarrassingly parallel over any
  * corpus size.
  */
object QualityModel {

  final case class Trained(model: LogisticRegressionModel, numFeatures: Int)

  /** Tokenized hashed-TF features for `textCol`, appended as
    * `graft_features` (the graft_ prefix, like every internal temporary
    * here, so scoring a frame that already carries a `features` column —
    * a common name on ML-adjacent tables — neither throws in HashingTF
    * nor silently collides). Tokens are the engine's standard whitespace
    * split with empties dropped (the [[Curation.ngramTf]] convention).
    */
  private def featurize(docs: DataFrame, numFeatures: Int, textCol: String): DataFrame = {
    val toks = docs.withColumn("graft_toks",
      filter(split(col(textCol), " "), w => length(w) > 0))
    new HashingTF()
      .setInputCol("graft_toks").setOutputCol("graft_features")
      .setNumFeatures(numFeatures)
      .transform(toks)
      .drop("graft_toks")
  }

  /** Fit the quality classifier on a labeled sample.
    *
    * @param labeled  rows with `textCol` and an integer/double `labelCol`
    *                 (1.0 = high quality, 0.0 = low)
    * @param numFeatures hashed feature space (power of two; collisions
    *                 degrade gracefully — the hashing-trick contract)
    * @param regParam L2 strength; the default keeps rare-token weights
    *                 from memorizing the sample
    */
  def train(
      labeled: DataFrame,
      numFeatures: Int = 1 << 14,
      regParam: Double = 0.01,
      maxIter: Int = 50,
      labelCol: String = "label",
      textCol: String = "text"): Trained = {
    val feats = featurize(
      labeled.withColumn(labelCol, col(labelCol).cast("double")),
      numFeatures, textCol)
    val lr = new LogisticRegression()
      .setFeaturesCol("graft_features").setLabelCol(labelCol)
      .setRegParam(regParam).setMaxIter(maxIter)
    Trained(lr.fit(feats), numFeatures)
  }

  /** Score `docs` with a fitted model: appends `quality_prob` (P(label=1))
    * and `quality_pred` (0/1 at the 0.5 boundary) — pre-existing columns
    * with those names are REPLACED (dropped first; the output contract
    * owns them, and appending a duplicate name would make every
    * downstream col("quality_prob") ambiguous). Map-only over the
    * corpus — the model is a plan-side constant.
    */
  def score(
      docs: DataFrame,
      trained: Trained,
      textCol: String = "text"): DataFrame = {
    val feats = featurize(
      docs.drop("quality_prob", "quality_pred"), trained.numFeatures, textCol)
    // score a COPY: the column setters mutate the model's param map, and
    // mutating the caller's shared instance would race concurrent
    // scorers (batch + stream over one Trained) and side-effect it
    trained.model.copy(org.apache.spark.ml.param.ParamMap.empty)
      .setProbabilityCol("graft_prob")
      .setPredictionCol("quality_pred")
      .setRawPredictionCol("graft_raw")
      .transform(feats)
      .withColumn("quality_prob", element_at(vector_to_array(col("graft_prob")), 2))
      .drop("graft_features", "graft_prob", "graft_raw")
  }

  /** Persist a fitted model as a reusable artifact (Spark ML's parquet
    * format): train once on the curated labeled sample, score many
    * corpora/runs. `numFeatures` is recoverable from the coefficient
    * vector, so the artifact is self-describing.
    */
  def save(trained: Trained, path: String): Unit =
    trained.model.write.overwrite().save(path)

  def load(path: String): Trained = {
    val m = LogisticRegressionModel.load(path)
    Trained(m, m.numFeatures)
  }
}
