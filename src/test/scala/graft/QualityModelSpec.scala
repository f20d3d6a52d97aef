package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.core.Tables
import graft.ops.QualityModel

/** Pins the trained quality filter: a vocabulary-separable planted
  * labeling must be recovered near-perfectly on held-out docs, and
  * scoring must stay map-only (the model is plan-side state, never a
  * join). This is the closed-form oracle for the rows-only
  * `ext_quality_model` catalog entry.
  */
class QualityModelSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  /** Deterministic two-vocabulary corpus: "good" docs draw from one word
    * list, "bad" docs from a disjoint one — linearly separable in bag-of-
    * words space by construction, so anything below ~perfect held-out
    * accuracy is a harness bug, not model noise.
    */
  private def planted(n: Int): org.apache.spark.sql.DataFrame = {
    val goodV = Vector("clear", "concise", "prose", "citation", "structured", "reviewed")
    val badV = Vector("zzspam", "clickxx", "garbled", "kwkwkw", "xoxoxo", "fffff")
    (0 until n).map { i =>
      val v = if (i % 2 == 0) goodV else badV
      val text = (0 until 12).map(j => v((i * 7 + j * 3) % v.size)).mkString(" ")
      (i.toLong, text, if (i % 2 == 0) 1.0 else 0.0)
    }.toDF("doc_id", "text", "label")
  }

  test("trained classifier recovers planted separable labels; scoring is map-only") {
    val corpus = planted(400)
    val train = corpus.filter($"doc_id" % 4 =!= 0)
    val heldOut = corpus.filter($"doc_id" % 4 === 0)
    val model = QualityModel.train(train)
    val scored = QualityModel.score(heldOut, model).cache()
    val acc = scored.filter($"quality_pred" === $"label").count().toDouble /
      heldOut.count()
    info(f"held-out accuracy = $acc%.4f")
    assert(acc >= 0.95, f"separable labels not recovered: acc=$acc%.4f")
    // probabilities agree with the hard predictions at the 0.5 boundary
    assert(scored.filter(
      ($"quality_prob" >= 0.5) =!= ($"quality_pred" === 1.0)).count() == 0)
    // scoring the corpus is map-only: the fitted model rides with the
    // plan — any Exchange here would mean a shuffle snuck into the
    // 100 TB-side path
    val plan = QualityModel.score(corpus, model)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), s"scoring plan shuffles:\n$plan")
    scored.unpersist()
  }

  test("save/load round-trips the model: loaded scores are identical") {
    val corpus = planted(200)
    val trained = QualityModel.train(corpus)
    val dir = java.nio.file.Files.createTempDirectory("qmodel").toString + "/m"
    QualityModel.save(trained, dir)
    val loaded = QualityModel.load(dir)
    assert(loaded.numFeatures == trained.numFeatures)
    val a = QualityModel.score(corpus, trained)
      .select("doc_id", "quality_prob", "quality_pred")
    val b = QualityModel.score(corpus, loaded)
      .select("doc_id", "quality_prob", "quality_pred")
    assert(a.exceptAll(b).count() == 0 && b.exceptAll(a).count() == 0)
  }

  test("stream scoring equals batch: the model is stateless plan-side state") {
    // train once batch-side, then score a file stream with the same model
    // — scoring is map-only (QualityModelSpec pins no-Exchange above), so
    // it is streaming-legal with zero state and must agree with the batch
    // twin row for row
    val corpus = planted(120)
    val model = QualityModel.train(corpus)
    val dir = java.nio.file.Files.createTempDirectory("graft_qm_stream").toString
    val rows = corpus.select("doc_id", "text")
      .as[(Long, String)].collect().sortBy(_._1)
    val base = System.currentTimeMillis()
    rows.grouped(40).zipWithIndex.foreach { case (chunk, i) =>
      val f = new java.io.File(dir, s"f$i.csv")
      val w = new java.io.PrintWriter(f, "UTF-8")
      try chunk.foreach { case (id, t) => w.println(s"$id,$t") }
      finally w.close()
      f.setLastModified(base + i * 60000L): Unit
    }
    val schema = "doc_id LONG, text STRING"
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", 1).csv(dir)
    val q = QualityModel.score(stream, model)
      .select("doc_id", "quality_prob", "quality_pred")
      .writeStream.format("memory").queryName("qm_stream_out")
      .outputMode("append").start()
    try q.processAllAvailable() finally q.stop()
    val streamed = spark.table("qm_stream_out")
      .as[(Long, Double, Double)].collect().toSet
    val batch = QualityModel.score(
        spark.read.schema(schema).csv(dir), model)
      .select("doc_id", "quality_prob", "quality_pred")
      .as[(Long, Double, Double)].collect().toSet
    assert(streamed == batch)
    assert(streamed.map(_._1) == rows.map(_._1).toSet)
    assert(q.recentProgress.count(_.numInputRows > 0) >= 3,
      "scoring must have run across micro-batch boundaries")
  }

  test("real-corpus smoke: lang labels train and score end to end") {
    val docs = Tables.documents(spark, "/root/testdata/sf0.001")
    val labeled = docs.withColumn("label", ($"lang" === "en").cast("double"))
    val scored = QualityModel.score(docs, QualityModel.train(labeled))
    // scored every doc, emitted both contract columns, probs in [0,1]
    assert(scored.count() == docs.count())
    assert(scored.filter($"quality_prob" < 0 || $"quality_prob" > 1).count() == 0)
    assert(scored.filter(!$"quality_pred".isin(0.0, 1.0)).count() == 0)
  }
}
