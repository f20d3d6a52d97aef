package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.ops.Quality
import graft.streaming.DriftStream

/** Continuous categorical-PSI drift monitoring (streaming/DriftStream):
  * the streamed per-window terms must equal the batch twin on identical
  * data, across micro-batch boundaries, with append-mode windows
  * finalized by the watermark.
  */
class DriftStreamSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  /** Three hourly windows of (ts, cat) rows as one CSV file per hour —
    * hour 0 matches the reference mix, hour 1 drifts hard, hour 2 is a
    * sentinel that pushes the watermark past hour 1's end so append
    * mode finalizes the first two windows. mtimes are pinned strictly
    * increasing so the file source replays hours in order (the
    * StreamingSpec tie-break rule).
    */
  private lazy val streamDir: String = {
    val dir = Files.createTempDirectory("graft_drift_stream").toString
    def write(name: String, rows: Seq[(String, String)], mtime: Long): Unit = {
      val f = new java.io.File(dir, name)
      val w = new java.io.PrintWriter(f, "UTF-8")
      try rows.foreach { case (ts, cat) => w.println(s"$ts,$cat") }
      finally w.close()
      f.setLastModified(mtime): Unit
    }
    def rows(hour: Int, counts: Seq[(String, Int)]): Seq[(String, String)] =
      counts.flatMap { case (c, n) =>
        (0 until n).map(i => (f"2024-10-16 1$hour%d:${i % 60}%02d:00", c))
      }
    val base = System.currentTimeMillis()
    write("h0.csv", rows(0, Seq("a" -> 5, "b" -> 3, "c" -> 2)), base)
    write("h1.csv", rows(1, Seq("a" -> 1, "b" -> 1, "c" -> 4, "d" -> 4)), base + 60000)
    // sentinel strictly past hour 1's end, so the watermark closes it
    // regardless of <= vs < emission semantics at the boundary
    write("h2.csv", Seq(("2024-10-16 12:30:00", "a")), base + 120000)
    dir
  }

  private val schema = "ts TIMESTAMP, cat STRING"

  // reference mix: a-heavy, like hour 0
  private lazy val spine = Quality.categorySpine(
    Seq.fill(50)("a").++(Seq.fill(30)("b")).++(Seq.fill(20)("c")).toDF("cat"),
    "cat", topK = 2)

  test("categorySpine: bounded top-K + (other) with deterministic ties") {
    assert(spine == Seq(("a", 50L), ("b", 30L), ("(other)", 20L)))
    // tie at count 2 between x and y -> value order; z falls in the tail
    val tied = Quality.categorySpine(
      Seq("x", "x", "y", "y", "z").toDF("cat"), "cat", topK = 1)
    assert(tied == Seq(("x", 2L), ("(other)", 3L)))
  }

  test("streamed per-window PSI equals the batch twin on closed windows") {
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", 1).csv(streamDir)
    val out = DriftStream.categoricalPsi(
      stream, "ts", "cat", spine, windowDur = "1 hour", watermarkDelay = "0 seconds")
    val q = out.writeStream.format("memory").queryName("drift_out")
      .outputMode("append").start()
    try q.processAllAvailable() finally q.stop()

    val streamed = spark.table("drift_out")
    // watermark reached 12:00 -> exactly hours 0 and 1 are final
    assert(streamed.select("window_start").distinct().count() == 2)
    // the state crossed micro-batch boundaries (one file per trigger)
    assert(q.recentProgress.count(_.numInputRows > 0) >= 3)

    val batch = DriftStream.categoricalPsiBatch(
        spark.read.schema(schema).csv(streamDir), "ts", "cat", spine, "1 hour")
      .filter(col("window_end") <= lit("2024-10-16 12:00:01").cast("timestamp"))
    assert(streamed.count() == batch.count())
    assert(batch.exceptAll(streamed).count() == 0)
    assert(streamed.exceptAll(batch).count() == 0)
  }

  test("a window whose monitored column went all-null still emits the floor row") {
    // schema-break failure mode: rows keep arriving but the monitored
    // column is null for a whole window — the monitor must emit that
    // window's all-zero histogram, not render it invisible
    val df = Seq(
      ("2024-10-16 10:00:00", Some("a")),
      ("2024-10-16 11:10:00", Option.empty[String]),
      ("2024-10-16 11:20:00", Option.empty[String])
    ).toDF("ts", "cat").withColumn("ts", col("ts").cast("timestamp"))
    val out = DriftStream.categoricalPsiBatch(df, "ts", "cat", spine, "1 hour")
      .select(date_format(col("window_start"), "HH").cast("int").as("h"),
        col("cur_n"), col("psi_term"))
      .as[(Int, Long, Double)].collect()
    val h11 = out.filter(_._1 == 11)
    assert(h11.nonEmpty, "the all-null window must exist in the output")
    assert(h11.forall { case (_, c, t) => c == 0L && !t.isNaN && !t.isInfinite })
  }

  test("the drifted window trips the 0.2 alert, the matching one does not") {
    val batch = DriftStream.categoricalPsiBatch(
      spark.read.schema(schema).csv(streamDir), "ts", "cat", spine, "1 hour")
    val psiByWindow = batch
      .groupBy("window_start").agg(sum("psi_term").as("psi"))
      .select(date_format(col("window_start"), "HH").cast("int").as("h"), col("psi"))
      .as[(Int, Double)].collect().toMap
    assert(psiByWindow(10) < 0.2, s"hour 0 matches the reference: $psiByWindow")
    assert(psiByWindow(11) > 0.2, s"hour 1 drifted hard: $psiByWindow")
  }

  /** Numeric twin fixture: (ts, v) rows — hour 0 spans the reference
    * range evenly, hour 1 collapses into the top quartile, hour 2 is the
    * watermark sentinel.
    */
  private lazy val numStreamDir: String = {
    val dir = Files.createTempDirectory("graft_drift_num_stream").toString
    def write(name: String, rows: Seq[(String, Int)], mtime: Long): Unit = {
      val f = new java.io.File(dir, name)
      val w = new java.io.PrintWriter(f, "UTF-8")
      try rows.foreach { case (ts, v) => w.println(s"$ts,$v") }
      finally w.close()
      f.setLastModified(mtime): Unit
    }
    def at(hour: Int, vs: Seq[Int]): Seq[(String, Int)] =
      vs.zipWithIndex.map { case (v, i) => (f"2024-10-16 1$hour%d:${i % 60}%02d:00", v) }
    val base = System.currentTimeMillis()
    write("h0.csv", at(0, Seq(10, 30, 40, 55, 60, 80, 90, 20)), base)
    write("h1.csv", at(1, Seq(80, 85, 90, 95, 99, 76, 88, 91)), base + 60000)
    write("h2.csv", Seq(("2024-10-16 12:30:00", 1)), base + 120000)
    dir
  }

  test("numericPsi: streamed per-window terms equal the batch twin and psiDrift") {
    val ref = (1 to 100).map(_.toDouble).toDF("v")
    val spine = Quality.numericSpine(ref, "v", bins = 4)
    assert(spine._1 == Seq(25.0, 50.0, 75.0))
    assert(spine._2 == Seq(24L, 25L, 25L, 26L))

    val numSchema = "ts TIMESTAMP, v DOUBLE"
    val stream = spark.readStream.schema(numSchema)
      .option("maxFilesPerTrigger", 1).csv(numStreamDir)
    val out = DriftStream.numericPsi(
      stream, "ts", "v", spine, windowDur = "1 hour", watermarkDelay = "0 seconds")
    val q = out.writeStream.format("memory").queryName("num_drift_out")
      .outputMode("append").start()
    try q.processAllAvailable() finally q.stop()

    val streamed = spark.table("num_drift_out")
    assert(streamed.select("window_start").distinct().count() == 2)
    val batch = DriftStream.numericPsiBatch(
        spark.read.schema(numSchema).csv(numStreamDir), "ts", "v", spine, "1 hour")
      .filter(col("window_end") <= lit("2024-10-16 12:00:01").cast("timestamp"))
    assert(streamed.count() == batch.count())
    assert(batch.exceptAll(streamed).count() == 0)
    assert(streamed.exceptAll(batch).count() == 0)

    // the streaming arithmetic IS the batch operator's: hour-1 slice
    // through Quality.psiDrift (which re-derives the same edges from ref)
    val h1 = spark.read.schema(numSchema).csv(numStreamDir)
      .filter(hour(col("ts")) === 11).select("v")
    val fromOp = Quality.psiDrift(ref, h1, "v", bins = 4)
      .select("bucket", "ref_n", "cur_n", "psi_term")
      .as[(Int, Long, Long, Double)].collect().toSet
    val fromStream = streamed.filter(hour(col("window_start")) === 11)
      .select("bucket", "ref_n", "cur_n", "psi_term")
      .as[(Int, Long, Long, Double)].collect().toSet
    assert(fromOp == fromStream)
    // and the collapsed hour trips the alert
    assert(fromStream.toSeq.map(_._4).sum > 0.2)
  }

  test("drift monitor window state survives a checkpoint restart") {
    // hour-0 rows arrive, the query runs and STOPS with hour 0's window
    // still open; hours 1-2 arrive and a NEW query on the same
    // checkpoint resumes — hour 0 must finalize from restored state, so
    // the union of both runs equals the batch twin.
    val dir = Files.createTempDirectory("graft_drift_restart").toString
    val ckpt = Files.createTempDirectory("graft_drift_restart_ckpt").toString
    val src = new java.io.File(streamDir).listFiles().map(_.getPath).sorted
    java.nio.file.Files.copy(java.nio.file.Paths.get(src(0)),
      java.nio.file.Paths.get(s"$dir/h0.csv"))

    DriftStreamSpec.restartRows.clear()
    def run(): Unit = {
      val stream = spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1).csv(dir)
      val out = DriftStream.categoricalPsi(
        stream, "ts", "cat", spine, windowDur = "1 hour",
        watermarkDelay = "0 seconds")
      val q = out.writeStream
        .option("checkpointLocation", ckpt).outputMode("append")
        .foreachBatch { (df: org.apache.spark.sql.DataFrame, _: Long) =>
          DriftStreamSpec.restartRows.synchronized {
            DriftStreamSpec.restartRows ++= df.collect()
          }: Unit
        }
        .start()
      try q.processAllAvailable() finally q.stop()
    }
    run()                                  // hour 0 ingested, window open
    val afterRun1 = DriftStreamSpec.restartRows.size
    java.nio.file.Files.copy(java.nio.file.Paths.get(src(1)),
      java.nio.file.Paths.get(s"$dir/h1.csv"))
    java.nio.file.Files.copy(java.nio.file.Paths.get(src(2)),
      java.nio.file.Paths.get(s"$dir/h2.csv"))
    run()                                  // resumes from the checkpoint

    assert(afterRun1 == 0, "hour 0's window must still be open at the stop")
    val streamedRows = DriftStreamSpec.restartRows.toList.map(r =>
      (r.getTimestamp(0), r.getString(2), r.getLong(3), r.getLong(4), r.getDouble(5)))
    val batch = DriftStream.categoricalPsiBatch(
        spark.read.schema(schema).csv(streamDir), "ts", "cat", spine, "1 hour")
      .filter(col("window_end") <= lit("2024-10-16 12:00:01").cast("timestamp"))
      .select("window_start", "category", "ref_n", "cur_n", "psi_term")
      .as[(java.sql.Timestamp, String, Long, Long, Double)].collect().toList
    assert(streamedRows.toSet == batch.toSet,
      "restored window state must finalize hour 0 exactly as batch")
    assert(streamedRows.size == batch.size)
  }

  test("per-window terms match Quality.psiCategorical run on that window alone") {
    // the streaming arithmetic must be the batch operator's arithmetic:
    // same window slice, same reference spine -> identical psi terms
    val h1 = spark.read.schema(schema).csv(streamDir)
      .filter(hour(col("ts")) === 11).select("cat")
    val ref = Seq.fill(50)("a").++(Seq.fill(30)("b")).++(Seq.fill(20)("c")).toDF("cat")
    val fromOp = Quality.psiCategorical(ref, h1, "cat", topK = 2)
      .select("category", "ref_n", "cur_n", "psi_term")
      .as[(String, Long, Long, Double)].collect().toSet
    val fromStreamTwin = DriftStream.categoricalPsiBatch(
        spark.read.schema(schema).csv(streamDir), "ts", "cat", spine, "1 hour")
      .filter(hour(col("window_start")) === 11)
      .select("category", "ref_n", "cur_n", "psi_term")
      .as[(String, Long, Long, Double)].collect().toSet
    assert(fromOp == fromStreamTwin)
  }
}

object DriftStreamSpec {
  /** Shared across the restart test's two query incarnations (foreachBatch
    * closures run on the driver; the buffer outlives each query). */
  val restartRows = scala.collection.mutable.ArrayBuffer[org.apache.spark.sql.Row]()
}
