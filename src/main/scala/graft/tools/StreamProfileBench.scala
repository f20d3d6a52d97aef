package graft.tools

import graft.core.GraftSession
import graft.model.Rules
import graft.streaming.StreamingPipeline

/** Where does a streaming micro-batch's time go? Replays the machine-day
  * through the full stateful pipeline (cleanse → FMGWS summary rows →
  * rule flags → 19-column windowed summary, update mode, noop sink) and
  * prints the ENGINE's own per-batch accounting — `durationMs` (addBatch /
  * getBatch / walCommit / queryPlanning / commitOffsets) and per-operator
  * state-store telemetry (commit time, rows, memory) — instead of one
  * opaque wall-clock number. Knobs under test ride env vars so a sweep is
  * a shell loop, not a rebuild. The session is the production one
  * (`GraftSession.local($SPARK_GRAFT_CPUS)`, default 32, as StreamingMain
  * runs it); only these knobs are set on top:
  *
  *   STREAM_SHUFFLE_PARTITIONS  state/shuffle partition count (default: the cores)
  *   STREAM_FILES_PER_TRIGGER   micro-batch size in files (default 2 of 24)
  *   STREAM_STATE_PROVIDER      "hdfs" (default) or "rocksdb"
  *   STREAM_CHUNKS              replay granularity (default 24 files/day)
  *   STREAM_MACHINES            key geometry: machines in the corpus (default 1)
  *   STREAM_HOURS               corpus span in hours (default 24; 8 machines
  *                              x 3 h holds rows AND window keys equal to
  *                              the 1-machine day while multiplying FMGWS
  *                              group parallelism 8x)
  *
  * The counts and `SPARK_GRAFT_CPUS` must be positive integers and the
  * provider one of the two names; anything else exits 1 with a named
  * error before the session starts.
  *
  * This is the measurement tool behind any stream-perf change: the rule
  * (PLANS.md) is that plan/conf switches cite a measured breakdown, not a
  * hunch.
  */
object StreamProfileBench {

  def main(args: Array[String]): Unit = {
    import BenchUtil.envPositiveInt
    val cpus = envPositiveInt("SPARK_GRAFT_CPUS", 32)
    val shuffle = envPositiveInt("STREAM_SHUFFLE_PARTITIONS", cpus)
    val filesPerTrigger = envPositiveInt("STREAM_FILES_PER_TRIGGER", 2)
    val chunks = envPositiveInt("STREAM_CHUNKS", 24)
    val machines = envPositiveInt("STREAM_MACHINES", 1)
    val hours = envPositiveInt("STREAM_HOURS", 24)
    val provider = sys.env.getOrElse("STREAM_STATE_PROVIDER", "hdfs")
    val rocksDb = StreamingPipeline.stateStoreFlag("STREAM_STATE_PROVIDER", provider) match {
      case Right(flag) => flag
      case Left(err) => System.err.println(err); sys.exit(1)
    }
    val spark = GraftSession.local(cpus, "graft-stream-profile")
    StreamingPipeline.configureStateSizing(spark, shuffle, rocksDb)
    // recentProgress keeps only the last N updates (default 100); a
    // fine-grained sweep (STREAM_CHUNKS > 100 with 1 file/trigger)
    // would silently truncate the per-batch table this tool exists
    // to print, so size the buffer to the worst-case batch count.
    spark.conf.set("spark.sql.streaming.numRecentProgressUpdates",
      math.max(100, chunks + 8).toString)

    val dir =
      if (machines == 1 && hours == 24) MachineDayFixture.streamDir(chunks)
      else MachineDayFixture.multiStreamDir(machines, hours, chunks)
    val t0 = System.nanoTime()
    val clean = StreamingPipeline.cleanse(
      StreamingPipeline.readCsvStream(spark, dir.getPath, maxFilesPerTrigger = filesPerTrigger))
    val summary = StreamingPipeline.hourlySummaryStream(clean, Rules.referenceDefaults)
    val q = summary.writeStream.outputMode("update").format("noop").start()
    try q.processAllAvailable() finally q.stop()
    val wall = (System.nanoTime() - t0) / 1e9

    val progs = q.recentProgress.filter(_.numInputRows > 0)
    println(s"== conf: shuffle=$shuffle filesPerTrigger=$filesPerTrigger " +
      s"chunks=$chunks machines=$machines hours=$hours " +
      s"provider=$provider")
    println(s"== wall ${BenchUtil.fmt(wall, 2)} s, " +
      s"batches ${progs.length}, rows ${progs.map(_.numInputRows).sum}")
    progs.foreach(p => println(p.json))
    spark.stop()
  }
}
