package perfbench

import java.io.File
import java.time.Instant
import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryListener, StreamingQueryProgress}
import org.apache.spark.sql.types.StructType

/** The closed loop shared by the two growing-corpus ingest workloads: a
  * file-stream query with one JSON batch file per trigger. Each op moves
  * the next generated batch file into the source directory and waits for
  * the engine's progress report of that trigger, whose `triggerExecution`
  * is the op latency. Traced runs trace every other trigger, so traced and
  * untraced triggers interleave in one window and their difference is the
  * tracing overhead.
  */
object IngestLoop {
  import Main._

  /** Timed batches whose planted near-duplicates count towards recall. */
  private val RecallTimedOps = 2

  /** One generated batch: its staged file and the ids of each planted kind. */
  final case class Batch(file: File, rows: Int, fresh: Seq[Long], exact: Seq[Long], near: Seq[Long])

  /** What differs between the text and the embedding loop. */
  trait Spec {
    def schema: StructType
    def idCol: String
    /** Index table whose `batch=base` slice maintenance rewrites. */
    def indexTable: String
    def warmupOps: Int
    /** Generate the seed corpus into `dir` and build its index at `index`;
      * returns the corpus's input bytes. */
    def seed(dir: File, index: String): Long
    /** Generate batch `i` into `dir` (not yet visible to the stream). */
    def batch(i: Int, dir: File): Batch
    def start(stream: DataFrame, index: String, out: String, checkpoint: String): StreamingQuery
  }

  private final class Progress extends StreamingQueryListener {
    val byBatch = new ConcurrentHashMap[Long, StreamingQueryProgress]()
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      byBatch.put(e.progress.batchId, e.progress): Unit
  }

  private def phase(p: StreamingQueryProgress, k: String): Long =
    Option(p.durationMs.get(k)).map(_.longValue).getOrElse(0L)

  /** Files of the index's base slice: maintenance (compaction, rebuild)
    * rewrites them, an ordinary tick never does. */
  private def baseFiles(index: String, table: String): Set[String] = {
    def walk(f: File): Seq[String] =
      if (f.isFile) Seq(f.getPath) else Option(f.listFiles()).toSeq.flatten.flatMap(walk)
    walk(new File(s"$index/$table/batch=base")).toSet
  }

  private def slices(index: String, table: String): Set[String] =
    Option(new File(s"$index/$table").list()).toSeq.flatten.filter(_.startsWith("batch=")).toSet

  /** `loadS`: time taken to read the source table the inputs are drawn
    * from, part of set-up. */
  def run(spark: SparkSession, args: Args, sessionS: Double, loadS: Double, spec: Spec): Result = {
    val work = args.work
    val staging = new File(work, "staging")
    val source = new File(work, "source")
    val out = new File(work, "out").getPath
    val checkpoint = new File(work, "checkpoint").getPath
    Seq(staging, source).foreach(_.mkdirs())

    // the seed corpus and its index are the repeated part of set-up
    val seedReps = (1 to 3).map { r =>
      val dir = new File(work, s"seed$r")
      val (bytes, dt) = time(spec.seed(dir, new File(dir, "index").getPath))
      (dir, bytes, dt)
    }
    seedReps.init.foreach(r => deleteRecursively(r._1))
    val index = new File(seedReps.last._1, "index").getPath
    val seedBytes = seedReps.last._2
    val seedS = median(seedReps.map(_._3))

    val progress = new Progress
    spark.streams.addListener(progress)
    val stream = spark.readStream.schema(spec.schema).option("maxFilesPerTrigger", 1L)
      .json(source.getPath)
    val trace = if (args.trace) new Trace(spark) else null
    val query = spec.start(stream, index, out, checkpoint)

    final case class Op(batch: Batch, i: Int, p: StreamingQueryProgress, wallS: Double,
        canaryS: Double, maintenance: Option[String], layers: Seq[(String, Double)]) {
      def latencyS: Double = phase(p, "triggerExecution") / 1000.0
    }
    var fedBytes = 0L
    /** Feed batch `i` and wait for its trigger to report. */
    def feed(i: Int, traced: Boolean): Op = {
      val b = spec.batch(i, staging)
      fedBytes += b.file.length()
      val before = baseFiles(index, spec.indexTable)
      val canary = Canary.time()
      if (traced) trace.attach()
      val t0 = System.nanoTime()
      if (!b.file.renameTo(new File(source, b.file.getName)))
        sys.error(s"cannot move ${b.file} into the stream source")
      var p = progress.byBatch.get(i.toLong)
      while (p == null) {
        query.exception.foreach(e => throw e)
        if (seconds(t0) > 150) sys.error(s"trigger $i did not report within 150 s")
        Thread.sleep(2)
        p = progress.byBatch.get(i.toLong)
      }
      val wall = seconds(t0)
      val after = baseFiles(index, spec.indexTable)
      val maintenance =
        if (after == before) None
        else if (slices(index, spec.indexTable).contains("batch=appended") ||
          spec.indexTable != "lists") Some("compaction")
        else Some("rebuild")
      val layers = if (!traced) Seq.empty else {
        trace.detach()
        val start = Instant.parse(p.timestamp).toEpochMilli
        val end = start + phase(p, "triggerExecution")
        val addEnd = end - phase(p, "commitOffsets")
        val addStart = addEnd - phase(p, "addBatch")
        val preEnd = start + phase(p, "latestOffset") + phase(p, "walCommit")
        val commit = trace.span(start, preEnd) + trace.span(addEnd, end)
        val self = (end - start) - (addEnd - addStart) - commit.wallMs
        val l = trace.span(start, end).metrics("streaming.trigger", self) ++
          trace.span(addStart, addEnd).metrics("streaming.add_batch") ++
          commit.metrics("streaming.commit") ++
          trace.modules(start, end).toSeq.flatMap { case (n, m) => m.metrics(n) }
        trace.clear()
        l
      }
      Op(b, i, p, wall, canary, maintenance, layers)
    }

    val (warm, warmupS) = time {
      (1 to 3).foreach(_ => Canary.time())
      (0 until spec.warmupOps).map(i => feed(i, traced = false))
    }
    val ops = ArrayBuffer[Op]()
    var failedOps = 0
    val t0 = System.nanoTime()
    var i = spec.warmupOps
    var stopped = false
    while (!stopped && seconds(t0) < args.seconds) {
      try ops += feed(i, traced = args.trace && (i - spec.warmupOps) % 2 == 0)
      catch { case e: Exception =>
        System.err.println(s"[perfbench] trigger $i failed: $e")
        failedOps += 1
        stopped = true // the query is gone; later ops cannot run
      }
      i += 1
    }
    val heapMb = retainedHeapMb()
    query.stop()
    spark.streams.removeListener(progress)

    if (args.corrupt && ops.nonEmpty)
      deleteRecursively(new File(out, s"batch=b${ops.head.i}"))
    // outside the timed ops: every fresh row survived, every planted exact
    // duplicate was dropped
    import spark.implicits._
    val kept = spark.read.parquet(out).select(spec.idCol).as[Long].collect().toSet
    val all = warm ++ ops
    val badOps = all.count(o => !o.batch.fresh.forall(kept) || o.batch.exact.exists(kept))
    failedOps += badOps
    // recall over a fixed set of batches (the warm-up ones and the first
    // RecallTimedOps timed ones), so that it repeats exactly for a seed
    // however many ops the window holds
    val near = (warm ++ ops.take(RecallTimedOps)).flatMap(_.batch.near)
    val recall = near.count(id => !kept(id)).toDouble / near.size

    val attempted = all.size + (if (stopped) 1 else 0)
    // maintenance triggers (compaction, rebuild) show in throughput, not in
    // the median trigger
    val regular = (if (ops.exists(_.maintenance.isEmpty)) ops.filter(_.maintenance.isEmpty) else ops).toSeq
    val inputBytes = seedBytes + fedBytes
    val stored = dirBytes(new File(out)) + dirBytes(new File(index))
    val endToEnd = Seq(
      "setup_s" -> (sessionS + loadS + seedS + warmupS),
      "throughput_rows_s" -> ops.map(_.batch.rows).sum / ops.map(o => Canary.scale(o.wallS, o.canaryS)).sum,
      "op_p50_s" -> median(regular.map(o => Canary.scale(o.latencyS, o.canaryS))),
      "planted_recall" -> recall,
      "stored_bytes_per_input_byte" -> stored.toDouble / inputBytes,
      "retained_heap_mb" -> heapMb,
      "ok_op_frac" -> (attempted - math.min(failedOps, attempted)).toDouble / math.max(attempted, 1))
    def maintenanceS(kind: String): Double = {
      val xs = all.filter(_.maintenance.contains(kind)).map(o => phase(o.p, "addBatch") / 1000.0)
      if (xs.isEmpty) 0.0 else median(xs.toSeq)
    }
    val layers = if (!args.trace) Seq.empty else {
      val traced = ops.filter(_.layers.nonEmpty)
      val regular = traced.filter(_.maintenance.isEmpty)
      val untraced = ops.filter(o => o.layers.isEmpty && o.maintenance.isEmpty)
      medians((if (regular.nonEmpty) regular else traced).map(_.layers).toSeq) ++
        zeroSpans(MachineDaySpans) ++ Seq(
          "loop.compaction.wall_s" -> maintenanceS("compaction"),
          "loop.rebuild.wall_s" -> maintenanceS("rebuild"),
          "trace.overhead_s" -> (
            if (regular.isEmpty || untraced.isEmpty) 0.0
            else median(regular.map(_.wallS).toSeq) - median(untraced.map(_.wallS).toSeq)))
    }
    Result(attempted, failedOps, endToEnd, layers, Seq(
      "ops" -> attempted, "rows" -> ops.map(_.batch.rows).sum, "session_s" -> sessionS,
      "table_load_s" -> loadS,
      "seed_reps_s" -> seedReps.map(r => f"${r._3}%.3f").mkString(","), "warmup_s" -> warmupS,
      "timed_s" -> ops.map(_.wallS).sum, "raw_op_p50_s" -> median(regular.map(_.latencyS)),
      "raw_throughput_rows_s" -> ops.map(_.batch.rows).sum / ops.map(_.wallS).sum,
      "canary_s" -> median(ops.map(_.canaryS).toSeq),
      "op_latencies_s" -> ops.map(o => f"${o.latencyS}%.3f").mkString(","),
      "maintenance" -> all.map(o => o.maintenance.getOrElse("-")).mkString(","),
      "planted_near" -> near.size, "bad_ops_after_run" -> badOps))
  }
}
