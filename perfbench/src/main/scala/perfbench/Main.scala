package perfbench

import java.io.File
import java.lang.management.ManagementFactory

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

import graft.core.GraftSession

/** One benchmark run in one JVM: set up, run the workload's closed loop
  * (one client; an op starts when the previous one has completed) for
  * `--seconds`, check the outputs, and print one `PERFBENCH_RESULT` JSON
  * line. `run.py` builds the classpath, launches this and turns that line
  * into the benchmark's result.
  *
  * Usage: `perfbench.Main --workload <name> --seed <n> --seconds <s>
  * --trace <0|1> --work <dir> --data <dir> [--size full|tiny] [--corrupt 1]`
  */
object Main {

  final case class Args(
      workload: String, seed: Long, seconds: Double, trace: Boolean,
      work: File, data: File, tiny: Boolean, corrupt: Boolean)

  /** What a workload reports. `failedOps` counts ops that threw or whose
    * output failed its check; `layers` is filled by traced runs only. */
  final case class Result(
      attempted: Int,
      failedOps: Int,
      endToEnd: Seq[(String, Double)],
      layers: Seq[(String, Double)],
      diagnostics: Seq[(String, Any)])

  def parse(args: Array[String]): Args = {
    val m = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String) = m.getOrElse(k, sys.error(s"missing --$k"))
    Args(need("workload"), need("seed").toLong, need("seconds").toDouble,
      need("trace") == "1", new File(need("work")), new File(need("data")),
      m.getOrElse("size", "full") == "tiny", m.getOrElse("corrupt", "0") == "1")
  }

  def main(argv: Array[String]): Unit = {
    val args = parse(argv)
    val jvmStart = ManagementFactory.getRuntimeMXBean.getStartTime
    val cores = Runtime.getRuntime.availableProcessors()
    val spark = GraftSession.local(cores, s"perfbench-${args.workload}")
    val sessionS = (System.currentTimeMillis() - jvmStart) / 1000.0
    val gcBefore = gcMs()
    val result = try {
      args.workload match {
        case "machine_day" => MachineDay.run(spark, args, sessionS)
        case "text_ingest" => TextIngest.run(spark, args, sessionS)
        case "embed_ingest" => EmbedIngestLoop.run(spark, args, sessionS)
        case other => sys.error(s"unknown workload: $other")
      }
    } finally spark.streams.active.foreach(_.stop())
    val confs = Seq("spark.master", "spark.sql.adaptive.enabled", "spark.sql.ansi.enabled",
      "spark.sql.session.timeZone", "spark.sql.shuffle.partitions")
      .map(k => s"conf.$k" -> spark.conf.get(k, ""))
    val diag = result.diagnostics ++ confs ++ Seq("jvm_gc_ms" -> (gcMs() - gcBefore))
    println("PERFBENCH_RESULT " + Json.obj(Seq(
      "attempted" -> result.attempted,
      "failed" -> math.min(result.failedOps, result.attempted),
      "end_to_end" -> Json.obj(result.endToEnd),
      "per_layer" -> Json.obj(result.layers),
      "diagnostics" -> Json.obj(diag))).json)
    System.out.flush()
    spark.stop()
  }

  def gcMs(): Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime.max(0L)).sum

  /** Heap in use after forced full collections, in MB: the least of three
    * collect-and-wait rounds. The pause lets Spark's context cleaner drop
    * the blocks of frames a collection found unreachable, so the next
    * round frees them; and the JVM may skip a requested collection. */
  def retainedHeapMb(): Double =
    (1 to 3).map { _ =>
      System.gc()
      Thread.sleep(200)
      ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / (1024.0 * 1024.0)
    }.min

  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of nothing")
    val s = xs.sorted
    if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2.0
  }

  /** Per-name medians over several ops' metric lists. */
  def medians(ops: Seq[Seq[(String, Double)]]): Seq[(String, Double)] =
    if (ops.isEmpty) Seq.empty
    else ops.head.map(_._1).map(n => n -> median(ops.map(_.toMap.apply(n))))

  def seconds(fromNs: Long): Double = (System.nanoTime() - fromNs) / 1e9

  def time[A](body: => A): (A, Double) = {
    val t0 = System.nanoTime()
    val a = body
    (a, seconds(t0))
  }

  def dirBytes(f: File): Long =
    if (f.isFile) f.length()
    else Option(f.listFiles()).toSeq.flatten
      .filterNot(c => c.getName.startsWith(".") && c.getName.endsWith(".crc"))
      .map(dirBytes).sum

  def deleteRecursively(f: File): Unit = {
    Option(f.listFiles()).toSeq.flatten.foreach(deleteRecursively)
    f.delete(): Unit
  }

  /** Zeroed per-layer metrics for layers a workload does not exercise, so
    * every traced run prints the same names. */
  def zeroSpans(names: Seq[String]): Seq[(String, Double)] =
    names.flatMap(n => Trace.SpanStats(0, 0, 0, 0, 0, 0, 0, 0, 0).metrics(n))

  val MachineDaySpans = Seq("pipeline.cleanse", "ops.cycles", "ops.rules", "ops.rollup",
    "pipeline.enriched_write", "io.upsert")
  val StreamingSpans = Seq("streaming.trigger", "streaming.add_batch", "streaming.commit")
}

/** A fixed CPU-and-memory workload on every core. The host's speed moves
  * by more than half within minutes (shared cores); timed right before each
  * op, the canary reports the speed that op ran at, and op times are scaled
  * to a host on which the canary takes [[RefS]] seconds. */
object Canary {
  val RefS = 0.15
  private val data = Array.tabulate(1 << 22)(_.toLong) // 32 MB
  @volatile private var sink = 0L

  /** Wall seconds of one canary pass. */
  def time(): Double = {
    val t0 = System.nanoTime()
    val threads = (0 until Runtime.getRuntime.availableProcessors()).map { k =>
      new Thread(() => {
        var acc = k.toLong
        var rep = 0
        while (rep < 12) {
          var i = 0
          while (i < data.length) { acc = acc * 31 + data(i) + (acc >>> 17); i += 1 }
          rep += 1
        }
        sink += acc
      })
    }
    threads.foreach(_.start())
    threads.foreach(_.join())
    Main.seconds(t0)
  }

  /** Op seconds at the reference speed. */
  def scale(opS: Double, canaryS: Double): Double = opS * RefS / canaryS
}

/** Minimal JSON rendering for the result line. */
object Json {
  final case class Obj(json: String)

  def obj(kv: Seq[(String, Any)]): Obj =
    Obj(kv.map { case (k, v) => s"${str(k)}: ${value(v)}" }.mkString("{", ", ", "}"))

  private def value(v: Any): String = v match {
    case o: Obj => o.json
    case s: String => str(s)
    case d: Double if d.isNaN || d.isInfinite => "null"
    case d: Double => java.lang.Double.toString(d)
    case b: Boolean => b.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case null => "null"
    case other => str(other.toString)
  }

  private def str(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
}
