package perfbench

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue, CountDownLatch, TimeUnit}

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Per-layer accounting from Spark's own events, attached from outside the
  * engine: a `SparkListener` records every job (start/end, call site, the
  * stages it ran, their tasks) and a `QueryExecutionListener` records the
  * `QueryExecution.tracker` planning phases. Spans are time intervals the
  * benchmark owns (around its calls into a layer) or reconstructs from a
  * streaming progress report; a job belongs to the span its start time
  * falls in.
  */
final class Trace(spark: SparkSession) {
  import Trace._

  private final class Job(val id: Int, val start: Long, val site: String) {
    @volatile var end: Long = -1L
  }
  private final class Stage(val jobId: Int) {
    var tasks = 0
    var runMs = 0L
    var gcMs = 0L
    var bytesWritten = 0L
    var shuffleMap = false
    var completed = false
    def shuffleMapDone: Boolean = shuffleMap && completed
  }

  private val jobs = new ConcurrentHashMap[Int, Job]()
  private val stages = new ConcurrentHashMap[Int, Stage]()
  private val phases = new ConcurrentLinkedQueue[(Long, Long)]() // (start ms, duration ms)
  @volatile private var marker: CountDownLatch = new CountDownLatch(0)
  @volatile private var markerJob = -1

  @volatile private var attached = false

  private val listener = new SparkListener {
    override def onJobStart(js: SparkListenerJobStart): Unit = {
      val props = Option(js.properties)
      val desc = props.flatMap(p => Option(p.getProperty("spark.job.description"))).getOrElse("")
      if (desc == MarkerDescription) markerJob = js.jobId
      else {
        val reported = props.flatMap(p => Option(p.getProperty("callSite.short")))
          .filter(_.nonEmpty)
          .orElse(js.stageInfos.lastOption.map(_.name.takeWhile(_ != '\n')))
          .getOrElse("")
        // a streaming query stamps every job it runs with the call site of
        // its start(); the code that launched the job is on the stack of
        // the thread running the job's SQL execution
        val site = props.filter(_.getProperty("sql.streaming.queryId") != null)
          .flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
          .flatMap(launcher.site)
          .getOrElse(reported)
        jobs.put(js.jobId, new Job(js.jobId, js.time, site))
        // a stage reused by a later job is skipped there: it belongs to the
        // first job that listed it
        js.stageInfos.foreach(si => stages.putIfAbsent(si.stageId, new Stage(js.jobId)))
      }
    }
    override def onJobEnd(je: SparkListenerJobEnd): Unit = {
      val j = jobs.get(je.jobId)
      if (j != null) j.end = je.time
      else if (je.jobId == markerJob) marker.countDown()
    }
    override def onTaskEnd(te: SparkListenerTaskEnd): Unit = {
      val s = stages.get(te.stageId)
      val m = te.taskMetrics
      if (s != null && m != null) s.synchronized {
        s.tasks += 1
        s.runMs += m.executorRunTime
        s.gcMs += m.jvmGCTime
        s.bytesWritten += m.outputMetrics.bytesWritten
        if (te.taskType == "ShuffleMapTask") s.shuffleMap = true
      }
    }
    override def onStageCompleted(sc: SparkListenerStageCompleted): Unit = {
      val si = sc.stageInfo
      val s = stages.get(si.stageId)
      if (s != null && si.failureReason.isEmpty) s.synchronized { s.completed = true }
    }
  }

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      record(qe)
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
      record(qe)
    private def record(qe: QueryExecution): Unit = if (attached)
      qe.tracker.phases.values.foreach(p => phases.add((p.startTimeMs, p.durationMs)))
  }
  // registered once, up front: a streaming query runs in a clone of the
  // session taken at its start, which copies the listeners registered then
  spark.listenerManager.register(qeListener)

  private val launcher = new Launcher(classOf[org.apache.spark.SparkContext]
    .getMethod("localProperties").invoke(spark.sparkContext)
    .asInstanceOf[InheritableThreadLocal[java.util.Properties]])

  def attach(): Unit = if (!attached) {
    spark.sparkContext.addSparkListener(listener)
    attached = true
  }

  def detach(): Unit = if (attached) {
    flush()
    spark.sparkContext.removeSparkListener(listener)
    attached = false
  }

  /** Wait until every event posted so far has reached the listeners: a
    * one-task marker job's end event queues behind them on the same bus. */
  def flush(): Unit = if (attached) {
    val latch = new CountDownLatch(1)
    marker = latch
    val sc = spark.sparkContext
    val old = sc.getLocalProperty("spark.job.description")
    sc.setJobDescription(MarkerDescription)
    try sc.parallelize(Seq(1), 1).count() finally sc.setJobDescription(old)
    latch.await(30, TimeUnit.SECONDS): Unit
  }

  /** Job and stage totals for the jobs that started in `[from, to)`;
    * `driverMs` is the part of the interval no job of the span covered. */
  def span(from: Long, to: Long): SpanStats = {
    val js = jobs.values.asScala.filter(j => j.start >= from && j.start < to).toSeq
    val ids = js.map(_.id).toSet
    val ss = stages.values.asScala.filter(s => ids.contains(s.jobId)).toSeq
    val covered = union(js.map(j => (math.max(j.start, from), math.min(endOf(j, to), to))))
    SpanStats(
      wallMs = to - from,
      jobs = js.size,
      exchanges = ss.count(_.shuffleMapDone),
      tasks = ss.map(_.tasks).sum,
      taskBusyMs = ss.map(_.runMs).sum,
      driverMs = (to - from) - covered,
      planningMs = phases.asScala.filter(p => p._1 >= from && p._1 < to).map(_._2).sum,
      bytesWritten = ss.map(_.bytesWritten).sum,
      gcMs = ss.map(_.gcMs).sum)
  }

  /** Per-module totals for the jobs that started in `[from, to)`, a job
    * belonging to the module whose source file its call site names. */
  def modules(from: Long, to: Long): Map[String, ModuleStats] = {
    val js = jobs.values.asScala.filter(j => j.start >= from && j.start < to).toSeq
    Modules.map { case (name, _) =>
      val mine = js.filter(j => moduleOf(j.site) == name)
      val ids = mine.map(_.id).toSet
      val ss = stages.values.asScala.filter(s => ids.contains(s.jobId)).toSeq
      name -> ModuleStats(
        jobs = mine.size,
        exchanges = ss.count(_.shuffleMapDone),
        jobMs = mine.map(j => endOf(j, to) - j.start).sum,
        taskBusyMs = ss.map(_.runMs).sum)
    }.toMap
  }

  def clear(): Unit = { jobs.clear(); stages.clear(); phases.clear() }

  private def endOf(j: Job, to: Long): Long = if (j.end < 0) to else j.end
}

/** Finds the code that launched a job from the stack of the thread whose
  * Spark local properties carry the job's SQL execution id. Reads other
  * threads' inheritable thread-locals by reflection (the launcher opens
  * `java.base/java.lang`), without writing to them. */
private final class Launcher(props: InheritableThreadLocal[java.util.Properties]) {
  private val mapField = classOf[Thread].getDeclaredField("inheritableThreadLocals")
  mapField.setAccessible(true)

  private def propsOf(t: Thread): Option[java.util.Properties] = {
    val map = mapField.get(t)
    if (map == null) return None
    val tableField = map.getClass.getDeclaredField("table")
    tableField.setAccessible(true)
    tableField.get(map).asInstanceOf[Array[AnyRef]].iterator
      .filter(e => e != null && (e.asInstanceOf[java.lang.ref.Reference[AnyRef]].get() eq props))
      .map { e =>
        val v = e.getClass.getDeclaredField("value")
        v.setAccessible(true)
        v.get(e)
      }
      .collectFirst { case p: java.util.Properties => p }
  }

  private def threads(): Seq[Thread] = {
    var g = Thread.currentThread.getThreadGroup
    while (g.getParent != null) g = g.getParent
    val arr = new Array[Thread](g.activeCount() * 2 + 16)
    arr.take(g.enumerate(arr, true)).toSeq
  }

  /** `"<method> at <file>:<line>"` of the innermost engine frame. */
  def site(executionId: String): Option[String] =
    threads().find(t => propsOf(t).exists(_.getProperty("spark.sql.execution.id") == executionId))
      .flatMap(_.getStackTrace.find(_.getClassName.startsWith("graft.")))
      .map(f => s"${f.getMethodName} at ${f.getFileName}:${f.getLineNumber}")
}

object Trace {
  val MarkerDescription = "perfbench-trace-marker"

  /** Call-site modules, in match order; the last catches the rest. */
  val Modules: Seq[(String, String)] = Seq(
    "ops.TextDedup" -> "TextDedup.scala",
    "ops.Similarity" -> "Similarity.scala",
    "streaming.DedupStream" -> "DedupStream.scala",
    "streaming.EmbedIngest" -> "EmbedIngest.scala",
    "core.FsPaths" -> "FsPaths.scala",
    "other" -> "")

  def moduleOf(site: String): String =
    Modules.find { case (_, file) => file.nonEmpty && site.contains(file) }
      .map(_._1).getOrElse("other")

  final case class SpanStats(
      wallMs: Long, jobs: Int, exchanges: Int, tasks: Int, taskBusyMs: Long,
      driverMs: Long, planningMs: Long, bytesWritten: Long, gcMs: Long) {
    /** The span's metrics under `name`, with `selfMs` as its wall time. */
    def metrics(name: String, selfMs: Long = wallMs): Seq[(String, Double)] = Seq(
      s"$name.wall_s" -> selfMs / 1000.0,
      s"$name.jobs" -> jobs.toDouble,
      s"$name.exchanges" -> exchanges.toDouble,
      s"$name.tasks" -> tasks.toDouble,
      s"$name.task_busy_s" -> taskBusyMs / 1000.0,
      s"$name.driver_s" -> driverMs / 1000.0,
      s"$name.planning_s" -> planningMs / 1000.0,
      s"$name.bytes_written" -> bytesWritten.toDouble,
      s"$name.gc_s" -> gcMs / 1000.0)

    def +(o: SpanStats): SpanStats = SpanStats(wallMs + o.wallMs, jobs + o.jobs,
      exchanges + o.exchanges, tasks + o.tasks, taskBusyMs + o.taskBusyMs,
      driverMs + o.driverMs, planningMs + o.planningMs, bytesWritten + o.bytesWritten,
      gcMs + o.gcMs)
  }

  final case class ModuleStats(jobs: Int, exchanges: Int, jobMs: Long, taskBusyMs: Long) {
    def metrics(name: String): Seq[(String, Double)] = Seq(
      s"$name.jobs" -> jobs.toDouble,
      s"$name.exchanges" -> exchanges.toDouble,
      s"$name.job_s" -> jobMs / 1000.0,
      s"$name.task_busy_s" -> taskBusyMs / 1000.0)
  }

  /** Total length of a set of intervals, overlaps counted once. */
  def union(intervals: Seq[(Long, Long)]): Long = {
    var covered = 0L
    var curStart = Long.MinValue
    var curEnd = Long.MinValue
    intervals.filter(i => i._2 > i._1).sortBy(_._1).foreach { case (s, e) =>
      if (s > curEnd) {
        if (curEnd > curStart) covered += curEnd - curStart
        curStart = s; curEnd = e
      } else if (e > curEnd) curEnd = e
    }
    if (curEnd > curStart) covered += curEnd - curStart
    covered
  }
}
