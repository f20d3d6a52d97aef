package graft.tools

import java.util.concurrent.ConcurrentHashMap

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerStageCompleted}

import graft.tools.BenchUtil.fmt

/** Optimization-round instrument: attribute one catalog query's wall time
  * to its individual Spark JOBS — count, per-job duration, task count and
  * the call site that launched it — so "this query is slow" becomes
  * "these three jobs are the cost" before anything is changed (guide §1:
  * measure first). Usage:
  *
  *   sbt "runMain graft.tools.QueryJobProfile ext_ingest_loop ext_semdedup"
  *
  * Each named query runs once untimed (JIT/IO warm-up), then once under a
  * job listener; per-job rows print largest-first. The wall time not
  * covered by any job (wall minus the union of the job intervals, so
  * overlapping `inParallel` jobs count once) is driver-side work
  * (planning, collect post-processing, file listing). The session is
  * `GraftSession.local($SPARK_GRAFT_CPUS)` (default 32) over
  * `$SPARK_GRAFT_SF_DIR` (default sf0.1), the same as `graft.Bench`'s; an
  * unknown query name exits 2 before any session starts.
  */
object QueryJobProfile {

  private final case class JobRow(
      jobId: Int, started: Long, var ended: Long = -1L,
      site: String = "", tasks: Int = 0, stages: Int = 0)

  /** Length of the union of `[start, end]` intervals: overlapping or
    * nested intervals count once. */
  private[graft] def unionLength(intervals: Seq[(Long, Long)]): Long =
    intervals.sortBy(_._1).foldLeft((0L, Long.MinValue)) {
      case ((covered, reach), (start, end)) =>
        if (end <= reach) (covered, reach)
        else (covered + end - math.max(start, reach), end)
    }._1

  def main(args: Array[String]): Unit = {
    val known = graft.queries.Catalog.all.map(q => q.name -> q).toMap
    val unknown = args.filterNot(known.contains)
    if (args.isEmpty || unknown.nonEmpty) {
      if (args.isEmpty) System.err.println("usage: QueryJobProfile <queryName> [more...]")
      else System.err.println(s"unknown queries: ${unknown.mkString(", ")}")
      System.err.println(s"known queries: ${known.keys.toSeq.sorted.mkString(", ")}")
      sys.exit(2)
    }
    val spark = graft.core.GraftSession.local(
      BenchUtil.envPositiveInt("SPARK_GRAFT_CPUS", 32), "graft-query-job-profile")
    val dir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val jobs = new ConcurrentHashMap[Int, JobRow]()
    val stages = java.util.concurrent.ConcurrentHashMap.newKeySet[(Long, Int, String)]()
    val listener = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit = {
        val site = Option(js.properties)
          .flatMap(p => Option(p.getProperty("callSite.short")))
          .filter(_.nonEmpty)
          .orElse(js.stageInfos.lastOption.map(_.name.takeWhile(_ != '\n')))
          .getOrElse("")
        jobs.put(js.jobId, JobRow(js.jobId, js.time, site = site,
          tasks = js.stageInfos.map(_.numTasks).sum,
          stages = js.stageInfos.size))
      }
      override def onJobEnd(je: SparkListenerJobEnd): Unit = {
        val r = jobs.get(je.jobId)
        if (r != null) r.ended = je.time
      }
      override def onStageCompleted(sc: SparkListenerStageCompleted): Unit = {
        val si = sc.stageInfo
        val dur = (for {a <- si.completionTime; b <- si.submissionTime}
          yield a - b).getOrElse(-1L)
        stages.add((dur, si.numTasks, si.name.takeWhile(_ != '\n')))
        ()
      }
    }
    args.foreach { name =>
      val q = known(name)
      BenchUtil.force(q.run(spark, dir)) // warm-up, untimed
      spark.sharedState.cacheManager.clearCache()
      jobs.clear()
      stages.clear()
      spark.sparkContext.addSparkListener(listener)
      val wall = BenchUtil.time(BenchUtil.force(q.run(spark, dir)))
      // listener delivery is async; give the bus a moment to drain
      Thread.sleep(300)
      spark.sparkContext.removeSparkListener(listener)
      spark.sharedState.cacheManager.clearCache()
      val rows = jobs.values.asScala.toSeq.sortBy(r => -(r.ended - r.started))
      val done = rows.filter(_.ended > 0)
      val summed = done.map(r => r.ended - r.started).sum
      val covered = unionLength(done.map(r => (r.started, r.ended)))
      println(s"\n[profile] $name wall=${fmt(wall, 3)} s jobs=${rows.size} " +
        s"job_sum=${fmt(summed / 1000.0, 3)} s job_union=${fmt(covered / 1000.0, 3)} s " +
        s"driver_gap=${fmt(wall - covered / 1000.0, 3)} s")
      rows.take(15).foreach { r =>
        val d = if (r.ended > 0) (r.ended - r.started) / 1000.0 else -1.0
        println(f"[profile]   ${fmt(d, 3)}%7s s  tasks=${r.tasks}%4d stages=${r.stages}%2d  ${r.site}")
      }
      val st = stages.asScala.toSeq.sortBy(-_._1)
      println(f"[profile]  -- stages: n=${st.size} task_total=${st.map(_._2).sum} --")
      st.take(30).foreach { case (d, n, nm) =>
        println(f"[profile]   stage ${fmt(d / 1000.0, 3)}%7s s tasks=$n%4d  $nm")
      }
    }
    spark.stop()
  }
}
