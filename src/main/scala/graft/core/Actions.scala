package graft.core

import java.util.concurrent.{CountDownLatch, Executors, TimeUnit}
import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}

import scala.concurrent.{Await, ExecutionContext, Future, Promise}
import scala.concurrent.duration.Duration
import scala.util.{Failure, Success}

import org.apache.spark.sql.SparkSession

/** Spark actions overlapped from driver threads. */
object Actions {

  private val groups = new AtomicLong()

  /** Run independent actions concurrently from a small driver thread
    * pool (guide §2.6: the scheduler happily overlaps jobs; actions are
    * only sequential because driver code calls them sequentially) — used
    * to overlap independent parquet writes, whose per-write commit
    * latency otherwise adds up serially.
    *
    * Every job an action launches carries the group's Spark job tag. The
    * FIRST failure cancels that tag — again every 50 ms, in case a
    * sibling starts another job — until every sibling action has
    * returned, then rethrows: a pool shutdown stops no running job, and
    * an orphan sibling write would race the replay of its `batch=<tag>`.
    */
  private[graft] def inParallel(actions: (() => Unit)*): Unit = {
    if (actions.sizeIs <= 1) { actions.foreach(_()); return }
    val sc = SparkSession.active.sparkContext
    val tag = s"graft-in-parallel-${groups.incrementAndGet()}"
    // bounded pool (one thread per action, never the unbounded global EC)
    val pool = Executors.newFixedThreadPool(actions.size)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
    val done = Promise[Unit]()
    val succeeded = new AtomicInteger(0)
    val returned = new CountDownLatch(actions.size)
    try {
      actions.foreach { a =>
        Future {
          sc.addJobTag(tag)
          try a() finally { sc.removeJobTag(tag); returned.countDown() }
        }.onComplete {
          case Failure(e) => done.tryFailure(e); ()
          case Success(_) =>
            if (succeeded.incrementAndGet() == actions.size) { done.trySuccess(()); () }
        }
      }
      try Await.result(done.future, Duration.Inf)
      catch {
        case e: Throwable =>
          do sc.cancelJobsWithTag(tag, "a sibling action failed")
          while (!returned.await(50, TimeUnit.MILLISECONDS))
          throw e
      }
    } finally {
      pool.shutdown()
      ()
    }
  }
}
