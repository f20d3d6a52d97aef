package graft

import java.util.concurrent.{CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicBoolean

import org.apache.spark.TaskContext
import org.scalatest.funsuite.AnyFunSuite

import graft.core.Actions

/** `Actions.inParallel`: the overlapped action group behind the ingest
  * ticks and index builds must not leave a sibling's Spark job running
  * when it rethrows a failure — such an orphan write would race the
  * replay of its own `batch=<tag>` directory.
  */
class ActionsSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  test("inParallel: the first failure cancels the sibling's running job before rethrowing") {
    val sc = spark.sparkContext
    val specTag = "actions-spec-sibling"
    val siblingReturned = new AtomicBoolean(false)
    ActionsSpec.siblingStarted = new CountDownLatch(1)
    try {
      val e = intercept[IllegalStateException] {
        Actions.inParallel(
          () => {
            assert(ActionsSpec.siblingStarted.await(60, TimeUnit.SECONDS),
              "the sibling's job never started")
            throw new IllegalStateException("first action failed")
          },
          () =>
            try {
              sc.addJobTag(specTag)
              // a task that runs until it is killed (bounded, so a
              // regression cannot hang the suite)
              sc.parallelize(Seq(1), 1).foreach { _ =>
                ActionsSpec.siblingStarted.countDown()
                val deadline = System.nanoTime() + TimeUnit.SECONDS.toNanos(60)
                while (!TaskContext.get().isInterrupted() && System.nanoTime() < deadline)
                  Thread.sleep(10)
              }
            } finally siblingReturned.set(true))
      }
      assert(e.getMessage == "first action failed")
      // the sibling action blocks in its job until that job ends, so a
      // sibling that has returned has no job of the group still active
      assert(siblingReturned.get(),
        "inParallel rethrew while the sibling's job was still running")
    } finally sc.cancelJobsWithTag(specTag)
  }
}

object ActionsSpec {
  /** Counted down by the sibling's task; read on executor threads of the
    * local test session, hence a static rather than a captured value. */
  @volatile var siblingStarted = new CountDownLatch(1)
}
