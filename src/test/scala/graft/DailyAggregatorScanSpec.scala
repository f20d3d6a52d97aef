package graft

import java.util.concurrent.{CountDownLatch, TimeUnit}

import scala.collection.mutable

import org.apache.spark.scheduler.{SparkListener, SparkListenerStageCompleted, SparkListenerStageSubmitted}
import org.scalatest.funsuite.AnyFunSuite

import graft.core.TmpDirs
import graft.fixtures.Fixtures
import graft.model.{Rules, Schemas}
import graft.pipeline.DailyAggregatorJob

/** The daily job reads its CSV once, split across the cores, and the
  * split reader parses the same rows as Spark's CSV file source.
  */
class DailyAggregatorScanSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  /** Counts the stages that read `path`: those whose lineage, when they
    * are submitted, reaches the file's scan RDD without passing through a
    * persisted RDD that an already completed stage computed. A stage's
    * RDD infos list its narrow ancestors, cached or not, so a stage that
    * reads a filled cache still names the scan below it; two stages that
    * race to fill one cache both count. The file source's scan RDD is
    * unnamed (`FileScanRDD`); Hadoop's text input is named by its path.
    */
  private final class ScanCounter(path: String) extends SparkListener {
    private val filled = mutable.Set[Int]()
    @volatile var scans = 0
    /** Released by the stage of an RDD named "sentinel": the listener
      * queue delivers in order, so every earlier stage is counted. */
    val drained = new CountDownLatch(1)

    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
      val infos = e.stageInfo.rddInfos.map(i => i.id -> i).toMap
      def reaches(id: Int): Boolean = infos.get(id).exists { i =>
        i.name == path || i.name == "FileScanRDD" ||
          (!filled(id) && i.parentIds.exists(reaches))
      }
      if (reaches(e.stageInfo.rddInfos.head.id)) scans += 1
    }

    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
      filled ++= e.stageInfo.rddInfos.filter(_.storageLevel.isValid).map(_.id)
      if (e.stageInfo.rddInfos.exists(_.name == "sentinel")) drained.countDown()
    }
  }

  test("the daily job scans its CSV once for both outputs") {
    Fixtures.ensure(spark)
    val sc = spark.sparkContext
    val counter = new ScanCounter(Fixtures.rawCsv)
    sc.addSparkListener(counter)
    try {
      val job = DailyAggregatorJob.run(spark, Fixtures.rawCsv, Rules.referenceDefaults)
      try {
        job.enrichedEvents.write.mode("overwrite").parquet(TmpDirs.scoped("scan_once_enriched"))
        assert(job.hourlySummary.collect().nonEmpty)
      } finally job.unpersist()
      sc.parallelize(Seq(1), 1).setName("sentinel").count()
      assert(counter.drained.await(60, TimeUnit.SECONDS))
    } finally sc.removeSparkListener(counter)
    assert(counter.scans == 1)
  }

  test("readRawCsv parses the file source's rows, across defaultParallelism splits") {
    Fixtures.ensure(spark)
    val split = DailyAggregatorJob.readRawCsv(spark, Fixtures.rawCsv)
    val fileSource = spark.read.schema(Schemas.rawEvents).option("header", "true")
      .csv(Fixtures.rawCsv)
    def multiset(rows: Array[org.apache.spark.sql.Row]) =
      rows.groupBy(_.toSeq).map { case (k, v) => k -> v.length }
    val got = split.collect()
    val want = fileSource.collect()
    // the file source drops the header line: equal multisets show it is
    // dropped here too, and no data line with it
    assert(got.length == want.length)
    assert(multiset(got) == multiset(want))
    assert(split.rdd.getNumPartitions == spark.sparkContext.defaultParallelism)
  }
}
