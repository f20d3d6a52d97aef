package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.fixtures.Fixtures
import graft.model.Rules
import graft.pipeline.DailyAggregatorJob

/** End-to-end golden test: the committed fixture CSV through the full
  * pipeline vs a checked-in golden of the hourly summary plus invariant
  * fingerprints of the enriched-events output (order-insensitive; see
  * SURVEY §7.4 on tie nondeterminism).
  *
  * Regenerate goldens with: sbt "testOnly graft.GoldenPipelineSpec"
  * -Dgraft.golden.regen=true (then inspect the diff before committing).
  */
class GoldenPipelineSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private val goldenPath = "/root/repo/fixtures/golden_hourly_summary.csv"

  private def canonicalSummary(): Seq[String] = {
    Fixtures.ensure(spark)
    val out = DailyAggregatorJob.run(spark, Fixtures.rawCsv, Rules.referenceDefaults)
    val rows = out.hourlySummary
      .withColumn("summary_date", date_format(col("summary_date"), "yyyy-MM-dd"))
      .collect()
      .map(_.toSeq.map {
        case null => ""
        // Locale.ROOT: the f interpolator is default-locale-sensitive and
        // renders comma decimals under e.g. de_DE, which both corrupts
        // the comma-joined canonical row AND mismatches the golden file
        case f: Float =>
          String.format(java.util.Locale.ROOT, "%.3f", Float.box(f))
        case d: Double =>
          String.format(java.util.Locale.ROOT, "%.3f", Double.box(d))
        case x => x.toString
      }.mkString(","))
      .sorted
      .toSeq
    out.unpersist()
    rows
  }

  test("hourly summary matches the checked-in golden") {
    val got = canonicalSummary()
    if (sys.props.get("graft.golden.regen").contains("true")) {
      Files.write(Paths.get(goldenPath), got.mkString("\n").getBytes("UTF-8"))
      cancel("golden regenerated; inspect and commit")
    }
    val want = new String(Files.readAllBytes(Paths.get(goldenPath)), "UTF-8")
      .split("\n").toSeq
    assert(got == want)
  }

  test("enriched events: structural invariants") {
    Fixtures.ensure(spark)
    val out = DailyAggregatorJob.run(spark, Fixtures.rawCsv, Rules.referenceDefaults)
    val e = out.enrichedEvents.cache()
    val clean = spark.read.parquet(Fixtures.cleanParquet)
    // every cleansed row survives enrichment (left join preserves)
    assert(e.count() == clean.count())
    // pre-first-start rows: cycle_seq 0 and NULL cycle_time
    val orphans = e.filter($"cycle_seq" === 0)
    assert(orphans.count() == 4) // 2 per machine
    assert(orphans.filter($"cycle_time_seconds".isNotNull).count() == 0)
    // every in-cycle event has a cycle_time: even the trailing End-less
    // cycle gets one (0.0 — boundaries collapse to its Start row)
    assert(e.filter($"cycle_seq" > 0 && $"cycle_time_seconds".isNull).count() == 0)
    val lastSeqs = e.groupBy("machine_id").agg(max("cycle_seq").as("mx"))
      .as[(String, Long)].collect().toMap
    lastSeqs.foreach { case (m, mx) =>
      val trailing = e.filter($"machine_id" === m && $"cycle_seq" === mx)
        .select("cycle_time_seconds").as[Float].collect().toSet
      assert(trailing == Set(0.0f), s"trailing End-less cycle of $m must report 0.0")
    }
    e.unpersist(); out.unpersist()
  }
}
