package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.GraftSession
import graft.queries.Catalog

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * `queries`/`oracleSql` are assembled from the catalog in
  * [[graft.queries.Catalog]]: one named query per implemented SURVEY §2
  * operator row (names carry the row ids) plus the LLM-pipeline extension
  * operators, each with DuckDB oracle SQL where the semantics are
  * SQL-expressible (hash-sketch ops are rows-only and verified by
  * ScalaTest equivalence/recall suites instead).
  */
object SparkEntry {

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0.
    * Pricing-summary over lineitem: scan + pushdown filter + hash agg.
    */
  def entry(spark: SparkSession): DataFrame =
    spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet")
      .filter(col("l_shipdate") <= "1998-09-01")
      .groupBy("l_returnflag", "l_linestatus")
      .agg(
        round(sum("l_quantity"), 2).as("sum_qty"),
        round(sum("l_extendedprice"), 2).as("sum_base_price"),
        count(lit(1)).as("count_order"))

  /** Session settings every catalog query depends on, applied per call so
    * the queries behave identically on a driver-created session: the whole
    * [[GraftSession.sqlConfs]] set — pre-ANSI cast semantics (reference
    * parity), UTC (all date/time formatting), nanos-as-long (the
    * TIMESTAMP(NANOS) events table) and the AQE/cache-AQE switches.
    */
  private def prepare(spark: SparkSession): Unit =
    GraftSession.sqlConfs.foreach { case (k, v) => spark.conf.set(k, v) }

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    Catalog.all.map(q => q.name -> { (s: SparkSession, dir: String) =>
      prepare(s); q.run(s, dir)
    }).toMap

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omitted for non-SQL-expressible ops.
    */
  def oracleSql: Map[String, String] =
    Catalog.all.flatMap(q => q.oracle.map(q.name -> _)).toMap
}
