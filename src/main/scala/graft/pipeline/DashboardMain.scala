package graft.pipeline

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.GraftSession
import graft.io.JdbcSinks

/** Headless analogue of the reference dashboard's data layer
  * (`/root/reference/src/dashboard.py:26-66`). The Streamlit UI itself is
  * out of scope (SURVEY §3.3) — this main serves the same two queries
  * over the same `hourly_machine_summary` table through the S5 JDBC scan
  * path, so the compose topology's third service runs real engine code:
  *
  *   - no args: the date picker's backing query — distinct
  *     `summary_date`s, newest first (`dashboard.py:30-33`);
  *   - `<YYYY-MM-DD>`: that day's full 19-column summary ordered by
  *     `hour_of_day` (`dashboard.py:47-58`), optionally restricted to
  *     the `GRAFT_MACHINES` comma-list (the UI's machine multiselect —
  *     P13's isin shape).
  *
  * Both filters are Catalyst-pushed into the JDBC scan (the date/isin
  * predicates land in the generated WHERE clause), so the database does
  * the pruning exactly like the reference's parameterized SQL — at any
  * table size only the selected day crosses the wire.
  *
  * Required env: `DB_HOST`, `DB_NAME`, `DB_USER`, `DB_PASS` (same
  * contract and error path as [[DailyAggregatorMain]]).
  */
object DashboardMain {

  /** Dashboard Q1: available dates, newest first. */
  def availableDates(summary: DataFrame): DataFrame =
    summary.select("summary_date").distinct().orderBy(desc("summary_date"))

  /** Dashboard Q2: one day's hourly load, hour-ordered, optional machine
    * multiselect.
    */
  def dayLoad(summary: DataFrame, date: String,
      machines: Seq[String] = Nil): DataFrame = {
    val day = summary.filter(col("summary_date") === lit(java.sql.Date.valueOf(date)))
    val picked =
      if (machines.isEmpty) day
      else day.filter(col("machine_id").isin(machines.map(lit): _*))
    picked.orderBy(asc("hour_of_day"))
  }

  def main(args: Array[String]): Unit = {
    val (db, cores) = (for {
      db <- DailyAggregatorMain.requiredEnv(sys.env,
        Seq("DB_HOST", "DB_NAME", "DB_USER", "DB_PASS"))
      cores <- DailyAggregatorMain.positiveInt(sys.env, "GRAFT_CORES", 4)
    } yield (db, cores)) match {
      case Right(ok) => ok
      case Left(err) => System.err.println(err); sys.exit(1)
    }
    val date = args.toSeq match {
      case Seq() => None
      case Seq(d) =>
        try Some(java.time.LocalDate.parse(d).toString)
        catch { case _: java.time.format.DateTimeParseException =>
          System.err.println(s"invalid date '$d' (expected e.g. 2024-10-16)")
          sys.exit(1)
        }
      case _ => System.err.println("usage: DashboardMain [YYYY-MM-DD]"); sys.exit(1)
    }
    val machines = sys.env.get("GRAFT_MACHINES")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSeq).getOrElse(Nil)

    val url = s"jdbc:postgresql://${db("DB_HOST")}/${db("DB_NAME")}"
    val props = new java.util.Properties()
    props.setProperty("user", db("DB_USER"))
    props.setProperty("password", db("DB_PASS"))
    props.setProperty("driver", "org.postgresql.Driver")

    val spark: SparkSession = GraftSession.local(cores, "graft-dashboard")
    try {
      val summary = JdbcSinks.read(spark, url, "hourly_machine_summary", props)
      date match {
        case None => availableDates(summary).show(100, truncate = false)
        case Some(d) => dayLoad(summary, d, machines).show(48, truncate = false)
      }
    } finally spark.stop()
  }
}
