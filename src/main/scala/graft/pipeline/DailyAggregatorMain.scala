package graft.pipeline

import graft.core.GraftSession
import graft.io.JdbcSinks
import graft.model.Rules

/** CLI entry point — the drop-in replacement for the reference's
  * `spark-submit daily_aggregator.py <file.csv>` invocation
  * (`/root/reference/src/daily_aggregator.py:292-301` arg validation,
  * `:143-150` env-driven DB credentials, `:131-141` tolerated-missing
  * rule config).
  *
  * Environment:
  *   - `DB_HOST`, `DB_NAME`, `DB_USER`, `DB_PASS` — required (exit 1 when
  *     missing, like the reference's ValueError path);
  *   - `GRAFT_DATA_DIR` — input directory (default `./raw_data`);
  *   - `GRAFT_CONFIG` — rules JSON (default `./config/rules.json`;
  *     missing file ⇒ no rules, all events clean);
  *   - `GRAFT_CORES` — local parallelism (default 32; not a positive
  *     integer ⇒ exit 1 naming the variable).
  *
  * The summary write is a true upsert (re-running a day updates in
  * place), not the reference's append-and-swallow-PK-violation.
  */
object DailyAggregatorMain {

  /** Filename-only validation, as the reference does: no path separators,
    * must end in `.csv`.
    */
  def validateFilename(arg: String): Either[String, String] =
    if (arg.contains('/') || arg.contains('\\')) Left(s"invalid filename (no paths allowed): $arg")
    else if (!arg.endsWith(".csv")) Left(s"invalid filename (must end in .csv): $arg")
    else Right(arg)

  def requiredEnv(env: Map[String, String], keys: Seq[String]): Either[String, Map[String, String]] = {
    val missing = keys.filterNot(env.contains)
    if (missing.nonEmpty) Left(s"missing required environment: ${missing.mkString(", ")}")
    else Right(env)
  }

  /** A count from the environment: `default` when `key` is unset, else a
    * positive integer or an error naming the variable — the clean exit-1
    * path, not a NumberFormatException trace.
    */
  def positiveInt(env: Map[String, String], key: String, default: Int): Either[String, Int] =
    env.get(key).fold[Either[String, Int]](Right(default)) { raw =>
      raw.toIntOption.filter(_ > 0)
        .toRight(s"invalid $key '$raw' (expected a positive integer)")
    }

  def main(args: Array[String]): Unit = {
    val file = args.toSeq match {
      case Seq(f) => validateFilename(f) match {
        case Right(ok) => ok
        case Left(err) => System.err.println(err); sys.exit(1)
      }
      case _ => System.err.println("usage: DailyAggregatorMain <file.csv>"); sys.exit(1)
    }
    val env = sys.env
    val (db, cores) = (for {
      db <- requiredEnv(env, Seq("DB_HOST", "DB_NAME", "DB_USER", "DB_PASS"))
      cores <- positiveInt(env, "GRAFT_CORES", 32)
    } yield (db, cores)) match {
      case Right(ok) => ok
      case Left(err) => System.err.println(err); sys.exit(1)
    }
    val dataDir = env.getOrElse("GRAFT_DATA_DIR", "./raw_data")
    val configPath = env.getOrElse("GRAFT_CONFIG", "./config/rules.json")
    val rules = Rules.loadFileOrEmpty(configPath) // malformed JSON is fatal

    val url = s"jdbc:postgresql://${db("DB_HOST")}/${db("DB_NAME")}"
    val props = new java.util.Properties()
    props.setProperty("user", db("DB_USER"))
    props.setProperty("password", db("DB_PASS"))
    props.setProperty("driver", "org.postgresql.Driver")

    val spark = GraftSession.local(cores, "graft-daily")
    try {
      val out = DailyAggregatorJob.run(spark, s"$dataDir/$file", rules)
      JdbcSinks.append(out.enrichedEvents, url, "processed_machine_events", props)
      JdbcSinks.upsert(out.hourlySummary, url, "hourly_machine_summary",
        keyCols = Seq("summary_date", "hour_of_day", "machine_id"),
        dialect = JdbcSinks.dialectFor(url),
        props = Map("user" -> db("DB_USER"), "password" -> db("DB_PASS"),
          "driver" -> "org.postgresql.Driver"))
      out.unpersist()
    } catch {
      case e: Exception =>
        System.err.println(s"pipeline failed: ${e.getMessage}")
        sys.exit(1)
    } finally spark.stop()
  }
}
