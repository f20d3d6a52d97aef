package graft.streaming

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.StreamingQuery

import graft.core.GraftSession
import graft.io.JdbcSinks
import graft.model.Rules

/** CLI entry point for the pipeline's STREAMING form — the always-on
  * counterpart of [[graft.pipeline.DailyAggregatorMain]]: instead of one
  * spark-submit per daily CSV, it watches the data directory and
  * maintains the full 19-column hourly summary in the JDBC table
  * continuously. Upserts are idempotent, so micro-batch replays after a
  * crash/restart are safe (exactly-once effect on the summary table),
  * and the checkpoint keeps per-machine cycle state across restarts.
  *
  * Environment (same contract as the batch main):
  *   - `DB_HOST`, `DB_NAME`, `DB_USER`, `DB_PASS` — required;
  *   - `GRAFT_DATA_DIR` — watched input directory (default `./raw_data`);
  *   - `GRAFT_CONFIG` — rules JSON (default `./config/rules.json`;
  *     missing file ⇒ no rules, all events clean);
  *   - `GRAFT_CHECKPOINT` — streaming checkpoint dir (default
  *     `./checkpoint`; must be durable in production);
  *   - `GRAFT_WATERMARK` — lateness bound (default `2 hours`);
  *   - `GRAFT_CORES` — local parallelism (default 32);
  *   - `GRAFT_STATE_PARTITIONS` — state/shuffle partitions for the
  *     stateful query (default 8, the measured key-geometry rule —
  *     see [[StreamingPipeline.configureStateSizing]]);
  *   - `GRAFT_STATE_PROVIDER` — `hdfs` (default) or `rocksdb` to swap
  *     the state store (measured to flip with key count; re-derive with
  *     `graft.tools.StreamProfileBench`).
  *
  * A malformed value exits 1 with a message naming the variable
  * ([[settings]]).
  */
object StreamingMain {

  /** The wired query, separated from env/arg parsing so tests can run it
    * against any JDBC target and directory.
    */
  def run(
      spark: SparkSession,
      watchDir: String,
      url: String,
      table: String,
      dialect: JdbcSinks.UpsertDialect,
      checkpointDir: String,
      rules: Seq[graft.model.EventRule],
      watermark: String = "2 hours",
      props: Map[String, String] = Map.empty,
      statePartitions: Int = StreamingPipeline.DefaultStatePartitions,
      rocksDbStateStore: Boolean = false): StreamingQuery =
    // stateful queries are commit-bound when over-partitioned — size
    // state partitions to key geometry, not batch defaults (measured:
    // StreamingPipeline.configureStateSizing scaladoc / PLANS.md sweep).
    // Scoped: the caller's session conf is restored once the query has
    // started (the query keeps the sizing via its cloned session), so a
    // session shared with batch work is not left on 8 shuffle partitions.
    StreamingPipeline.withStateSizing(spark, statePartitions, rocksDbStateStore) {
      // dedup BEFORE the stateful stages: a collector re-dropping a day's
      // CSV under a new filename is a brand-new file to the file source,
      // and without this stage its rows would re-enter cycle state and
      // inflate the summary counts the upsert then persists
      val clean = StreamingPipeline.dedupedEvents(
        StreamingPipeline.cleanse(
          StreamingPipeline.readCsvStream(spark, watchDir)),
        watermark)
      val summary = StreamingPipeline.hourlySummaryStream(clean, rules, watermark)
      summary.writeStream
        .outputMode("update")
        .option("checkpointLocation", checkpointDir)
        .foreachBatch { (df: org.apache.spark.sql.DataFrame, _: Long) =>
          JdbcSinks.upsert(df, url, table,
            keyCols = Seq("summary_date", "hour_of_day", "machine_id"),
            dialect = dialect, props = props)
        }
        .start()
    }

  /** What [[main]] reads from its environment (see the object doc). */
  final case class Settings(
      dataDir: String,
      configPath: String,
      checkpointDir: String,
      watermark: String,
      cores: Int,
      statePartitions: Int,
      rocksDbStateStore: Boolean,
      url: String,
      props: Map[String, String])

  /** The environment contract, separated from [[main]] so tests can
    * inject env. A missing DB variable, a state provider other than
    * `hdfs`/`rocksdb`, or a count that is not a positive integer is an
    * error naming the variable — the clean exit-1 path, not a
    * NumberFormatException trace or a silently swapped store.
    */
  def settings(env: Map[String, String]): Either[String, Settings] = {
    import graft.pipeline.DailyAggregatorMain.{positiveInt, requiredEnv}
    for {
      db <- requiredEnv(env, Seq("DB_HOST", "DB_NAME", "DB_USER", "DB_PASS"))
      cores <- positiveInt(env, "GRAFT_CORES", 32)
      stateParts <- positiveInt(env, "GRAFT_STATE_PARTITIONS",
        StreamingPipeline.DefaultStatePartitions)
      rocksDb <- env.get("GRAFT_STATE_PROVIDER").fold[Either[String, Boolean]](Right(false))(
        StreamingPipeline.stateStoreFlag("GRAFT_STATE_PROVIDER", _))
    } yield Settings(
      dataDir = env.getOrElse("GRAFT_DATA_DIR", "./raw_data"),
      configPath = env.getOrElse("GRAFT_CONFIG", "./config/rules.json"),
      checkpointDir = env.getOrElse("GRAFT_CHECKPOINT", "./checkpoint"),
      watermark = env.getOrElse("GRAFT_WATERMARK", "2 hours"),
      cores = cores,
      statePartitions = stateParts,
      rocksDbStateStore = rocksDb,
      url = s"jdbc:postgresql://${db("DB_HOST")}/${db("DB_NAME")}",
      props = Map(
        "user" -> db("DB_USER"), "password" -> db("DB_PASS"),
        "driver" -> "org.postgresql.Driver"))
  }

  def main(args: Array[String]): Unit = {
    val cfg = settings(sys.env) match {
      case Right(ok) => ok
      case Left(err) => System.err.println(err); sys.exit(1)
    }
    val rules = Rules.loadFileOrEmpty(cfg.configPath)
    val spark = GraftSession.local(cfg.cores, "graft-streaming")
    try {
      val q = run(spark, cfg.dataDir, cfg.url, "hourly_machine_summary",
        JdbcSinks.dialectFor(cfg.url), cfg.checkpointDir, rules, cfg.watermark, cfg.props,
        statePartitions = cfg.statePartitions, rocksDbStateStore = cfg.rocksDbStateStore)
      q.awaitTermination()
    } catch {
      case e: Exception =>
        System.err.println(s"streaming pipeline failed: ${e.getMessage}")
        sys.exit(1)
    } finally spark.stop()
  }
}
