package graft.core

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Session factory for the engine.
  *
  * Mirrors the reference's session config (`src/daily_aggregator.py:125-129`:
  * UTC session timezone) and adds AQE (runtime re-planning, skew-join
  * splitting, partition coalescing) and a shuffle-partition count sized to
  * the core count. A session that spark-submit creates gets the same SQL
  * confs from `SparkEntry`.
  */
object GraftSession {

  /** The SQL confs every engine session runs under — the one copy.
    * [[local]] builds its session with them; `SparkEntry` sets them per
    * call on a driver-created session, so both run the same conf set.
    */
  val sqlConfs: Seq[(String, String)] = Seq(
    "spark.sql.session.timeZone" -> "UTC",
    "spark.sql.ansi.enabled" -> "false",
    "spark.sql.legacy.parquet.nanosAsLong" -> "true",
    "spark.sql.adaptive.enabled" -> "true",
    "spark.sql.adaptive.coalescePartitions.enabled" -> "true",
    "spark.sql.adaptive.skewJoin.enabled" -> "true",
    // r19 optimization: let AQE re-plan (and coalesce) the plan fragment
    // that POPULATES a cache. Off, every persist() in the dedup/ANN
    // family materializes at the static shuffle-partition count and all
    // its consumers inherit that task count — measured (QueryJobProfile)
    // as wall-to-wall 32-near-empty-task stages at small batch sizes; at
    // cluster scale it equally lets cached fragments right-size to data
    // volume instead of the static conf. Results are partitioning-
    // independent by the repo-wide bit-determinism contract.
    "spark.sql.optimizer.canChangeCachedPlanOutputPartitioning" -> "true",
    "spark.sql.adaptive.coalescePartitions.minPartitionSize" -> "64KB")

  /** The engine session on `cores` local cores. Note [[sqlConfs]]: ANSI
    * off is PySpark-3.5 reference parity (failed casts/parses yield NULL —
    * cleanse depends on it; Spark 4 flipped the default), and nanosAsLong lets a
    * TIMESTAMP(NANOS)-encoded events corpus scan as int64 (normalized to
    * µs TimestampType in Tables.events — see fixNanos for all four
    * encodings, matching DuckDB's truncation).
    */
  def local(cores: Int = 32, appName: String = "graft"): SparkSession = {
    val spark = sqlConfs
      .foldLeft(SparkSession.builder()) { case (b, (k, v)) => b.config(k, v) }
      .master(s"local[$cores]")
      .appName(appName)
      .withExtensions(new GraftExtensions)
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    GraftExtensions.ensure(spark)
    spark
  }
}

/** Loaders for the driver-supplied parquet corpus (TESTDATA.md).
  *
  * All reads are plain `spark.read.parquet` so Catalyst gets native
  * filter pushdown and column pruning against the parquet footers — at
  * 100 TB the scan is the dominant cost and must prune both columns and
  * row groups.
  */
object Tables {
  def load(spark: SparkSession, dir: String, name: String): DataFrame =
    spark.read.parquet(s"$dir/$name.parquet")

  /** Normalize the four timestamp encodings a wild parquet corpus ships to
    * one internal `TimestampType` (micros, instants):
    *
    *  1. TIMESTAMP(NANOS) — with `spark.sql.legacy.parquet.nanosAsLong=true`
    *     it scans as int64 nanos; floor-divide to micros (exactly DuckDB's
    *     truncation) and restore TimestampType.
    *  2. TIMESTAMP(MICROS, isAdjustedToUTC=false) — vanilla pandas/pyarrow
    *     `timestamp[us]`; Spark infers TIMESTAMP_NTZ. The stored wall-clock
    *     is the UTC instant (exactly DuckDB's naive reading of the same
    *     file), so re-express it in the session zone before the cast: a
    *     bare `cast(TimestampType)` would interpret the wall-clock in the
    *     session zone and silently shift instants on any non-UTC session.
    *  3. TIMESTAMP(MICROS, isAdjustedToUTC=true) — already TimestampType;
    *     pass through unchanged.
    *  4. Legacy INT96 (old Spark/Hive/Impala writers) — scans natively as
    *     TimestampType; pass through unchanged.
    */
  private def fixNanos(df: DataFrame, c: String): DataFrame = {
    import org.apache.spark.sql.functions._
    df.schema(c).dataType match {
      case org.apache.spark.sql.types.LongType =>
        df.withColumn(c, timestamp_micros(expr(s"$c div 1000")))
      case org.apache.spark.sql.types.TimestampNTZType =>
        // Pure wall-clock arithmetic: micros since the NTZ epoch, no zone
        // round-trip. A convert_timezone(UTC→session) + cast pipeline would
        // resolve DST-ambiguous wall clocks (the session zone's fall-back
        // repeated hour) to the earlier offset and silently shift those
        // instants; timestampdiff over two NTZ values never consults a zone.
        df.withColumn(c, timestamp_micros(expr(
          s"timestampdiff(MICROSECOND, TIMESTAMP_NTZ'1970-01-01 00:00:00', `$c`)")))
      case _ => df
    }
  }

  def lineitem(s: SparkSession, d: String): DataFrame   = load(s, d, "lineitem")
  def orders(s: SparkSession, d: String): DataFrame     = load(s, d, "orders")
  def customer(s: SparkSession, d: String): DataFrame   = load(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame   = load(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame       = load(s, d, "part")
  def nation(s: SparkSession, d: String): DataFrame     = load(s, d, "nation")
  def region(s: SparkSession, d: String): DataFrame     = load(s, d, "region")
  def events(s: SparkSession, d: String): DataFrame     = fixNanos(load(s, d, "events"), "ts")
  def documents(s: SparkSession, d: String): DataFrame  = load(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = load(s, d, "embeddings")
}
