package graft
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}
/** Correctness dump: each SparkEntry.queries result → parquet, plus
  * oracle_sql.json, for the DuckDB oracle compare. An entry that throws
  * does not stop the dump; once every other entry and oracle_sql.json are
  * written, Verify names each failed entry and exits 1. */
object Verify {

  /** The deliberately RAW driver-shaped session (no GraftSession extras):
    * registered queries must self-configure any conf they depend on, and
    * running them here is the regression guard for that. PlanDump uses
    * the same builder so its plans match what Verify executes.
    */
  def rawDriverSession(cpus: String): SparkSession = SparkSession.builder()
    .master(s"local[$cpus]")
    .config("spark.sql.shuffle.partitions", cpus)
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.sql.ansi.enabled", "false")
    .config("spark.sql.legacy.parquet.nanosAsLong", "true")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  /** `<sfDir> <outDir>`, or the usage line for any other arity. */
  private[graft] def parseArgs(args: Seq[String]): Either[String, (String, String)] =
    args match {
      case Seq(sfDir, outDir) => Right((sfDir, outDir))
      case _ => Left("usage: Verify <sfDir> <outDir>")
    }

  /** The names of a subset filter that name no catalog entry, sorted. */
  private[graft] def unknownNames(only: Set[String], known: Set[String]): Seq[String] =
    only.diff(known).toSeq.sorted

  def main(args: Array[String]): Unit = {
    val (sfDir, outDir) = parseArgs(args.toSeq) match {
      case Right(a) => a
      case Left(usage) => System.err.println(usage); sys.exit(2)
    }
    // Optional name filter for local iteration (comma-separated); the
    // driver never sets it, so driver runs always dump the full catalog.
    // A misspelt name is an error, not a silently skipped entry.
    val only = sys.env.get("SPARK_GRAFT_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet).getOrElse(Set.empty[String])
    val unknown = unknownNames(only, SparkEntry.queries.keySet)
    if (unknown.nonEmpty) {
      System.err.println(s"unknown SPARK_GRAFT_ONLY entries: ${unknown.mkString(", ")}")
      sys.exit(2)
    }
    val cpus = graft.tools.BenchUtil.envPositiveInt("SPARK_GRAFT_CPUS", 4)
    val spark = rawDriverSession(cpus.toString)
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    val failed = scala.collection.mutable.ArrayBuffer.empty[String]
    SparkEntry.queries
      .filter { case (name, _) => only.isEmpty || only(name) }
      .foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
        failed += name
      }
      // queries persist intermediates for their own multi-branch plans;
      // drop them between queries so cache pressure doesn't accumulate
      spark.sharedState.cacheManager.clearCache()
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
    if (failed.nonEmpty) {
      System.err.println(s"[verify] ${failed.size} entries failed: ${failed.mkString(", ")}")
      sys.exit(1)
    }
  }
}
