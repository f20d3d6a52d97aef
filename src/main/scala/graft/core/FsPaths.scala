package graft.core

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession

/** Hadoop-filesystem path identity, for guards that must hold wherever
  * parquet lives (HDFS/S3 at deployment, local in tests).
  * `java.io.File.getAbsolutePath` is meaningless for scheme'd URIs —
  * `hdfs://x` vs `hdfs://x/` compare unequal as strings yet alias one
  * location, and a relative local path can collide with a remote one.
  * Qualifying through the path's own FileSystem (default scheme +
  * authority + working-dir resolution, trailing-slash normalization)
  * makes the comparison mean "same storage location".
  */
object FsPaths {

  /** The fully-qualified form of `p` under the session's Hadoop conf. */
  def qualified(spark: SparkSession, p: String): Path = {
    val path = new Path(p)
    path.getFileSystem(spark.sessionState.newHadoopConf())
      .makeQualified(path)
  }

  /** True when the two strings resolve to the same qualified location. */
  def samePath(spark: SparkSession, a: String, b: String): Boolean =
    qualified(spark, a) == qualified(spark, b)

  def exists(spark: SparkSession, p: String): Boolean = {
    val q = qualified(spark, p)
    q.getFileSystem(spark.sessionState.newHadoopConf()).exists(q)
  }

  /** Names of the direct children of `dir` starting with `prefix`
    * (empty when `dir` is absent) — one FileSystem listing, no Spark
    * job; lets guards inspect WHICH slices exist (e.g. the drift check
    * skipping only when no non-`base` slice is present) without a
    * parquet read.
    */
  def childNames(spark: SparkSession, dir: String, prefix: String): Seq[String] = {
    val q = qualified(spark, dir)
    val fs = q.getFileSystem(spark.sessionState.newHadoopConf())
    if (!fs.exists(q)) Seq.empty
    else fs.listStatus(q).toSeq.map(_.getPath.getName)
      .filter(_.startsWith(prefix))
  }

  private def freshOf(live: Path) = new Path(live.toString + "__compact")
  private def oldOf(live: Path) = new Path(live.toString + "__old")

  /** Rebuild `liveDir` through a scratch directory and swap it in —
    * the in-loop form of the offline "compact to a fresh dir, swap
    * between ticks" recipe both ingest indexes document. `build` writes
    * the replacement into a `<liveDir>__compact` scratch path (wiped
    * first, so a crashed earlier attempt can't leak half-written
    * slices); the swap is then two renames — live → `__old`,
    * scratch → live — followed by deleting `__old`. Renames are atomic
    * per directory on HDFS and local filesystems, so a reader never
    * sees a half-compacted live directory; every crash window in
    * between is healed by [[recoverSwap]], which runs FIRST here — a
    * caller invoking this on an interrupted-swap state (live missing,
    * `__compact` or `__old` holding the only copy) must get the heal
    * before the scratch wipe, or the wipe would destroy the index.
    */
  def rebuildAndSwap(spark: SparkSession, liveDir: String)(
      build: String => Unit): Unit = {
    recoverSwap(spark, liveDir)
    val conf = spark.sessionState.newHadoopConf()
    val live = qualified(spark, liveDir)
    val fs = live.getFileSystem(conf)
    val fresh = freshOf(live)
    val old = oldOf(live)
    if (fs.exists(fresh)) fs.delete(fresh, true)
    if (fs.exists(old)) fs.delete(old, true)
    build(fresh.toString)
    def mustRename(a: Path, b: Path): Unit =
      require(fs.rename(a, b), s"swap rename failed: $a -> $b")
    if (fs.exists(live)) mustRename(live, old)
    mustRename(fresh, live)
    fs.delete(old, true)
    ()
  }

  /** Deletes the `batch=<tag>` slice dirs of `tables` under `indexDir` —
    * a crashed attempt's uncommitted leftovers. Safe by the replay
    * contract: this runs at the START of the tag's replay, before the
    * tick's own overwrite-append, and every reader already excludes the
    * current tag — but until the replay's write lands, the leftover
    * occupies disk and bloats partition listings, and without this it
    * lingered until some LATER compaction happened to fire. One
    * existence check + recursive delete per table; missing dirs no-op.
    */
  def dropCrashedTag(spark: SparkSession, indexDir: String,
      tables: Seq[String], tag: String): Unit = {
    val conf = spark.sessionState.newHadoopConf()
    tables.foreach { t =>
      val p = qualified(spark, s"$indexDir/$t/batch=$tag")
      val fs = p.getFileSystem(conf)
      if (fs.exists(p)) fs.delete(p, true)
      ()
    }
  }

  /** Heal an interrupted [[rebuildAndSwap]] — call before reading
    * `liveDir` at the start of a tick. Crash windows and their fixes:
    * after `live → __old` but before `__compact → live` (live missing,
    * scratch complete → finish the second rename); after the second
    * rename but before the `__old` delete (live present, stale `__old`
    * → delete it). A crash DURING the build leaves live untouched and
    * a partial scratch dir, which the next rebuild wipes.
    */
  def recoverSwap(spark: SparkSession, liveDir: String): Unit = {
    val conf = spark.sessionState.newHadoopConf()
    val live = qualified(spark, liveDir)
    val fs = live.getFileSystem(conf)
    val fresh = freshOf(live)
    val old = oldOf(live)
    if (!fs.exists(live)) {
      if (fs.exists(fresh)) fs.rename(fresh, live)
      else if (fs.exists(old)) fs.rename(old, live)
    }
    if (fs.exists(live) && fs.exists(old)) fs.delete(old, true)
    ()
  }
}
