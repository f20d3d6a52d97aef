package graft.tools

import org.apache.spark.sql.DataFrame

/** Shared timing/forcing, env-parsing and number-rendering helpers for
  * the measurement mains (`graft.Bench`, ReferenceShapeBench,
  * QueryJobProfile, StreamProfileBench) plus the steal rule of
  * `graft.Bench`'s medians. One copy so a methodology fix lands
  * everywhere at once; `graft.Bench` keeps its own richer `timeMedian`
  * (cache clearing + GC/load/steal telemetry) because its numbers feed
  * the committed bench artifact.
  */
private[graft] object BenchUtil {

  /** Force full evaluation through the noop sink — unlike `count()`,
    * Catalyst cannot prune projections or skip expression work. */
  def force(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  def time(body: => Unit): Double = {
    val t0 = System.nanoTime()
    body
    (System.nanoTime() - t0) / 1e9
  }

  /** A positive-integer env knob of a measurement main, parsed by the
    * production mains' `DailyAggregatorMain.positiveInt`: a bad value
    * exits 1 with `invalid <KEY> '<v>' …` before any session starts. */
  def envPositiveInt(key: String, default: Int): Int =
    graft.pipeline.DailyAggregatorMain.positiveInt(sys.env, key, default) match {
      case Right(v) => v
      case Left(err) => System.err.println(err); sys.exit(1)
    }

  /** True midpoint median: even-length inputs average the two middle
    * elements (picking the upper-middle alone biases the stat upward). */
  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    val n = s.size
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2.0
  }

  /** Locale-independent fixed-point rendering with `dp` decimals: the
    * `f` interpolator is default-locale-sensitive and emits a comma
    * decimal separator (= invalid JSON) under e.g. de_DE. */
  def fmt(x: Double, dp: Int): String =
    String.format(java.util.Locale.ROOT, s"%.${dp}f", Double.box(x))

  /** SHA-256 of a file's bytes as lowercase hex; empty string when the
    * file is unreadable. */
  def sha256(path: String): String =
    try {
      val bytes = java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(path))
      java.security.MessageDigest.getInstance("SHA-256").digest(bytes)
        .map("%02x".format(_)).mkString
    } catch { case _: Throwable => "" }

  /** Share of a trial's wall time that hypervisor steal may take before
    * the trial is dropped from its median. */
  private val StealFrac = 0.2

  /** Steal-contaminated trial test (round-17 verdict task 1): a trial
    * whose recorded hypervisor steal exceeds [[StealFrac]] of its own
    * wall time is measurement garbage the artifact itself has proven — the
    * committed r17 capture formed `ext_dedup_jaccard`'s 5.59 s median
    * from trials carrying 2.4/70.0/36.2 s of steal on ~5 s of wall.
    * `stealMs <= 0` (quiet, or /proc/stat unavailable = -1) is clean:
    * no evidence is not evidence of contamination. */
  def stealDirty(wallSec: Double, stealMs: Long): Boolean =
    stealMs > 0 && stealMs.toDouble > wallSec * 1000.0 * StealFrac

  /** True while fewer than `want` trials are steal-clean. The bench
    * retry loop samples extra trials until this returns false or the
    * retry budget is spent — dirty trials never leave the measured
    * list, so testing "any dirty?" instead would burn every retry even
    * after clean replacements already restored the count. */
  def needMoreCleanTrials(walls: Seq[Double], stealMs: Seq[Long], want: Int): Boolean =
    walls.indices.count(i => !stealDirty(
      walls(i), stealMs.applyOrElse(i, (_: Int) => -1L))) < want

  /** Splits trial indices into (kept, discarded) under [[stealDirty]].
    * When EVERY trial is dirty, all are kept (an all-contaminated
    * session has no clean median to offer; the full steal columns in
    * the artifact say so) and nothing is discarded. */
  def splitBySteal(walls: Seq[Double], stealMs: Seq[Long]): (Seq[Int], Seq[Int]) = {
    val (bad, good) = walls.indices.partition(i =>
      stealDirty(walls(i), stealMs.applyOrElse(i, (_: Int) => -1L)))
    if (good.isEmpty) (walls.indices.toSeq, Nil) else (good, bad)
  }
}
