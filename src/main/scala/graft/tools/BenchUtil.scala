package graft.tools

import org.apache.spark.sql.DataFrame

/** Shared timing/forcing and env-parsing helpers for the measurement mains
  * (`graft.Bench`, ReferenceShapeBench, QueryJobProfile,
  * StreamProfileBench) plus the history/steal bookkeeping of
  * `graft.Bench`'s artifact. One copy so a methodology fix lands
  * everywhere at once; `graft.Bench` keeps its own richer `timeMedian`
  * (cache clearing + GC/load telemetry) because its numbers feed the
  * per-round BENCH artifact.
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

  /** Locale-independent fixed-point rendering: `f"%.3f"` is
    * default-locale-sensitive and emits a comma decimal separator (=
    * invalid JSON) under e.g. de_DE. */
  def fmt3(x: Double): String =
    String.format(java.util.Locale.ROOT, "%.3f", Double.box(x))

  /** SHA-256 of a file's bytes as lowercase hex; empty string when the
    * file is unreadable. One copy for the artifact's self-hash and the
    * prior-file hash — divergent duplicates could silently emit
    * incommensurable hashes. */
  def sha256(path: String): String =
    try {
      val bytes = java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(path))
      java.security.MessageDigest.getInstance("SHA-256").digest(bytes)
        .map("%02x".format(_)).mkString
    } catch { case _: Throwable => "" }

  /** Parses the rolling `"history"` block (query → last-N committed
    * medians) out of a prior `bench_full.json`, or an entire seed file
    * whose content IS the map (`wholeFile = true`). The block is located
    * by the literal `"history":` key and delimited by a BALANCED-brace
    * scan from the `{` that follows it — not "first `}` after the key",
    * which silently truncated the window if the map ever grew nested
    * braces. Parsing the whole artifact instead would also match the
    * per-query `trials`/`gc_ms` arrays, so the block extraction stays.
    * Remaining invariant (asserted here): the value after the key must
    * BE the map — JSON allows only whitespace between a key and its
    * value, so a non-`{` first character means the artifact writer
    * changed shape, and the parse returns empty rather than guessing.
    */
  def parseHistory(text: String, wholeFile: Boolean = false): Map[String, Seq[Double]] = {
    val body =
      if (wholeFile) text
      else {
        val i = text.indexOf("\"history\":")
        if (i < 0) return Map.empty
        val start = text.indexOf('{', i)
        // nothing but whitespace may sit between the key and its map
        if (start < 0 ||
          !text.substring(i + "\"history\":".length, start).forall(_.isWhitespace))
          return Map.empty
        var depth = 0; var j = start; var end = -1
        while (j < text.length && end < 0) {
          text.charAt(j) match {
            case '{' => depth += 1
            case '}' => depth -= 1; if (depth == 0) end = j
            case _ => ()
          }
          j += 1
        }
        if (end < 0) return Map.empty
        text.substring(start, end)
      }
    val re = """"([A-Za-z0-9_]+)":\s*\[([^\]]*)\]""".r
    re.findAllMatchIn(body).flatMap { m =>
      val vals = m.group(2).split(",").toSeq.map(_.trim).filter(_.nonEmpty)
        .flatMap(s => scala.util.Try(s.toDouble).toOption)
      if (vals.isEmpty) None else Some(m.group(1) -> vals)
    }.toMap
  }

  /** Rolls the committed-medians history forward one round: the prior
    * artifact's history plus the prior run's own median, newest last,
    * keeping `keep`. The current run's numbers are deliberately NOT
    * included — the block always describes prior committed rounds, so
    * the creep check compares against history this run cannot touch. */
  def rollHistory(
      priorHistory: Map[String, Seq[Double]],
      priorMedians: Map[String, Double],
      keep: Int = 3): Map[String, Seq[Double]] = {
    val keys = priorHistory.keySet ++ priorMedians.keySet
    keys.iterator.map { k =>
      val h = priorHistory.getOrElse(k, Seq.empty) ++
        priorMedians.get(k).filter(_ >= 0).toSeq
      k -> h.takeRight(keep)
    }.filter(_._2.nonEmpty).toMap
  }

  /** Steal-contaminated trial test (round-17 verdict task 1): a trial
    * whose recorded hypervisor steal exceeds `frac` of its own wall time
    * is measurement garbage the artifact itself has proven — the
    * committed r17 capture formed `ext_dedup_jaccard`'s 5.59 s median
    * from trials carrying 2.4/70.0/36.2 s of steal on ~5 s of wall.
    * `stealMs <= 0` (quiet, or /proc/stat unavailable = -1) is clean:
    * no evidence is not evidence of contamination. */
  def stealDirty(wallSec: Double, stealMs: Long, frac: Double = 0.2): Boolean =
    stealMs > 0 && stealMs.toDouble > wallSec * 1000.0 * frac

  /** True while fewer than `want` trials are steal-clean. The bench
    * retry loop samples extra trials until this returns false or the
    * retry budget is spent — dirty trials never leave the measured
    * list, so testing "any dirty?" instead would burn every retry even
    * after clean replacements already restored the count. */
  def needMoreCleanTrials(walls: Seq[Double], stealMs: Seq[Long],
      want: Int, frac: Double = 0.2): Boolean =
    walls.indices.count(i => !stealDirty(
      walls(i), stealMs.applyOrElse(i, (_: Int) => -1L), frac)) < want

  /** Splits trial indices into (kept, discarded) under [[stealDirty]].
    * When EVERY trial is dirty, all are kept (an all-contaminated
    * session has no clean median to offer; the full steal columns in
    * the artifact say so) and nothing is discarded. */
  def splitBySteal(walls: Seq[Double], stealMs: Seq[Long],
      frac: Double = 0.2): (Seq[Int], Seq[Int]) = {
    val (bad, good) = walls.indices.partition(i =>
      stealDirty(walls(i), stealMs.applyOrElse(i, (_: Int) => -1L), frac))
    if (good.isEmpty) (walls.indices.toSeq, Nil) else (good, bad)
  }

  /** Sub-gate creep detection (round-16 verdict task 2): entries whose
    * median is ≥ `minSec` AND exceeds the BEST committed median of the
    * history window by ≥ `ratio`. The single-round isolation gate only
    * flags ≥1.5× movers vs LAST round, so a family drifting ~1.3–1.4×
    * per round compounds forever unseen (`ext_semdedup` did 6.96 →
    * 7.06 → 10.05 s across r14–r16 without ever tripping it; vs the
    * 3-round best that r16 number is 1.44× — caught). Returns
    * (query, median, bestPrior, ratio) sorted worst-first. */
  def creepFlags(
      current: Map[String, Double],
      history: Map[String, Seq[Double]],
      minSec: Double = 1.0,
      ratio: Double = 1.3): Seq[(String, Double, Double, Double)] =
    current.toSeq.flatMap { case (q, m) =>
      history.get(q).map(_.filter(_ >= 0.05)).filter(_.nonEmpty).map(_.min) match {
        case Some(best) if m >= minSec && m / best >= ratio =>
          Some((q, m, best, m / best))
        case _ => None
      }
    }.sortBy(-_._4)
}
