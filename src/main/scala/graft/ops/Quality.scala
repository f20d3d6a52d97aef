package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Data-quality gates and distribution-drift monitors — the validation
  * surface a 100 TB ingest pipeline runs BEFORE data is allowed to join
  * a training corpus (expectation checks, Deequ-style) and BETWEEN
  * snapshots to catch upstream shifts (PSI / KS drift).
  *
  * Scale shapes:
  *  - [[expectations]] compiles every declared check into ONE
  *    map-side-combinable aggregation pass over the table (referential-
  *    integrity checks pre-join their bounded dimension broadcast-left
  *    so the fact side is still scanned once). The only non-combinable
  *    aggregate is the exact `countDistinct` behind `Unique` — the
  *    observed gate swaps it for `approx_count_distinct`, which
  *    `CollectMetrics` can carry.
  *  - [[psiDrift]] derives exact reference-quantile bin edges from the
  *    per-VALUE count table (cumulative window over DISTINCT values
  *    only — the buildVocab/spearman bounded-domain pattern, never a
  *    global row sort), collects the ≤ bins-1 edge scalars (bounded
  *    artifact, like the BPE argmax row), and buckets both snapshots
  *    with a codegen'd comparison fold — map-only over the data, one
  *    aggregate per side.
  *  - [[ksDrift]] computes the exact two-sample Kolmogorov–Smirnov
  *    statistic from the merged DISTINCT-value CDF table — one
  *    aggregate to the value domain, one bounded cumulative window,
  *    one max. No sampling, no approximation.
  *  - [[winsorize]] clips at exact per-group percentiles (the
  *    a8/percentile_disc rank formulation — windows are PARTITIONED by
  *    the group key, never global) and reports bounds + clip counts per
  *    group.
  */
object Quality {

  /** One declared expectation over a table. `threshold` semantics: the
    * check passes when the violation metric is <= threshold (RowCount:
    * metric is the row count itself, passing inside [lo, hi]).
    */
  sealed trait Check
  object Check {
    /** Null fraction of `column` (nulls / ALL rows) must be <= maxNullFrac. */
    final case class NotNull(column: String, maxNullFrac: Double = 0.0) extends Check
    /** Duplicate fraction (non-null rows beyond the first per value,
      * over ALL rows) must be <= maxDupFrac. */
    final case class Unique(column: String, maxDupFrac: Double = 0.0) extends Check
    /** Violating-row fraction (non-null values outside [lo, hi], over
      * ALL rows — nulls are NotNull's job, and a null never counts as a
      * violation here) must be <= maxViolFrac. */
    final case class InRange(column: String, lo: Double, hi: Double,
        maxViolFrac: Double = 0.0) extends Check
    /** Violating-row fraction (non-null values not in `values`, over ALL
      * rows) must be <= maxViolFrac. */
    final case class InSet(column: String, values: Seq[String],
        maxViolFrac: Double = 0.0) extends Check
    /** Violating-row fraction (non-null values with NO match of `regex`,
      * over ALL rows) must be <= maxViolFrac. Java-regex FIND semantics —
      * an unanchored pattern matches anywhere in the value; anchor with
      * ^…$ for full-string matching. Keep patterns in the Java∩RE2
      * common subset if an external oracle must agree. */
    final case class Matches(column: String, regex: String,
        maxViolFrac: Double = 0.0) extends Check
    /** Total row count must lie in [lo, hi]. The emitted threshold
      * column shows `hi` (the schema has one threshold slot); `passed`
      * encodes the full two-sided test, and `lo` lives in the check
      * declaration. This is also the check that gates EMPTY tables —
      * declare `RowCountBetween(1, …)` if zero rows must fail the gate,
      * because all fraction metrics define an empty table as violation-
      * free (0.0). */
    final case class RowCountBetween(lo: Long, hi: Long) extends Check
    /** Orphan-row fraction (non-null `column` values with no match in
      * `dim.dimColumn`, over ALL rows) must be <= maxOrphanFrac. The
      * dimension is deduplicated and broadcast — it must be the bounded
      * side. */
    final case class RefIntegrity(column: String, dim: DataFrame,
        dimColumn: String, maxOrphanFrac: Double = 0.0) extends Check
  }
  import Check._

  /** Run every check in ONE aggregation pass; returns one row per check:
    * (check_type, col_name, metric, threshold, passed 0/1). All metrics
    * are exact ratios of exact longs (bit-identical across engines).
    */
  def expectations(df: DataFrame, checks: Seq[Check]): DataFrame = {
    require(checks.nonEmpty, "no checks declared")

    val joined = joinRiDims(df, checks)
    val structs = checkStructs(checks, exactDistinct = true)
    val wide = joined.agg(structs.head.as("c0"),
      structs.tail.zipWithIndex.map { case (s, i) => s.as(s"c${i + 1}") }: _*)
    explodeChecks(wide, structs.size)
  }

  /** The ZERO-extra-pass form of [[expectations]]: attach the whole
    * check suite to a frame as OBSERVED metrics (`Dataset.observe` /
    * `CollectMetrics`), so the gate is computed by the same job that
    * writes the data — at 100 TB the difference between this and the
    * standalone gate is one full table scan. Usage:
    * {{{
    *   val (gated, obs) = Quality.observedExpectations(df, checks)
    *   gated.write.parquet(out)          // ONE pass: write + metrics
    *   val results = Quality.observedResults(checks, obs) // after the action
    * }}}
    * Returns the frame UNCHANGED (same rows/columns — RefIntegrity's
    * broadcast hit markers are projected back out), plus the
    * [[org.apache.spark.sql.Observation]] whose `get` blocks until the
    * caller's first action completes.
    *
    * Metric parity with the batch gate, by construction: the SAME
    * [[checkStructs]] compile, with `exactDistinct = false` because
    * `CollectMetrics` (like a streaming aggregate) cannot carry a
    * distinct aggregate — `Unique` rides `approx_count_distinct`, the
    * documented 100 TB swap. Pinned metric-for-metric against
    * [[expectations]] in QualitySpec.
    */
  def observedExpectations(df: DataFrame, checks: Seq[Check],
      name: String = "graft_expectations")
      : (DataFrame, org.apache.spark.sql.Observation) = {
    require(checks.nonEmpty, "no checks declared")
    val obs = org.apache.spark.sql.Observation(name)
    val joined = joinRiDims(df, checks)
    val structs = checkStructs(checks, exactDistinct = false)
    val observed = joined.observe(obs, structs.head.as("c0"),
      structs.tail.zipWithIndex.map { case (s, i) => s.as(s"c${i + 1}") }: _*)
    (observed.drop(joined.columns.filter(_.startsWith("__hit_")).toSeq: _*), obs)
  }

  /** Decode an [[observedExpectations]] observation into the gate's row
    * shape — (check_type, col_name, metric, threshold, passed) per
    * declared check, in declaration order. Blocks until the observed
    * action finishes (Observation.get semantics).
    */
  def observedResults(checks: Seq[Check],
      obs: org.apache.spark.sql.Observation)
      : Seq[(String, String, Double, Double, Int)] = {
    val m = obs.get
    checks.indices.map { i =>
      val r = m(s"c$i").asInstanceOf[org.apache.spark.sql.Row]
      (r.getString(0), r.getString(1), r.getDouble(2), r.getDouble(3),
        r.getInt(4))
    }
  }

  /** RefIntegrity pre-pass: mark orphans via a broadcast LEFT join per
    * distinct dimension, so the single aggregation pass can count them.
    * Stream-legal (stream-static broadcast joins are stateless).
    */
  private def joinRiDims(df: DataFrame, checks: Seq[Check]): DataFrame = {
    val riChecks = checks.collect { case c: RefIntegrity => c }
    riChecks.zipWithIndex.foldLeft(df) { case (acc, (c, i)) =>
      val dim = c.dim.select(col(c.dimColumn).as(s"__dim_$i")).distinct()
        .withColumn(s"__hit_$i", lit(1))
      acc.join(broadcast(dim), acc(c.column) === col(s"__dim_$i"), "left")
        .drop(s"__dim_$i")
    }
  }

  /** Compile each declared check into one
    * (check_type, col_name, metric, threshold, passed) struct of
    * aggregate expressions — the shared core of the batch gate and the
    * observed gate. With `exactDistinct = false` the `Unique` metric
    * uses `approx_count_distinct` (HLL++) instead of the exact distinct:
    * `CollectMetrics` cannot carry distinct aggregates, and it is also
    * the documented 100 TB batch swap.
    */
  private def checkStructs(checks: Seq[Check],
      exactDistinct: Boolean): Seq[Column] = {
    val n = count(lit(1)).cast("double")
    def viol(cond: Column): Column =
      sum(when(cond, 1L).otherwise(0L)).cast("double")
    def nDistinct(c: String): Column =
      (if (exactDistinct) countDistinct(col(c))
       else approx_count_distinct(c)).cast("double")

    // RefIntegrity metrics read their per-check hit marker (joined by
    // joinRiDims in declaration order — riIdx walks the same order).
    var riIdx = -1
    val aggCols: Seq[(String, String, Column, Column)] = checks.map {
      case NotNull(c, t) =>
        ("not_null", c, (n - count(col(c)).cast("double")) / n, lit(t))
      case Unique(c, t) =>
        ("unique", c,
          (count(col(c)).cast("double") - nDistinct(c)) / n, lit(t))
      case InRange(c, lo, hi, t) =>
        ("in_range", c,
          viol(col(c).isNotNull && (col(c) < lo || col(c) > hi)) / n, lit(t))
      case InSet(c, vs, t) =>
        ("in_set", c, viol(col(c).isNotNull && !col(c).isInCollection(vs)) / n, lit(t))
      case Matches(c, re, t) =>
        ("matches", c, viol(col(c).isNotNull && !col(c).rlike(re)) / n, lit(t))
      case RowCountBetween(lo, hi) =>
        ("row_count", "*", n, lit(hi.toDouble))
      case RefIntegrity(c, _, _, t) =>
        riIdx += 1
        ("ref_integrity", c,
          viol(col(c).isNotNull && col(s"__hit_$riIdx").isNull) / n, lit(t))
    }

    // On a ZERO-row input every fraction is 0/0 = null and every viol
    // sum is null; a gate that emits null metrics and null pass flags
    // neither passes nor fails (and breaks typed consumers), so fraction
    // metrics coalesce to 0.0 — "no violations among zero rows" — and
    // emptiness itself is RowCountBetween's job (see its scaladoc).
    val metrics = aggCols.map { case (ct, c, m, t) =>
      (ct, c, coalesce(m, lit(0.0)), t)
    }
    val passExpr: Seq[Column] = checks.zip(metrics).map {
      case (RowCountBetween(lo, hi), (_, _, m, _)) =>
        (m >= lo.toDouble && m <= hi.toDouble).cast("int")
      case (_, (_, _, m, t)) => (m <= t).cast("int")
    }

    metrics.zip(passExpr).map { case ((ct, c, m, t), p) =>
      struct(lit(ct).as("check_type"), lit(c).as("col_name"),
        m.as("metric"), t.as("threshold"), p.as("passed"))
    }
  }

  /** Reshape the wide one-row check frame (c0..cN struct columns) into
    * tall rows. A Generate over one row — shuffle-free.
    */
  private def explodeChecks(wide: DataFrame, nChecks: Int): DataFrame =
    wide.select(explode(array((0 until nChecks).map(i => col(s"c$i")): _*)).as("s"))
      .select(col("s.check_type"), col("s.col_name"),
        col("s.metric"), col("s.threshold"), col("s.passed"))

  /** Exact `percentile_disc`-style edges of `column` over `df` at
    * p = i/bins (i = 1..bins-1): the smallest value whose cumulative
    * count reaches ceil(p·n). Derived from the per-value count table
    * with a cumulative window over DISTINCT values only, then collected
    * — a bounded (≤ bins-1 doubles) driver artifact.
    *
    * Scale caveat (the honest 100 TB audit): the cumulative window here
    * runs over the DISTINCT value domain — bounded and cheap for gridded
    * data (2-dp telemetry, counts, categorical codes), but a CONTINUOUS
    * double column has ~n distinct values, so the single-partition
    * window degenerates to an O(n) scan through one task.
    */
  def quantileEdges(df: DataFrame, column: String, bins: Int): Seq[Double] = {
    require(bins >= 2, "need at least 2 bins")
    // filter on the CAST value: a value that fails the numeric cast is a
    // null for ranking purposes, never a nulls-first rank shifter
    val vc = df.filter(col(column).cast("double").isNotNull)
      .groupBy(col(column).cast("double").as("__v"))
      .agg(count(lit(1)).as("__c"))
    val w = Window.orderBy(col("__v"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    // total as one aggregate row cross-joined back instead of a second
    // single-partition window pass (r20; exact long sum, value-identical)
    val tot = vc.agg(sum("__c").as("__n"))
    val cum = vc.withColumn("__cum", sum("__c").over(w))
      .crossJoin(broadcast(tot))
    val targets = (1 until bins).map(i => i.toDouble / bins)
    val edgeCols = edgeAggs(targets)
    val row = cum.agg(edgeCols.head, edgeCols.tail: _*).head()
    targets.indices.map { i =>
      require(!row.isNullAt(i), s"reference snapshot has no non-null '$column'")
      row.getDouble(i)
    }
  }

  /** The percentile_disc rank-selection aggregates shared by
    * [[quantileEdges]] and [[driftReport]]'s melted multi-column edge
    * pass — smallest `__v` whose running count `__cum` reaches
    * ceil(p·`__n`). One definition so the edge formula cannot drift
    * between the single-column and melted forms.
    */
  private def edgeAggs(targets: Seq[Double]): Seq[Column] =
    targets.zipWithIndex.map { case (p, i) =>
      min(when(col("__cum") >= ceil(lit(p) * col("__n")), col("__v"))).as(s"e$i")
    }

  /** The Laplace-smoothed PSI bucket term shared by
    * [[psiTermsFromHistogram]] (psiDrift, psiCategorical, and the
    * streaming twins ride through it) and [[driftReport]] — ONE
    * definition of the smoothing and the 6-dp ln rounding, so the
    * stream ≡ batch ≡ report parity pins rest on shared code, not on
    * three hand-kept copies: p = (cnt + 0.5) / (n + 0.5·bins),
    * term = round((p_cur − p_ref)·ln(p_cur/p_ref), 6).
    */
  private[graft] def psiTerm(refN: Long, refTotal: Long,
      curN: Column, curTotal: Column, bins: Int): Column = {
    val pr = (lit(refN.toDouble) + 0.5) /
      (lit(refTotal.toDouble) + lit(0.5) * bins)
    val pc = (curN.cast("double") + 0.5) /
      (curTotal.cast("double") + lit(0.5) * bins)
    round((pc - pr) * log(pc / pr), 6)
  }

  /** Population Stability Index between a reference snapshot and a
    * current snapshot of `column`: exact reference-decile bins, both
    * sides bucketed by "number of edges <= v", Laplace-smoothed
    * proportions p = (cnt + 0.5) / (n + 0.5·bins), per-bucket
    * contribution (p_cur − p_ref)·ln(p_cur/p_ref) rounded 6 dp (the
    * bigram-LM ln-ulp rule). Every bucket 0..bins-1 appears, empty or
    * not. Σ psi_term is the PSI (alert ≥ 0.2 by convention).
    */
  def psiDrift(ref: DataFrame, cur: DataFrame, column: String, bins: Int): DataFrame = {
    require(bins >= 2, "need at least 2 bins")
    // ONE code path for the PSI arithmetic across psiDrift, the
    // categorical variant, and both streaming twins: spine (edges + ref
    // bucket counts, bounded collected artifacts) → single-aggregate
    // histogram of the current snapshot → shared smoothed projection.
    val edges = quantileEdges(ref, column, bins)
    val refCounts = bucketCounts(ref, column, edges, bins)
    val aggs = bucketHistogramAggs(column, edges, bins)
    val agg = cur.agg(aggs.head, aggs.tail: _*)
    psiTermsFromHistogram(agg,
      refCounts.zipWithIndex.map { case (n, i) => (lit(i), n) }, "bucket",
      keyCols = Nil)
  }

  /** Categorical PSI: frequency drift of a discrete column between two
    * snapshots. The top-K reference categories (count desc, value asc —
    * deterministic) each get a bucket; everything else collapses to
    * "(other)", so the output is bounded at K+1 rows no matter the
    * category cardinality (the Zipf-tail guard). Same Laplace smoothing
    * and 6-dp ln rounding as [[psiDrift]], with bins = K+1.
    *
    * Shape: the spine is collected once (bounded, like psiDrift's edge
    * scalars) and compiled into codegen'd literals, so the current
    * snapshot is scanned ONCE — its whole histogram rides as
    * conditional sums in a single map-side-combinable aggregate (no
    * joins at all in the main query), and the reference is touched only
    * by the two bounded-output spine jobs. [[histogramAggs]] /
    * [[psiTermsFromHistogram]] are shared verbatim with the streaming
    * twin (`graft.streaming.DriftStream`) — the stream≡batch pins rest
    * on that sharing.
    */
  def psiCategorical(ref: DataFrame, cur: DataFrame, column: String,
      topK: Int): DataFrame = {
    val spine = categorySpine(ref, column, topK)
    val aggs = histogramAggs(column, spine)
    val agg = cur.filter(col(column).isNotNull).agg(aggs.head, aggs.tail: _*)
    psiTermsFromHistogram(agg,
      spine.map { case (c, n) => (lit(c), n) }, "category", keyCols = Nil)
  }

  /** One conditional-sum column per spine category — the full histogram
    * of `column` in a single aggregation (streaming-legal: used under a
    * windowed groupBy by DriftStream, under a global agg here).
    */
  private[graft] def histogramAggs(column: String,
      spine: Seq[(String, Long)]): Seq[Column] = {
    require(spine.nonEmpty && spine.last._1 == "(other)",
      "spine must come from categorySpine (tail bucket last)")
    val topSet = spine.init.map(_._1)
    // categorySpine labels are col.cast("string"); compare against the
    // IDENTICAL explicit cast here rather than letting Spark coerce the
    // raw column, so both sides of the spine contract share one
    // representation (implicit coercion can diverge from the explicit
    // cast for e.g. decimals/timestamps)
    val asStr = col(column).cast("string")
    val label: Column =
      when(asStr.isInCollection(topSet), asStr)
        .otherwise(lit("(other)"))
    // null guard inside the sums: a null value must not land in the
    // "(other)" tail even when a caller forgets its own null filter
    spine.zipWithIndex.map { case ((c, _), i) =>
      sum(when(col(column).isNotNull && label === c, 1L).otherwise(0L))
        .as(s"__n_$i")
    }
  }

  /** Stateless PSI projection over a histogram row (reference side baked
    * in as literals from the bounded spine): Laplace-smoothed
    * proportions, ln term rounded 6 dp. `spine` carries each bucket's
    * label expression (string category, int bucket index, …) emitted
    * under `labelName`; `keyCols` (e.g. window bounds) are carried
    * through in front of the per-bucket rows.
    */
  private[graft] def psiTermsFromHistogram(agg: DataFrame,
      spine: Seq[(Column, Long)], labelName: String,
      keyCols: Seq[String]): DataFrame = {
    val bins = spine.size
    val refTotal = spine.map(_._2).sum
    // A ZERO-row current snapshot aggregates every conditional sum to
    // null; without the coalesce all psi terms would be null and a
    // `sum(psi_term) >= 0.2` monitor would silently swallow the alert
    // (the ksDrift empty-side rule). Coalesced, the empty snapshot is
    // the smoothed FLOOR histogram — PSI ≈ 0 against a near-uniform
    // (e.g. decile) reference, so EMPTINESS itself is not PSI's signal:
    // gate it with the expectation suite's RowCountBetween.
    def curN(i: Int): Column = coalesce(col(s"__n_$i"), lit(0L))
    val curTotal = spine.indices.map(curN).reduce(_ + _)
    val rows = spine.zipWithIndex.map { case ((label, refN), i) =>
      struct(label.as(labelName), lit(refN).as("ref_n"),
        curN(i).as("cur_n"),
        psiTerm(refN, refTotal, curN(i), curTotal, bins).as("psi_term"))
    }
    agg.select(keyCols.map(col) :+ explode(array(rows: _*)).as("__s"): _*)
      .select(keyCols.map(col) ++ Seq(col(s"__s.$labelName"), col("__s.ref_n"),
        col("__s.cur_n"), col("__s.psi_term")): _*)
  }

  /** Multi-column drift report: PSI of EVERY listed numeric column in a
    * fixed number of passes, instead of 3 scans per column via repeated
    * [[psiDrift]] calls — the deployment shape where a corpus monitor
    * watches all its feature columns nightly.
    *
    * Pass structure (k columns, any k):
    *  1. ONE melted pass over the reference — explode each row to
    *     (col_name, value), aggregate to the per-column DISTINCT value
    *     domain, cumulative window PARTITIONED BY col_name (columns rank
    *     in parallel — better than psiDrift's unpartitioned window), one
    *     conditional-min aggregate → all k×(bins−1) exact edges,
    *     collected (bounded scalars).
    *  2. ONE aggregation pass per snapshot — every column's whole
    *     histogram rides as k×bins null-guarded conditional sums.
    *  3. A stateless cross of the two 1-row histogram frames projects
    *     the k×bins psi terms (same smoothing/rounding as [[psiDrift]]).
    *
    * Output: (col_name, bucket, ref_n, cur_n, psi_term), k×bins rows;
    * Σ psi_term per col_name is that column's PSI. Per-column results
    * are identical to `psiDrift(ref.select(c), cur.select(c), c, bins)`
    * — pinned in QualitySpec.
    */
  def driftReport(ref: DataFrame, cur: DataFrame, columns: Seq[String],
      bins: Int): DataFrame = {
    require(columns.nonEmpty, "no columns to monitor")
    require(columns.distinct.size == columns.size,
      s"duplicate monitored columns: ${columns.diff(columns.distinct).mkString(", ")}")
    require(bins >= 2, "need at least 2 bins")

    // 1) all columns' exact edges from one melted pass. The per-value
    // count frame has a SECOND consumer (the reference histogram below),
    // so it is persisted — without it the lineage would re-scan the full
    // reference table, the avoidable pass a nightly run keeps paying.
    val melted = ref.select(explode(array(columns.map(c =>
        struct(lit(c).as("c"), col(c).cast("double").as("v"))): _*)).as("s"))
      .select(col("s.c").as("__c"), col("s.v").as("__v"))
      .filter(col("__v").isNotNull)
    val vc = melted.groupBy("__c", "__v").agg(count(lit(1)).as("__cnt"))
      .persist()
    try {
      val byCol = Window.partitionBy(col("__c")).orderBy(col("__v"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val cum = vc
        .withColumn("__cum", sum("__cnt").over(byCol))
        .withColumn("__n", sum("__cnt").over(Window.partitionBy(col("__c"))))
      val targets = (1 until bins).map(i => i.toDouble / bins)
      val eAggs = edgeAggs(targets) // shared with quantileEdges
      val edgeRows = cum.groupBy("__c").agg(eAggs.head, eAggs.tail: _*)
        .collect()
        .map(r => r.getString(0) -> targets.indices.map(i => r.getDouble(i + 1)))
        .toMap
      columns.foreach { c =>
        require(edgeRows.contains(c), s"reference snapshot has no non-null '$c'")
      }

      // 2) reference histogram FROM the persisted value-count frame —
      // the reference table itself is never scanned a second time; the
      // bucket fold runs over the (small) distinct-value domain. The
      // k×bins longs are a bounded driver artifact, collected here like
      // psiDrift's refCounts spine.
      val rAggs = for {
        (c, ci) <- columns.zipWithIndex; b <- 0 until bins
      } yield sum(when(col("__c") === c &&
          bucketOf(col("__v"), edgeRows(c)) === b, col("__cnt"))
          .otherwise(0L)).as(s"__r_${ci}_$b")
      val refRow = vc.agg(rAggs.head, rAggs.tail: _*).head()
      val refN = Array.tabulate(columns.size, bins)(
        (ci, b) => refRow.getLong(ci * bins + b))

      // 3) one histogram aggregate over the CURRENT snapshot (cast
      // guard: a cast-failing value is a null here, matching the melted
      // edge pass), then the shared smoothed projection (sums coalesced:
      // a zero-row snapshot must yield the smoothed floor, not null psi
      // terms — see psiTermsFromHistogram)
      val curAggs = for {
        (c, ci) <- columns.zipWithIndex; b <- 0 until bins
      } yield sum(when(col(c).cast("double").isNotNull &&
          bucketExpr(c, edgeRows(c)) === b, 1L).otherwise(0L))
        .as(s"__c_${ci}_$b")
      val c2 = cur.agg(curAggs.head, curAggs.tail: _*)
      def cnt(ci: Int, b: Int): Column =
        coalesce(col(s"__c_${ci}_$b"), lit(0L))
      val curTotals = columns.indices.map(ci =>
        (0 until bins).map(cnt(ci, _)).reduce(_ + _))
      val rows = for {
        (cName, ci) <- columns.zipWithIndex; b <- 0 until bins
      } yield struct(lit(cName).as("col_name"), lit(b).as("bucket"),
        lit(refN(ci)(b)).as("ref_n"), cnt(ci, b).as("cur_n"),
        psiTerm(refN(ci)(b), refN(ci).sum, cnt(ci, b), curTotals(ci), bins)
          .as("psi_term"))
      c2.select(explode(array(rows: _*)).as("s")).select("s.*")
    } finally { vc.unpersist(); () }
  }

  /** Bucket index of `column` against sorted quantile `edges`: the
    * number of edges <= v (a codegen'd comparison fold, map-only). */
  private[graft] def bucketExpr(column: String, edges: Seq[Double]): Column =
    bucketOf(col(column).cast("double"), edges)

  /** [[bucketExpr]] over an already-cast value column — the form the
    * melted frames (one `__v` column for many source columns) need. */
  private[graft] def bucketOf(v: Column, edges: Seq[Double]): Column =
    edges.foldLeft(lit(0)) { (acc, e) =>
      acc + when(v >= e, 1).otherwise(0)
    }

  /** One conditional-sum column per bucket — the numeric histogram of
    * `column` against `edges` in a single (streaming-legal) aggregation,
    * the numeric twin of [[histogramAggs]]. Null-guarded on the CAST
    * value: null and cast-failing values count in NO bucket (bucketExpr
    * alone would put them in bucket 0). */
  private[graft] def bucketHistogramAggs(column: String,
      edges: Seq[Double], bins: Int): Seq[Column] = {
    val b = bucketExpr(column, edges)
    (0 until bins).map(i =>
      sum(when(col(column).cast("double").isNotNull && b === i, 1L)
        .otherwise(0L)).as(s"__n_$i"))
  }

  /** Per-bucket counts of `column` against `edges` as a collected
    * bins-length vector (missing buckets zero-filled) — the reference
    * side of the shared PSI path. */
  private[graft] def bucketCounts(df: DataFrame, column: String,
      edges: Seq[Double], bins: Int): Seq[Long] = {
    val byBucket = df.filter(col(column).cast("double").isNotNull)
      .groupBy(bucketExpr(column, edges).as("b"))
      .agg(count(lit(1)).as("c"))
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    (0 until bins).map(i => byBucket.getOrElse(i, 0L))
  }

  /** Bounded numeric reference spine for continuous drift monitoring
    * (`graft.streaming.DriftStream.numericPsi`): the exact quantile
    * edges of the reference plus its per-bucket counts — (≤ bins-1
    * doubles, bins longs) collected to the driver, the numeric twin of
    * [[categorySpine]].
    */
  def numericSpine(ref: DataFrame, column: String,
      bins: Int): (Seq[Double], Seq[Long]) = {
    require(bins >= 2, "need at least 2 bins")
    val edges = quantileEdges(ref, column, bins)
    (edges, bucketCounts(ref, column, edges, bins))
  }

  /** Bounded reference spine for continuous drift monitoring
    * (`graft.streaming.DriftStream`): the top-K categories of `column`
    * by deterministic (count desc, value asc) order plus the "(other)"
    * tail with its aggregate count — K+1 (category, refCount) pairs
    * collected to the driver. Only the LIMITed top-K rows and one total
    * ever leave the cluster (bounded artifact, like the PSI edge
    * scalars), regardless of category cardinality.
    */
  def categorySpine(ref: DataFrame, column: String, topK: Int): Seq[(String, Long)] = {
    require(topK >= 1, "need at least one top category")
    // ONE grouped pass, persisted so the top-K collect and the total
    // read the same snapshot (an uncached source directory changing
    // between two jobs could otherwise yield an inconsistent — even
    // negative — tail count).
    val counts = ref.filter(col(column).isNotNull)
      .groupBy(col(column).cast("string").as("__cat"))
      .agg(count(lit(1)).as("__c"))
      .persist()
    try {
      val top = counts
        .orderBy(col("__c").desc, col("__cat").asc)
        .limit(topK)
        .collect()
        .map(r => (r.getString(0), r.getLong(1)))
        .toSeq
      // explicit failure like quantileEdges' — without it the total
      // sum below reads a null and dies with a bare NullPointerException
      require(top.nonEmpty, s"reference snapshot has no non-null '$column'")
      // "(other)" is this spine's reserved tail label; a REAL category
      // with that exact name in the top-K would double-count its rows
      // (they'd match both their own bucket and the tail) — refuse
      // loudly instead of silently skewing every proportion.
      require(!top.exists(_._1 == "(other)"),
        s"top-$topK of '$column' contains the reserved label \"(other)\"; " +
          "rename/escape that category before monitoring")
      val total = counts.agg(sum("__c")).head().getLong(0)
      top :+ ("(other)", total - top.map(_._2).sum)
    } finally { counts.unpersist(); () }
  }

  /** Exact two-sample Kolmogorov–Smirnov statistic between `ref[column]`
    * and `cur[column]`: D = max over the merged DISTINCT value domain of
    * |F_ref(v) − F_cur(v)|. Pure counts and divisions — bit-identical
    * across engines, no rounding needed. Returns one row
    * (ref_n, cur_n, ks).
    *
    * Scale caveat: like [[quantileEdges]], the cumulative window runs
    * over the merged DISTINCT value domain — bounded for gridded data,
    * O(n)-through-one-task for a continuous column. The 100 TB swap is
    * [[ksDriftBinned]]: evaluate the CDF gap at a fixed set of edges
    * instead of every distinct value.
    */
  def ksDrift(ref: DataFrame, cur: DataFrame, column: String): DataFrame = {
    def side(df: DataFrame, tag: Int): DataFrame =
      df.filter(col(column).cast("double").isNotNull)
        .select(col(column).cast("double").as("__v"), lit(tag).as("__s"))
    val merged = side(ref, 1).unionAll(side(cur, 0))
      .groupBy("__v")
      .agg(
        sum(col("__s")).as("__cr"),
        sum(lit(1) - col("__s")).as("__cc"))
    ksEpilogue(merged, orderCol = "__v")
  }

  /** Shared KS epilogue over a (orderCol, __cr, __cc) per-point count
    * frame: bounded cumulative window → one max. An EMPTY side's CDF is
    * identically 0 (guarded division), so ref-vs-nothing correctly
    * reports D = 1 and alerts instead of a null that every `ks >= x`
    * monitor check silently swallows; with NO points at all (both sides
    * empty) counts are 0 and ks is null — genuinely undefined.
    */
  private def ksEpilogue(perPoint: DataFrame, orderCol: String): DataFrame = {
    val w = Window.orderBy(col(orderCol))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    // totals as ONE aggregate row cross-joined back (r20): the old
    // `sum(...) over Window.partitionBy()` was a SECOND single-partition
    // window pass over the same frame (and a second "no partition
    // defined" global window). The totals are exact integer sums, so the
    // broadcast constant join is value-identical; the remaining ordered
    // cumulative window runs over the bounded per-point count frame, as
    // documented.
    val tots = perPoint.agg(sum("__cr").as("__nr"), sum("__cc").as("__nc"))
    val cum = perPoint
      .withColumn("__fr", sum("__cr").over(w))
      .withColumn("__fc", sum("__cc").over(w))
      .crossJoin(broadcast(tots))
    def cdf(f: String, nTot: String): Column =
      when(col(nTot) === 0, lit(0.0))
        .otherwise(col(f).cast("double") / col(nTot).cast("double"))
    cum.agg(
      coalesce(max("__nr"), lit(0L)).cast("long").as("ref_n"),
      coalesce(max("__nc"), lit(0L)).cast("long").as("cur_n"),
      max(abs(cdf("__fr", "__nr") - cdf("__fc", "__nc"))).as("ks"))
  }

  /** Binned two-sample KS for the continuous-column 100 TB path:
    * |F_ref − F_cur| evaluated at the bucket boundaries of `edges`
    * (e.g. [[quantileEdges]] of the reference, or a fixed grid)
    * instead of at every distinct value. Each side collapses to ≤
    * edges.size+1 bucket counts with one map-side-combinable aggregate;
    * the cumulative window then runs over that BOUNDED bucket spine.
    * The statistic is a lower bound on the exact D (the CDF gap between
    * boundaries is invisible) and EQUALS it when every distinct value is
    * its own edge — both pinned in QualitySpec. Returns one row
    * (ref_n, cur_n, ks).
    */
  def ksDriftBinned(ref: DataFrame, cur: DataFrame, column: String,
      edges: Seq[Double]): DataFrame = {
    require(edges.nonEmpty, "need at least one bucket edge")
    val bins = edges.size + 1
    def counts(df: DataFrame, out: String): DataFrame =
      df.filter(col(column).cast("double").isNotNull)
        .groupBy(bucketExpr(column, edges).as("bucket"))
        .agg(count(lit(1)).as(out))
    val spark = ref.sparkSession
    val spine = spark.range(0, bins).select(col("id").cast("int").as("bucket"))
    val j = spine
      .join(counts(ref, "__cr"), Seq("bucket"), "left")
      .join(counts(cur, "__cc"), Seq("bucket"), "left")
      .na.fill(0L, Seq("__cr", "__cc"))
    // both-sides-empty must be a NULL ks ("genuinely undefined" — the
    // ksEpilogue contract ksDrift gets for free from its empty per-point
    // frame); the always-populated bucket spine here would otherwise
    // report |0−0| = 0.0 and a monitor would read two empty snapshots
    // as a healthy no-drift signal
    ksEpilogue(j, orderCol = "bucket")
      .withColumn("ks", when(col("ref_n") === 0 && col("cur_n") === 0,
        lit(null).cast("double")).otherwise(col("ks")))
  }

  /** Winsorization summary: exact per-group percentile bounds at pLo/pHi
    * (percentile_disc rank formulation, windows PARTITIONED by the group
    * key), clip counts on each side, and the 2-dp-grid-safe sum of the
    * clipped column. Returns one row per group:
    * (group, n, lo, hi, n_clip_lo, n_clip_hi, sum_winsorized).
    */
  def winsorize(df: DataFrame, valueCol: String, groupCol: String,
      pLo: Double, pHi: Double): DataFrame = {
    require(0 < pLo && pLo < pHi && pHi <= 1, "need 0 < pLo < pHi <= 1")
    // Bounds as whole-partition window maxes over the SAME group
    // partitioning the rank pass already shuffles on: one Exchange
    // total, no per-group bounds table to broadcast (which would be an
    // unbounded artifact under a high-cardinality group key), and null
    // group keys are ordinary window partitions — no join to drop them.
    val grpW = Window.partitionBy(groupCol)
    val base = df.filter(col(valueCol).cast("double").isNotNull)
      .select(col(groupCol), col(valueCol).cast("double").as("__v"))
      .withColumn("__rk", row_number().over(grpW.orderBy(col("__v").asc)))
      .withColumn("__n", count(lit(1)).over(grpW))
    base
      .withColumn("lo", max(when(
        col("__rk") === greatest(lit(1L), ceil(lit(pLo) * col("__n"))),
        col("__v"))).over(grpW))
      .withColumn("hi", max(when(
        col("__rk") === greatest(lit(1L), ceil(lit(pHi) * col("__n"))),
        col("__v"))).over(grpW))
      .groupBy(groupCol)
      .agg(
        count(lit(1)).as("n"),
        max("lo").as("lo"),
        max("hi").as("hi"),
        sum(when(col("__v") < col("lo"), 1L).otherwise(0L)).as("n_clip_lo"),
        sum(when(col("__v") > col("hi"), 1L).otherwise(0L)).as("n_clip_hi"),
        round(sum(greatest(col("lo"), least(col("hi"), col("__v")))), 2)
          .as("sum_winsorized"))
  }
}
