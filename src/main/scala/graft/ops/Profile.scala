package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Table profiling: one tall row per column with row/null/distinct
  * counts and typed min/max — the data-quality screen run before a
  * table enters a pipeline (and the stats a curation run reports on
  * its output).
  *
  * Scale shape: ONE aggregation pass over the table produces every
  * column's stats as a single wide row, then a map-only struct explode
  * reshapes it tall — the table is never scanned per column. The exact
  * `countDistinct` aggregates are the oracle-checkable contract; each
  * distinct aggregate costs an Expand duplication of the scan rows, so
  * a 100 TB form would swap them for `approx_count_distinct`.
  */
object Profile {

  def table(
      df: DataFrame,
      numericCols: Seq[String],
      stringCols: Seq[String]): DataFrame = {
    require((numericCols ++ stringCols).nonEmpty, "nothing to profile")
    def statsFor(c: String, numeric: Boolean): Seq[Column] = Seq(
      count(col(c)).as(s"${c}__nn"),
      countDistinct(col(c)).as(s"${c}__nd"),
      (if (numeric) min(col(c)).cast("double") else lit(null).cast("double"))
        .as(s"${c}__minn"),
      (if (numeric) max(col(c)).cast("double") else lit(null).cast("double"))
        .as(s"${c}__maxn"),
      (if (numeric) lit(null).cast("string") else min(col(c)).cast("string"))
        .as(s"${c}__mins"),
      (if (numeric) lit(null).cast("string") else max(col(c)).cast("string"))
        .as(s"${c}__maxs"))
    val aggs = count(lit(1)).as("__n") +:
      (numericCols.map(_ -> true) ++ stringCols.map(_ -> false))
        .flatMap { case (c, num) => statsFor(c, num) }
    val wide = df.agg(aggs.head, aggs.tail: _*)
    val rows = (numericCols ++ stringCols).map { c =>
      struct(
        lit(c).as("col_name"),
        col("__n").as("n_rows"),
        (col("__n") - col(s"${c}__nn")).as("n_nulls"),
        col(s"${c}__nd").as("n_distinct"),
        col(s"${c}__minn").as("min_num"),
        col(s"${c}__maxn").as("max_num"),
        col(s"${c}__mins").as("min_str"),
        col(s"${c}__maxs").as("max_str"))
    }
    wide.select(explode(array(rows: _*)).as("s")).select("s.*")
  }

  /** Pairwise Pearson correlation matrix over `cols` in ONE aggregation
    * pass — the feature-redundancy screen run before training (highly
    * correlated features are duplicated signal). The moment formulation
    * corr = (n·Σxy − Σx·Σy) / √((n·Σx² − (Σx)²)(n·Σy² − (Σy)²)) needs
    * only sums, so all k + k(k+1)/2 accumulators ride in one map-side-
    * combinable aggregate: the table is scanned ONCE for the whole
    * matrix, never per pair, and the reshape to (col_a, col_b, corr)
    * rows is a map-only explode of the single wide row. Over integer-
    * valued columns (counts) every sum is exact regardless of partial-
    * aggregation order, which is what makes the output engine-portable.
    * Rows with a null in ANY profiled column are dropped first
    * (listwise-complete matrix — every pair sees the same n). Constant
    * columns have zero variance and yield null correlations.
    */
  def correlationMatrix(df: DataFrame, cols: Seq[String]): DataFrame = {
    require(cols.size >= 2, "need at least two columns to correlate")
    val clean = df.na.drop(cols)
    val pairs = for {
      i <- cols.indices; j <- cols.indices if i < j
    } yield (cols(i), cols(j))
    def d(c: String): Column = col(c).cast("double")
    val aggs = count(lit(1)).cast("double").as("__n") +:
      (cols.flatMap(c => Seq(
        sum(d(c)).as(s"__s_$c"),
        sum(d(c) * d(c)).as(s"__s2_$c"))) ++
       pairs.map { case (a, b) => sum(d(a) * d(b)).as(s"__sp_${a}_$b") })
    val wide = clean.agg(aggs.head, aggs.tail: _*)
    val rows = pairs.map { case (a, b) =>
      val n = col("__n")
      val va = n * col(s"__s2_$a") - col(s"__s_$a") * col(s"__s_$a")
      val vb = n * col(s"__s2_$b") - col(s"__s_$b") * col(s"__s_$b")
      val cov = n * col(s"__sp_${a}_$b") - col(s"__s_$a") * col(s"__s_$b")
      struct(lit(a).as("col_a"), lit(b).as("col_b"),
        when(va > 0 && vb > 0, round(cov / sqrt(va * vb), 6)).as("corr"))
    }
    wide.select(col("__n").cast("long").as("n"), explode(array(rows: _*)).as("p"))
      .select(col("p.col_a"), col("p.col_b"), col("n"), col("p.corr"))
  }

  /** Spearman rank correlation matrix: Pearson over average ranks —
    * the monotone-association screen that survives outliers and
    * nonlinearity (the reasons to distrust raw Pearson on telemetry).
    *
    * Ranks are tie-averaged: r(v) = (#smaller) + (1 + #equal)/2, which
    * is the standard fractional rank. Scale shape: a global
    * `rank().over(orderBy(c))` would funnel the table through ONE
    * partition, so instead each column builds its per-VALUE count table
    * (one map-side-combinable aggregate), takes the cumulative count
    * with a window over the DISTINCT values only (bounded — the
    * buildVocab pattern: the window runs on the post-aggregation value
    * domain, never the row volume), and joins the rank back. Ranks are
    * halves (.0/.5), so all downstream moment sums are exact dyadics —
    * the same engine-portability argument as [[correlationMatrix]],
    * which this delegates to after the rank transform.
    *
    * r20 shape (was: a per-column groupBy+window+join foldLeft chain —
    * each level's rank table re-derived the whole accumulated plan, so
    * k columns cost ~2^k plan duplication, 28 driver jobs and an
    * UNPARTITIONED rank window): melt the k columns into one tall
    * (col, value) frame, build ALL rank tables in ONE grouped pass with
    * the window partitioned by column name (still over the distinct
    * value domain only), fold them into a single broadcast row of
    * per-column value→rank maps, and attach ranks with map lookups —
    * one broadcast join, one window, k lookups, then the single Pearson
    * aggregation. Values are compared as doubles in the melt (the
    * oracle's rank() runs over the DOUBLE-cast counts, so this is the
    * contract, not a shortcut); exact for any integer-valued telemetry
    * below 2^53, which is this screen's documented domain.
    */
  def spearmanMatrix(df: DataFrame, cols: Seq[String]): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(cols.size >= 2, "need at least two columns to correlate")
    val clean = df.na.drop(cols)
    val tall = clean.select(explode(array(cols.map(c =>
      struct(lit(c).as("__c"), col(c).cast("double").as("__v"))): _*)).as("p"))
      .select(col("p.__c").as("__c"), col("p.__v").as("__v"))
    val byVal = tall.groupBy("__c", "__v")
      .agg(count(lit(1)).cast("double").as("__cnt"))
    val w = Window.partitionBy(col("__c")).orderBy(col("__v"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val rk = byVal.withColumn("__below", coalesce(sum("__cnt").over(w), lit(0.0)))
      .select(col("__c"), col("__v"),
        (col("__below") + (lit(1.0) + col("__cnt")) / lit(2.0)).as("__rk"))
    // one row: map<col_name, map<value, rank>> — bounded by the value
    // domain (the same assumption the windowed rank pass already makes),
    // broadcast so rank attachment never shuffles the data rows
    val rkMaps = rk.groupBy(col("__c"))
      .agg(map_from_entries(collect_list(struct(col("__v"), col("__rk")))).as("__m"))
      .groupBy()
      .agg(map_from_entries(collect_list(struct(col("__c"), col("__m")))).as("__maps"))
    val ranked = clean.join(broadcast(rkMaps))
      .select(cols.map(c =>
        element_at(element_at(col("__maps"), lit(c)), col(c).cast("double")).as(c)): _*)
    correlationMatrix(ranked, cols)
  }
}
