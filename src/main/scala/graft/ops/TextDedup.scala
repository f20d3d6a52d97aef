package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Document deduplication for large-scale text-pipeline curation: exact
  * (hash-groupBy), n-gram Jaccard (candidate pairs via a shingle inverted
  * index — never all-pairs), MinHash/LSH banding, and SimHash.
  *
  * Scale design (100 TB): every variant generates candidate pairs only
  * inside shared buckets (shingle, MinHash band, SimHash block), so the
  * join fan-out is bounded by bucket sizes, not n². Hot buckets are pruned
  * with a document-frequency cap (`maxShingleDf`), the standard
  * stop-shingle defense against quadratic blowup on boilerplate.
  */
object TextDedup {

  /** Eagerly materialize a (small) result so upstream persists can be
    * dropped before the function returns. Default `localCheckpoint` keeps
    * the blocks in executor memory — fine in local mode, but on a real
    * cluster those blocks die with their executor and the job with them.
    * Pass `checkpointDir` (HDFS/S3) there: `checkpoint()` writes to
    * reliable storage and survives routine executor loss. Same contract
    * [[clusters]] has carried since round 4, now shared by every eager
    * call site in the dedup/similarity family.
    */
  private[graft] def eager(df: DataFrame, checkpointDir: Option[String]): DataFrame = {
    checkpointDir.foreach(df.sparkSession.sparkContext.setCheckpointDir)
    if (checkpointDir.isDefined) df.checkpoint() else df.localCheckpoint()
  }

  /** Pre-spread an under-split input for CPU-bound downstream work
    * (shingling/windowing), SIZE-ADAPTIVELY — r19 optimization pass.
    *
    * The old rule repartitioned any input with fewer partitions than
    * `defaultParallelism` to exactly `defaultParallelism`. That constant
    * is right for a large under-split input (a handful of parquet files
    * feeding CPU-bound explode work) but wrong for the small-batch end:
    * an explicit `repartition(n)` is exempt from AQE coalescing, so a
    * 500-doc ingest micro-batch dragged 32-task stages through every
    * downstream shuffle — measured (QueryJobProfile, sf0.1) as the
    * dominant fixed cost of the dedup/ingest family: near-empty tasks
    * whose scheduling overhead exceeds their work by orders of
    * magnitude. The adaptive rule targets ~128 KB of input per task
    * (plan-stats estimate, no job), capped at `defaultParallelism` —
    * identical to the old behavior for big under-split inputs, no-op for
    * inputs too small to benefit from spreading. Partitioning never
    * changes results (repo-wide bit-determinism contract).
    */
  private def spreadForCpuWork(docs: DataFrame): DataFrame = {
    val par = docs.sparkSession.sparkContext.defaultParallelism
    // queryExecution.toRdd reuses the frame's own cached physical plan
    // (no job; `.rdd` would build a second QueryExecution plus a
    // deserializer stage just to read the partition count)
    val cur = docs.queryExecution.toRdd.getNumPartitions
    val bytes = docs.queryExecution.optimizedPlan.stats.sizeInBytes
    // 128 KB of (typically parquet-compressed) input per task: text
    // expands ~5× on decode and the downstream posexplode/window
    // multiplies rows by the token count, so 128 KB compressed is a few
    // hundred ms of shingle/window work — large enough that task
    // overhead is noise, small enough that a mid-size corpus still
    // parallelizes (584 KB sf0.1 docs → 5 tasks; measured: the 4 MB
    // first cut serialized duplicatedSpans' window explode)
    val perTask = BigInt(128L << 10)
    val want = ((bytes + perTask - 1) / perTask)
      .min(BigInt(par)).max(BigInt(1)).toInt
    if (cur < want) docs.repartition(want) else docs
  }

  /** Exact duplicate groups by content hash. At scale this is one shuffle
    * on a 128-bit key; the text column itself is never shuffled.
    */
  def exactGroups(docs: DataFrame, idCol: String = "doc_id", textCol: String = "text"): DataFrame =
    docs.groupBy(md5(col(textCol)).as("text_hash"))
      .agg(min(col(idCol)).as("keeper_id"), count(lit(1)).as("n_docs"))

  /** Distinct word k-grams per document: (id, shingle) rows.
    * Documents shorter than k words produce no shingles.
    */
  def shingles(docs: DataFrame, k: Int, idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    // posexplode to (doc, pos, word) rows, then assemble k-grams with
    // lead() windows — stays inside whole-stage codegen, unlike a
    // transform/element_at lambda chain (higher-order functions are
    // interpreted; measured ~5× slower). The window partitions by doc:
    // thousands of small independent partitions, no skew.
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(idCol)).orderBy(col("pos"))
    val leadCols = (1 until k).map(i => lead(col("word"), i).over(w).as(s"w$i"))
    spreadForCpuWork(docs)
      .select(col(idCol), posexplode(split(col(textCol), " ")).as(Seq("pos", "word")))
      .select(col(idCol) +: col("word") +: leadCols: _*)
      .filter((1 until k).map(i => col(s"w$i").isNotNull)
        .reduceOption(_ && _).getOrElse(lit(true)))
      .select(col(idCol),
        concat_ws(" ", col("word") +: (1 until k).map(i => col(s"w$i")): _*).as("shingle"))
      .distinct()
  }

  /** Duplicated-span statistics: for every document, how much of it is
    * covered by exact `w`-token runs that also occur in at least
    * `minDocs` distinct documents — the span-level (substring) view of
    * duplication that document-level dedup misses. Training corpora are
    * full of documents that are not near-duplicates of any single other
    * document but are stitched from heavily repeated passages
    * (boilerplate, licenses, templated text); `dup_span_frac` is the
    * standard filter signal for them (cf. the ~50-token duplicated
    * substring criterion in "Deduplicating Training Data Makes Language
    * Models Better", Lee et al. 2022 — suffix-array exact matching there,
    * fixed-window rolling hashes here, the shuffle-friendly
    * approximation: a duplicated run of length L ≥ w is seen by all its
    * L−w+1 windows, at the cost of missing duplicates shorter than w).
    *
    * Output: (id, n_windows, n_dup_windows, dup_span_frac) — one row per
    * input document, `n_windows` = max(tokens−w+1, 0), frac rounded to
    * 6 dp (0.0 for documents shorter than w tokens).
    *
    * Scale shape (100 TB): positional windows are (md5, id) rows — the
    * text itself is never shuffled. Two shuffles on the 128-bit span
    * hash: one aggregate for document frequencies, one join of the
    * windows against the (small — duplicated-only) hash set, which AQE
    * turns into a broadcast join when that set fits. No all-pairs
    * anything; cost is linear in corpus token count. The windows frame is
    * persisted for its two consumers and dropped before returning
    * ([[eager]] contract, reliable `checkpointDir` for cluster runs).
    */
  def duplicatedSpans(
      docs: DataFrame,
      w: Int = 20,
      minDocs: Int = 2,
      idCol: String = "doc_id",
      textCol: String = "text",
      checkpointDir: Option[String] = None): DataFrame = {
    val spans = spanWindows(docs, w, idCol, textCol).persist()
    try {
      spans.count() // fill the persist with one job before the two consumers race
      eager(spanStats(docs, spans, minDocs, idCol), checkpointDir)
    } finally spans.unpersist()
  }

  /** Paragraph-level dedup with document reassembly — the corpus
    * REWRITE [[duplicatedSpans]] only reports: every paragraph that
    * occurs more than once in the corpus keeps exactly its FIRST
    * occurrence (smallest `(id, position)`, within-document repeats
    * included) and every later occurrence is cut from its document's
    * text; documents are re-joined from their surviving paragraphs in
    * original order, and a document whose every paragraph was cut drops
    * from the output entirely. This is the standard pre-training
    * curation pass that removes boilerplate (headers, navigation,
    * license blocks) duplicated ACROSS documents without discarding the
    * documents themselves (cf. the reference's whole-document dedup,
    * `/root/reference/src/daily_aggregation.py:61` dropDuplicates —
    * this operates a level below it).
    *
    * `sep` is a LITERAL separator (regex-quoted for the split), used
    * both to cut paragraphs and to re-join the survivors; empty
    * segments (doubled separators, leading/trailing) are dropped, so a
    * reassembled document normalizes separator runs. A document with NO
    * non-empty paragraph (empty/all-separator text) therefore also
    * drops — there is nothing to keep, and emitting an empty rewrite
    * would re-introduce the blank rows every downstream stage filters.
    *
    * Output: (id, text, n_kept, n_dropped) — one row per surviving
    * document, text rewritten, counts for audit.
    *
    * Scale shape (100 TB): the keep-first decision never shuffles text —
    * paragraphs travel as (id, pos, md5) rows; one map-side-combined
    * aggregate on the hash picks the global first occurrence (a Zipf
    * head paragraph duplicated a million times is ONE group row after
    * partial aggregation, the same skew defense as [[exactGroups]]),
    * one narrow-row join marks survivors, and the kept POSITIONS are
    * folded to a per-document int array. The text column shuffles
    * exactly once, in the final document-keyed join; reassembly is then
    * map-only (positional `filter` over the re-split array). Never
    * all-pairs, no windows, linear in corpus paragraph count.
    */
  def dedupParagraphs(
      docs: DataFrame,
      sep: String = "\n",
      idCol: String = "doc_id",
      textCol: String = "text",
      checkpointDir: Option[String] = None): DataFrame = {
    require(sep.nonEmpty, "separator must be non-empty")
    val sepRe = java.util.regex.Pattern.quote(sep)
    // global first occurrence per paragraph hash = min over the (id, pos)
    // pair — a mergeable aggregate (map-side combine), no window. For
    // integral ids the pair packs into ONE decimal: pos < 2^32 by
    // construction (array index), so id·2^32 + pos preserves the
    // lexicographic order for any long id (negatives included) — and a
    // primitive-buffer min gets a HashAggregate where a struct buffer
    // would force the SortAggregate this repo has measured at ~2× on
    // corpus-sized shapes (PLANS.md "Round-14: rank windows → mergeable
    // aggregates" and "Round-15: paragraph-level dedup"). Non-integral ids
    // fall back to the generic struct min, still map-side combined.
    val firstKey: Column = docs.schema(idCol).dataType match {
      case org.apache.spark.sql.types.ByteType
           | org.apache.spark.sql.types.ShortType
           | org.apache.spark.sql.types.IntegerType
           | org.apache.spark.sql.types.LongType =>
        col(idCol).cast("decimal(38,0)") * lit(4294967296L) + col("pos")
      case _ => struct(col(idCol), col("pos"))
    }
    // the narrow paras frame has two consumers (the firsts aggregate and
    // the join probe side) whose exchanges differ, so ReuseExchange can't
    // deduplicate them — persist it, or the corpus is split + hashed
    // TWICE (same two-consumer contract as [[duplicatedSpans]])
    val paras = docs
      .select(col(idCol),
        posexplode(split(col(textCol), sepRe)).as(Seq("pos", "para")))
      .filter(length(col("para")) > 0)
      .select(col(idCol), col("pos"), md5(col("para")).as("h"),
        firstKey.as("graft_k"))
      .persist()
    val keptPos = try {
      paras.count() // fill the persist before the two consumers race
      val firsts = paras.groupBy("h").agg(min(col("graft_k")).as("graft_f"))
      eager(paras.join(firsts, Seq("h"))
        .filter(col("graft_k") === col("graft_f"))
        .groupBy(idCol)
        .agg(sort_array(collect_list(col("pos"))).as("graft_kept")),
        checkpointDir)
    } finally paras.unpersist()
    // inner join: fully-deduplicated documents drop with their text;
    // reassembly re-splits and filters BY POSITION (posexplode indexed
    // the raw split, empties included, so raw indices line up)
    docs.join(keptPos, Seq(idCol))
      .withColumn("n_kept", size(col("graft_kept")))
      .withColumn("n_dropped",
        size(filter(split(col(textCol), sepRe), p => length(p) > 0))
          - col("n_kept"))
      .withColumn(textCol, array_join(
        filter(split(col(textCol), sepRe),
          (_, i) => array_contains(col("graft_kept"), i)),
        sep))
      .select(col(idCol), col(textCol), col("n_kept"), col("n_dropped"))
  }

  /** Positional w-token windows as (id, span_hash) — NOT distinct: a doc
    * repeating its own span still has every window counted against its
    * length. lead() nulls appear only at the partition tail and are
    * monotone, so checking the last lead alone keeps the filter a single
    * comparison. Package-private so DedupSpec can pin the executed plan
    * of the REAL stages (not a re-derivation that could drift).
    */
  private[graft] def spanWindows(
      docs: DataFrame, w: Int, idCol: String, textCol: String): DataFrame = {
    require(w >= 2, s"span window must be >= 2 tokens, got $w")
    val win = org.apache.spark.sql.expressions.Window
      .partitionBy(col(idCol)).orderBy(col("pos"))
    val leadCols = (1 until w).map(i => lead(col("word"), i).over(win).as(s"w$i"))
    // same size-adaptive spread as [[shingles]], same no-job plan probe
    spreadForCpuWork(docs)
      .select(col(idCol), posexplode(split(col(textCol), " ")).as(Seq("pos", "word")))
      .select(col(idCol) +: col("word") +: leadCols: _*)
      .filter(col(s"w${w - 1}").isNotNull)
      .select(col(idCol),
        md5(concat_ws(" ", col("word") +: (1 until w).map(i => col(s"w$i")): _*))
          .as("span_hash"))
  }

  /** The two hash-shuffle stages over the window frame: document
    * frequencies → duplicated-hash set (corpus-sublinear, AQE broadcasts
    * it into the probe join) → per-doc window/dup-window counts, left
    * join back so short documents keep a zeroed row.
    */
  private[graft] def spanStats(
      docs: DataFrame, spans: DataFrame, minDocs: Int, idCol: String): DataFrame = {
    val dupHashes = spans.groupBy(col("span_hash"))
      .agg(countDistinct(col(idCol)).as("n_span_docs"))
      .filter(col("n_span_docs") >= minDocs)
      .select(col("span_hash"), lit(1).as("is_dup"))
    val perDoc = spans.join(dupHashes, Seq("span_hash"), "left")
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_windows"),
        sum(coalesce(col("is_dup"), lit(0))).as("n_dup_windows"))
    docs.select(col(idCol)).join(perDoc, Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("n_windows"), lit(0L)).as("n_windows"),
        coalesce(col("n_dup_windows"), lit(0L)).as("n_dup_windows"),
        round(coalesce(col("n_dup_windows").cast("double") / col("n_windows"),
          lit(0.0)), 6).as("dup_span_frac"))
  }

  /** Near-duplicate pairs by exact n-gram Jaccard similarity.
    *
    * Inverted-index plan: (id, shingle) self-join on shingle builds only
    * pairs that co-occur in ≥1 bucket; intersection size falls out of the
    * pair count, union from per-doc shingle counts. `maxShingleDf` drops
    * shingles from CANDIDATE GENERATION only (verification always uses
    * the full sets): with the cap disabled (`Long.MaxValue`) the result
    * is exactly the τ-pairs; a finite cap is the standard stop-shingle
    * approximation for boilerplate-heavy corpora and may miss pairs whose
    * only shared shingles are capped.
    */
  def jaccardPairs(
      docs: DataFrame,
      k: Int = 2,
      tau: Double = 0.8,
      maxShingleDf: Long = 1000L,
      idCol: String = "doc_id",
      checkpointDir: Option[String] = None): DataFrame = {
    // One shingling pass feeds four consumers (sizes, df counts, prefix
    // ranking, verification sets) — materialize it once for the scope of
    // this call and return the (small) verified pair list eagerly via
    // localCheckpoint, so the persist can be dropped before returning and
    // no cache entry outlives the function (measured: recomputing the
    // posexplode+window shingle plan 4× was ~3/4 of this query's cost).
    // No broadcast hints: `sizes` grows with the corpus, so broadcast
    // selection belongs to AQE, not a hint.
    val sh = shingles(docs, k, idCol).persist()
    try {
      // Populate the cache with ONE cheap job before the multi-consumer
      // evaluation: a lazy persist is filled on first touch, and the
      // checkpoint job's four sh-consumers run as parallel stages that
      // would otherwise EACH recompute the upstream lineage before any of
      // them finishes writing the cache (measured 2× on a quality-gated
      // input whose lineage carries a join).
      sh.count()
      eager(jaccardPairsOn(sh, tau, maxShingleDf, idCol), checkpointDir)
    } finally {
      sh.unpersist()
      ()
    }
  }

  /** [[jaccardPairs]] body over an already-materialized shingle table —
    * lazy; callers own persistence of `sh` and evaluation of the result.
    */
  private[graft] def jaccardPairsOn(
      sh: DataFrame, tau: Double, maxShingleDf: Long, idCol: String): DataFrame = {
    val sizes = sh.groupBy(idCol).agg(count(lit(1)).as("sz"))
    val rare = sh.join(
      sh.groupBy("shingle").agg(count(lit(1)).as("df"))
        .filter(col("df") <= maxShingleDf),
      Seq("shingle"))
      .join(sizes, Seq(idCol))
    // PPJoin-family prefix filtering (output-identical): J(A,B) ≥ τ implies
    // |A∩B| ≥ ⌈τ·max(|A|,|B|)⌉, so in ANY fixed global shingle order the
    // two prefixes of length sz - ⌈τ·sz⌉ + 1 must share a shingle. Rank
    // shingles rarest-first (df, then shingle) per doc and generate
    // candidates only from prefix×prefix — at τ=0.8 that is ~20% of each
    // posting list, ~25× fewer candidate rows than the full inverted-index
    // join. Candidates are then verified on the FULL shingle sets, and the
    // length-ratio bound (J ≤ min/max sizes) prunes inside the join.
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(idCol)).orderBy(col("df"), col("shingle"))
    val prefix = rare
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= col("sz") - ceil(lit(tau) * col("sz")) + 1)
      .select(col(idCol), col("shingle"), col("sz"), col("rk"))
    // PPJoin positional filter (Xiao et al., WWW'08 — r19 optimization):
    // J(A,B) ≥ τ needs |A∩B| ≥ τ·(|A|+|B|)/(1+τ), and a shared prefix
    // shingle at (1-based) ranks (i, j) bounds the overlap by
    // min(szA−i, szB−j)+1 — only elements from the shared shingle onward
    // (both prefixes are ranked by the SAME global (df, shingle) order)
    // can still intersect. The bound is monotone: later shared shingles
    // (larger i AND j) give strictly smaller bounds, so a pair's
    // best-case row is its first shared shingle — filtering ROWS in the
    // join keeps a pair iff its first shared shingle passes, i.e. iff
    // the pair can reach τ: provably output-identical, and on
    // low-vocabulary (boilerplate-heavy) corpora it prunes the bulk of
    // the candidate volume BEFORE the distinct shuffle and the
    // array-intersect verification (measured on the sf0.1 corpus, 931
    // distinct shingles over 5000 docs: 1.50 M → far fewer verified
    // pairs; verify was 17 s of the query's cost). The 1e-9 slack keeps
    // double rounding from ever pruning a boundary-exact true pair —
    // slack only ever ADMITS extra candidates, which verification drops.
    val candidates = prefix.as("a")
      .join(prefix.as("b"),
        col("a.shingle") === col("b.shingle") && col(s"a.$idCol") < col(s"b.$idCol") &&
          col("b.sz") * lit(1.0) >= lit(tau) * col("a.sz") &&
          col("a.sz") * lit(1.0) >= lit(tau) * col("b.sz") &&
          (least(col("a.sz") - col("a.rk"), col("b.sz") - col("b.rk")) + 1)
            .cast("double") + lit(1e-9) >=
            lit(tau / (1 + tau)) * (col("a.sz") + col("b.sz")))
      .select(col(s"a.$idCol").as("d1"), col(s"b.$idCol").as("d2"))
      .distinct()
    verifyJaccard(candidates, sh, tau, idCol)
  }

  /** MinHash signatures via the custom [[graft.functions.MinHashAggregator]]
    * — one mergeable Array[Long] buffer per doc instead of `numHashes`
    * separate column aggregates (per doc, the min of `numHashes` seeded
    * xxhash64 values over its shingle set), returned as one `sig` array
    * column. The shingle-set size `sz` rides the same grouping pass (one
    * extra count slot, no extra aggregation) for [[minHashPairs]]' length
    * prune.
    */
  def minHashSignaturesAgg(sh: DataFrame, numHashes: Int, idCol: String = "doc_id"): DataFrame = {
    val mh = udaf(new graft.functions.MinHashAggregator(numHashes),
      org.apache.spark.sql.Encoders.STRING)
    sh.groupBy(idCol).agg(mh(col("shingle")).as("sig"), count(lit(1)).as("sz"))
  }

  /** LSH-banded MinHash near-dup pairs: signatures are cut into
    * `numHashes / rowsPerBand` bands; docs colliding on any full band become
    * candidates; candidates are verified with exact Jaccard ≥ tau.
    *
    * Probability a pair with Jaccard j collides: 1 - (1 - j^r)^b — with
    * r=4, b=32 the S-curve crosses ~0.5 at j≈0.42, so recall at tau=0.8 is
    * effectively 1 while far pairs are never joined.
    */
  def minHashPairs(
      docs: DataFrame,
      k: Int = 2,
      numHashes: Int = 128,
      rowsPerBand: Int = 4,
      tau: Double = 0.8,
      idCol: String = "doc_id",
      checkpointDir: Option[String] = None): DataFrame = {
    require(numHashes % rowsPerBand == 0, "numHashes must be divisible by rowsPerBand")
    // the jaccardPairs/lshPairs persist contract applied here too: the
    // shingle table feeds the signature aggregate AND verification, and
    // the banded frame is BOTH sides of the bucket self-join — without
    // the scoped persists each consumer recomputes the lineage (3×
    // shingling, 2× the 128-hash signature UDAF — the dominant cost).
    // Each persist is populated by one cheap count() first (the lazy-
    // persist race), and the (small) verified pair list returns eagerly
    // via localCheckpoint so no cache entry outlives the call.
    val sh = shingles(docs, k, idCol).persist()
    try {
      sh.count()
      // the signature pass also carries the shingle-set size, so the
      // banded join can length-prune candidates (r20, guide §3.2
      // pre-filter the big side): J(A,B) ≥ τ forces τ·|A| ≤ |B| ≤ |A|/τ,
      // so a colliding pair outside that band can NEVER verify —
      // dropping it before the pair-distinct exchange is output-identical
      // and cuts both the distinct volume and the verify joins.
      val sig = minHashSignaturesAgg(sh, numHashes, idCol)
      val numBands = numHashes / rowsPerBand
      // One (id, band, bandHash) row per band; collisions inside a band bucket
      // are the candidate pairs. element_at is 1-based.
      val banded = sig.select(
        col(idCol),
        col("sz"),
        explode(array((0 until numBands).map { b =>
          struct(
            lit(b).as("band"),
            xxhash64((b * rowsPerBand until (b + 1) * rowsPerBand)
              .map(i => element_at(col("sig"), i + 1)): _*)
              .as("band_hash"))
        }: _*)).as("bb"))
        .select(col(idCol), col("sz"), col("bb.band"), col("bb.band_hash"))
        .persist()
      try {
        banded.count()
        val candidates = banded.as("a")
          .join(banded.as("b"),
            col("a.band") === col("b.band") && col("a.band_hash") === col("b.band_hash") &&
              col(s"a.$idCol") < col(s"b.$idCol") &&
              col("b.sz") * lit(1.0) >= lit(tau) * col("a.sz") &&
              col("a.sz") * lit(1.0) >= lit(tau) * col("b.sz"))
          .select(col(s"a.$idCol").as("d1"), col(s"b.$idCol").as("d2"))
          .distinct()
        eager(verifyJaccard(candidates, sh, tau, idCol), checkpointDir)
      } finally {
        banded.unpersist()
        ()
      }
    } finally {
      sh.unpersist()
      ()
    }
  }

  /** Output bundle of [[dedupPipeline]]: the exact-group table, the
    * exact-unique survivor docs, the near-dup pairs found among them, and
    * the final keeper docs (one per near-dup cluster). All lazy except
    * `nearDupPairs`, which is materialized once (localCheckpoint, or a
    * reliable checkpoint when `checkpointDir` is set), so neither
    * `clusters` nor repeated caller reads re-execute candidate
    * generation.
    */
  final case class DedupPipelineResult(
      exact: DataFrame,
      survivors: DataFrame,
      nearDupPairs: DataFrame,
      keepers: DataFrame)

  /** The MEASURED production dedup ordering — exact dedup FIRST, near-dup
    * among the exact-unique survivors — composed as one call so a
    * dup-heavy corpus (i.e. every real crawl corpus) gets the scale-safe
    * path by default instead of by folklore.
    *
    * Why the ordering is load-bearing (round-9 10×-replication stress,
    * PLANS.md "dedup family under 10× replication"): running the
    * df-capped [[jaccardPairs]] DIRECTLY on a replicated corpus silently
    * loses recall — measured 12,550 of 250,600 true pairs (5%) at 10×
    * replication, because replication inflates every shingle's document
    * frequency past `maxShingleDf` and the shared shingles vanish from
    * candidate generation. Exact-first fixes it structurally:
    *   1. [[exactGroups]] collapses every byte-identical replication
    *      group to one keeper — a single hash-groupBy shuffle that
    *      removes ALL replication (measured 1.5× time at 10× input);
    *   2. near-dup runs on the survivor set with the UNCAPPED
    *      [[jaccardPairs]] (`maxShingleDf = Long.MaxValue`), so its pairs
    *      are exactly the τ-pairs among the survivors — no df cap can
    *      overflow, and PPJoin prefix/positional filtering bounds the
    *      candidate volume;
    *   3. pairs among non-keeper replicas are IMPLIED by `exact`
    *      (every member duplicates its group's keeper), so nothing the
    *      direct path loses is lost here — DedupSpec pins the recovery
    *      on the 10×-replicated fixture.
    *
    * Scale shape: stage 1 is one shuffle on a 128-bit hash; stage 2 sees
    * only unique content, so its bucket geometry is the natural corpus's;
    * `keepers` is two anti-join-shaped prunes off already-small tables.
    */
  def dedupPipeline(
      docs: DataFrame,
      k: Int = 2,
      tau: Double = 0.8,
      idCol: String = "doc_id",
      textCol: String = "text",
      checkpointDir: Option[String] = None): DedupPipelineResult = {
    val groups = exactGroups(docs, idCol, textCol)
    val survivors = docs.join(
      groups.select(col("keeper_id").as(idCol)), Seq(idCol), "left_semi")
    // the (small) pair list arrives already materialized (jaccardPairs'
    // persist contract), so clusters() below AND the caller's own reads
    // of nearDupPairs never re-execute the candidate generation
    val pairs = jaccardPairs(survivors, k, tau, Long.MaxValue, idCol, checkpointDir)
    val losers = clusters(pairs, checkpointDir = checkpointDir)
      .filter(col("cluster_id") =!= col("id"))
      .select(col("id").as(idCol))
    val keepers = survivors.join(losers, Seq(idCol), "left_anti")
    DedupPipelineResult(groups, survivors, pairs, keepers)
  }

  /** Incremental ingest dedup — the corpus-GROWTH operation: from a new
    * batch, keep only the documents that are neither exact nor near
    * (Jaccard ≥ τ) duplicates of the EXISTING corpus, without ever
    * comparing corpus docs to each other. This is how a 100 TB corpus
    * actually grows: the corpus side is the already-materialized shingle
    * index (re-shingled here for self-containment; pass pre-computed
    * shingle tables at deployment), the batch side is small, and the
    * candidate join is batch-shingles ⋈ corpus-shingles only — cost
    * scales with the BATCH, not the corpus².
    *
    * Doc ids must be globally unique across both sides. Intra-batch
    * duplicates are NOT removed here — run [[jaccardPairs]]/[[clusters]]
    * on the batch first if the batch itself can contain dups.
    *
    * `bloomBits` (opt-in): batch-side Bloom prefilter for the exact
    * anti-join's corpus side; size it for the BATCH key count (~23 bits
    * per key for 1% fpp at 5 hashes). When to enable, measured
    * (PLANS.md "Round-14: the Bloom prefilter was on the wrong side",
    * 5.5k-doc batch, 3-trial medians): the filter costs one extra batch
    * aggregate plus a per-corpus-row probe and saves the corpus-hash
    * shuffle — it clearly LOSES below ~100k corpus rows (-0.7 s at 5k,
    * -2.1 s at 100k) and trades inside host
    * noise at 1M (+15% one capture, -13% another); treat ≥ ~1M corpus
    * rows as the earliest defensible enable point and measure in place.
    * The structurally bigger per-tick lever is
    * [[incrementalSurvivorsIndexed]] (measured 2.5× at 1M: 10.2 s vs
    * 26.0 s per tick, after a 13.8 s once-per-corpus-version index
    * build), which runs the plain anti-join.
    *
    * @return the surviving rows of `newDocs`, unchanged.
    */
  def incrementalSurvivors(
      newDocs: DataFrame,
      corpus: DataFrame,
      k: Int = 2,
      tau: Double = 0.8,
      maxShingleDf: Long = 1000L,
      idCol: String = "doc_id",
      textCol: String = "text",
      checkpointDir: Option[String] = None,
      bloomBits: Option[Int] = None): DataFrame = {
    val corpusHashes = corpus.select(md5(col(textCol)).as("__h")).distinct()
    // the corpus side is computed here, not read from an index: its
    // shingle table feeds the df count, the candidate join AND the
    // verification, so persist it and fill it with one job before
    // vsCorpusLayer fans out (see jaccardPairs — parallel consumer
    // stages otherwise race the lazy persist and recompute the lineage)
    val shOld = shingles(corpus, k, idCol, textCol).persist()
    try {
      shOld.count()
      val dfOld = shOld.groupBy("shingle").agg(count(lit(1)).as("df"))
      vsCorpusLayer(newDocs, (corpusHashes, shOld, dfOld), k, tau,
        maxShingleDf, idCol, textCol, checkpointDir, bloomBits)((survivors, _) => survivors)
    } finally {
      shOld.unpersist()
      ()
    }
  }

  /** The vs-corpus dedup layer of [[incrementalSurvivors]],
    * [[incrementalSurvivorsIndexed]] and the ingest tick, written once:
    * the exact anti-join against the corpus hashes
    * ([[exactSurvivorsVsHashes]]), persisted; the survivors' shingle
    * table, persisted; ONE fill `count()` (it also fills the exact
    * survivors' cache transitively) before the multi-consumer fan-out;
    * then [[nearDupSurvivors]]. `corpusSides` is (hashes, shingles, df)
    * as [[indexSides]] returns them. `continue` receives the (eager)
    * survivors and the cached batch shingle table — the tick reuses it
    * for its intra-batch layer and its index append — and both caches
    * are dropped when it returns.
    */
  private[graft] def vsCorpusLayer[T](
      newDocs: DataFrame, corpusSides: (DataFrame, DataFrame, DataFrame),
      k: Int, tau: Double, maxShingleDf: Long, idCol: String, textCol: String,
      checkpointDir: Option[String], bloomBits: Option[Int])(
      continue: (DataFrame, DataFrame) => T): T = {
    val (corpusHashes, shOld, dfOld) = corpusSides
    val exactSurvivors = exactSurvivorsVsHashes(
      newDocs, corpusHashes, textCol, bloomBits).persist()
    val shNew = shingles(exactSurvivors, k, idCol, textCol).persist()
    try {
      shNew.count()
      continue(nearDupSurvivors(exactSurvivors, shNew, shOld, dfOld,
        tau, maxShingleDf, idCol, checkpointDir), shNew)
    } finally {
      shNew.unpersist()
      exactSurvivors.unpersist()
      ()
    }
  }

  /** The near-dup half of [[vsCorpusLayer]]: candidates from
    * batch-shingles ⋈ df-capped corpus posting lists, full-set verify,
    * anti-join the losers out, materialized eagerly ([[eager]]).
    * `shOld`/`dfOld` may be cached frames (the self-contained form) or
    * parquet scans (the indexed form and the tick).
    */
  private def nearDupSurvivors(
      exactSurvivors: DataFrame, shNew: DataFrame, shOld: DataFrame,
      dfOld: DataFrame, tau: Double, maxShingleDf: Long, idCol: String,
      checkpointDir: Option[String]): DataFrame = {
    // cap disabled (Long.MaxValue) ⇒ every shingle passes the df filter:
    // skip the df aggregate + semi-join entirely instead of paying a
    // full corpus-df scan per tick for a provable no-op
    val rareOld =
      if (maxShingleDf == Long.MaxValue) shOld
      else shOld.join(
        dfOld.filter(col("df") <= maxShingleDf).select("shingle"),
        Seq("shingle"))
    val candidates = shNew.select(col(idCol).as("d1"), col("shingle"))
      .join(rareOld.select(col(idCol).as("d2"), col("shingle")), Seq("shingle"))
      .select("d1", "d2").distinct()
    val losers = verifyJaccard(candidates, shNew.unionByName(shOld), tau, idCol)
      .select(col("d1").as(idCol)).distinct()
    eager(exactSurvivors.join(losers, Seq(idCol), "left_anti"), checkpointDir)
  }

  /** Persist the corpus side of [[incrementalSurvivors]] as an on-disk
    * index — the deployment shape the operator's scaladoc promises: the
    * corpus is hashed and shingled ONCE per corpus version, and every
    * ingest tick afterwards reads three parquet tables instead of
    * re-scanning and re-shingling the whole corpus. Layout:
    * `hashes/` (distinct md5), `shingles/` (id, shingle), `df/`
    * (shingle, df — the document frequencies the cap consults; a corpus
    * property, so it belongs in the index, not the tick).
    */
  def writeIncrementalIndex(
      corpus: DataFrame, dir: String, k: Int = 2,
      idCol: String = "doc_id", textCol: String = "text"): Unit =
    appendIndexSlicePrecomputed(corpus, shingles(corpus, k, idCol, textCol),
      dir, "base", idCol, textCol)

  /** Merge every slice of a sliced incremental index into a single fresh
    * `base` slice at `dstDir`. After thousands of ingest ticks the
    * per-tick costs that scale with SLICE COUNT (partition discovery
    * over `batch=` dirs, one parquet footer per slice file, the df
    * partial-count re-aggregate) creep up even though the data volume is
    * unchanged; compaction resets them to one slice per table.
    *
    * Writes to a NEW directory rather than in place so a concurrently
    * running tick never sees a half-compacted index. In the loop,
    * `DedupStream.compactIfNeeded` (opt-in `maxSlices`) builds it into a
    * scratch directory at the start of a tick and swaps it in through
    * `FsPaths.rebuildAndSwap`; an offline caller swaps the directory (or
    * the index-path config) between ticks. Slices are disjoint by
    * construction (each tick appends only docs that survived against
    * everything before it), so compaction is a pure re-layout — hashes
    * stay distinct and shingle rows unique without a dedup shuffle; df
    * partials are summed once here instead of on every future tick read.
    */
  def compactIncrementalIndex(
      spark: org.apache.spark.sql.SparkSession,
      srcDir: String, dstDir: String,
      excludeTag: Option[String] = None): Unit = {
    require(
      // Hadoop-qualified comparison, not java.io.File — see
      // Similarity.compactIvfIndex: string/local-path identity misses
      // scheme'd URI aliases of one HDFS/S3 location
      !graft.core.FsPaths.samePath(spark, srcDir, dstDir),
      "compaction must target a fresh directory, not the live index")
    // excludeTag: the in-loop swap (`DedupStream` with maxSlices) runs
    // compaction at the START of a tick, before the tick's own append —
    // any batch=<tag> slices already present are uncommitted leftovers
    // of a crashed attempt of THIS tick (graft.core.Slices contract)
    def slices(table: String) = graft.core.Slices.excludeTag(
      spark.read.parquet(s"$srcDir/$table"), excludeTag)
    slices("hashes").select("__h")
      .write.mode("overwrite").parquet(s"$dstDir/hashes/batch=base")
    val idCol = shOldIdCol(spark, s"$srcDir/shingles", "doc_id")
    slices("shingles").select(col(idCol), col("shingle"))
      .write.mode("overwrite").parquet(s"$dstDir/shingles/batch=base")
    slices("df")
      .groupBy("shingle").agg(sum("df").as("df"))
      .write.mode("overwrite").parquet(s"$dstDir/df/batch=base")
  }

  /** The one writer of an index slice: the `batch=<tag>` slices of
    * `hashes/`, `shingles/` and `df/` for `written`'s documents, hashes
    * overlapped with shingles+df (guide §2.6). `shKeep` must be exactly
    * the shingle rows of `written`'s documents — `shingles(written, k)`
    * for the base build, and for the ingest tick
    * an id semi-join on its cached batch shingle table (computed once
    * for all three dedup layers — r19; shingle rows are per-document, so
    * the filter IS the re-shingle).
    */
  private[graft] def appendIndexSlicePrecomputed(
      written: DataFrame, shKeep: DataFrame, dir: String, tag: String,
      idCol: String, textCol: String): Unit = {
    require(!tag.contains("/") && tag.nonEmpty, s"bad index batch tag: $tag")
    // the shingles write fills the persist cache, so the df aggregate
    // reads cached blocks — no separate materializing count, and no
    // second evaluation of the shingle lineage; the independent hash
    // write overlaps both, shingles → df stays ordered for the cache fill
    val shK = shKeep.select(col(idCol), col("shingle")).persist()
    try {
      graft.core.Actions.inParallel(
        () => written.select(md5(col(textCol)).as("__h")).distinct()
          .write.mode("overwrite").parquet(s"$dir/hashes/batch=$tag"),
        () => {
          shK.write.mode("overwrite").parquet(s"$dir/shingles/batch=$tag")
          shK.groupBy("shingle").agg(count(lit(1)).as("df"))
            .write.mode("overwrite").parquet(s"$dir/df/batch=$tag")
        })
    } finally {
      shK.unpersist()
      ()
    }
  }

  /** [[incrementalSurvivors]] over a [[writeIncrementalIndex]] index —
    * result-identical to the self-contained form on the same corpus
    * (same oracle in the catalog; pinned in BloomFilterSpec), but the
    * per-tick cost drops to batch work + three index scans: no corpus
    * re-shingle, no per-tick df recount. The shingle width `k` is the
    * one baked into the index.
    */
  def incrementalSurvivorsIndexed(
      spark: org.apache.spark.sql.SparkSession,
      newDocs: DataFrame,
      indexDir: String,
      tau: Double = 0.8,
      maxShingleDf: Long = 1000L,
      k: Int = 2,
      idCol: String = "doc_id",
      textCol: String = "text",
      checkpointDir: Option[String] = None): DataFrame =
    vsCorpusLayer(newDocs, indexSides(spark, indexDir, idCol, None), k, tau,
      maxShingleDf, idCol, textCol, checkpointDir, bloomBits = None)((survivors, _) => survivors)

  /** The three reader frames of a persisted incremental index, own-tag
    * slices excluded. excludeBatchTag: a REPLAYED ingest tick must not
    * see its own earlier append — against an index containing its own
    * slice every batch doc is an exact dup of itself and survivors
    * collapse to empty, breaking replay idempotency. Excluding the tag
    * is a partition-directory prune (batch= is the slice partition
    * column), so the exclusion costs nothing at read time. The df table
    * holds per-slice partial counts; the cap decision needs their sum —
    * a shingle-level aggregate, orders of magnitude smaller than the
    * shingle table itself.
    */
  private[graft] def indexSides(
      spark: org.apache.spark.sql.SparkSession, indexDir: String,
      idCol: String, excludeBatchTag: Option[String])
      : (DataFrame, DataFrame, DataFrame) = {
    def excl(df: DataFrame): DataFrame =
      graft.core.Slices.excludeTag(df, excludeBatchTag)
    val corpusHashes =
      excl(spark.read.parquet(s"$indexDir/hashes")).select("__h")
    val shOld = excl(spark.read.parquet(s"$indexDir/shingles"))
      .withColumnRenamed(shOldIdCol(spark, s"$indexDir/shingles", idCol), idCol)
      .select(col(idCol), col("shingle"))
    val dfOld = excl(spark.read.parquet(s"$indexDir/df"))
      .groupBy("shingle").agg(sum("df").as("df"))
    (corpusHashes, shOld, dfOld)
  }

  /** The exact dedup layer of [[vsCorpusLayer]]: anti-join the new
    * batch against the corpus hash set, optionally Bloom-pruning the
    * CORPUS side first with a `bloomBits`-bit, 5-hash filter (when to
    * enable it: [[incrementalSurvivors]]). Lazy; callers own persistence.
    */
  private def exactSurvivorsVsHashes(
      newDocs: DataFrame, corpusHashes: DataFrame, textCol: String,
      bloomBits: Option[Int]): DataFrame = {
    val newHashed = newDocs.withColumn("__h", md5(col(textCol)))
    val exactBase = bloomBits match {
      case Some(m) =>
        // Bloom prefilter (opt-in): one bounded driver-held bit table
        // (m/8 bytes) built over the BATCH hashes — the SMALL side — and
        // used to prune the CORPUS side of the anti-join. Size `m` for
        // the batch, not the corpus (a batch-sized table is KBs, so the
        // plan literal the probe embeds stays negligible). A corpus hash
        // the filter rejects cannot equal any batch hash, so dropping it
        // cannot change the anti-join — the filter changes cost, never
        // the answer. This is the side that matters: the anti-join's
        // dominant cost is shuffling the CORPUS hash set (O(corpus)),
        // and the pruned corpus side shrinks to ~|dups| + fpp·|corpus|.
        // (The first cut of this operator bloomed the batch-side rows
        // against a corpus-sized table instead — measured STRICTLY worse
        // at every corpus scale up to 1M docs, 4.7×→1.5×, because the
        // corpus shuffle it was supposed to save survived untouched and
        // the MB-sized literal inflated every task binary ~7×.)
        val nHashes = 5
        val bloom = graft.functions.BloomFilter.build(
          newHashed.select(col("__h")), col("__h"), m, nHashes)
        val corpusMaybe = corpusHashes.filter(
          graft.functions.BloomFilter.mightContain(
            bloom, col("__h"), m, nHashes))
        newHashed.join(corpusMaybe, Seq("__h"), "left_anti")
      case None => newHashed.join(corpusHashes, Seq("__h"), "left_anti")
    }
    exactBase.drop("__h")
  }

  /** The id column name the index's shingle table was written with —
    * normally `idCol` already; tolerate an index built under a different
    * id name by taking the non-`shingle` column. */
  private def shOldIdCol(
      spark: org.apache.spark.sql.SparkSession, path: String,
      idCol: String): String =
    spark.read.parquet(path).columns
      .filter(c => c != "shingle" && c != "batch").headOption
      .getOrElse(idCol)

  /** Exact-Jaccard verification of candidate pairs against the shingle
    * sets — as collected arrays + codegen'd `array_intersect`, not a
    * re-join: a candidate set of c pairs costs c intersections of ~|doc|
    * elements instead of a c×|doc| row explosion through two shuffles
    * (measured ~4× faster on a dense corpus where candidates are many).
    *
    * Memory bound: `collect_list` holds ONE document's shingle set per
    * row — ~|doc| strings, not a partition's worth — so the row size is
    * bounded by the largest single document, the same bound any exact
    * per-doc set comparison has. A corpus with pathological multi-GB
    * single documents needs a length cap at ingest (`Curation.lengthCap`),
    * not a different verify plan.
    */
  private def verifyJaccard(pairs: DataFrame, sh: DataFrame, tau: Double, idCol: String): DataFrame = {
    // r19 optimization: the per-doc sets are kept SORTED
    // (sort_array over the engine's own binary string order) so the
    // per-pair intersection is the codegen'd two-pointer merge
    // [[graft.functions.SortedIntersectCount]] — `array_intersect`
    // allocated and hashed an OpenHashSet per candidate PAIR, which
    // dominated this path on low-vocabulary corpora (QueryJobProfile,
    // sf0.1: 0.67 M candidates, verify was the query's hottest stage —
    // OPTIMIZATION_r19.md "Changes (batch 1)"). Counts are identical:
    // both sides are distinct-element sets and each shared element is
    // counted once. The size-
    // ratio prune runs BEFORE the merge so pairs the length bound
    // already excludes (candidates from the incremental paths carry no
    // such prune) never pay for one.
    val sets = sh.groupBy(idCol)
      .agg(sort_array(collect_list(col("shingle"))).as("set"),
        count(lit(1)).as("sz"))
    val spark = sh.sparkSession
    pairs
      .join(sets.select(col(idCol).as("d1"), col("set").as("set1"), col("sz").as("sz1")), Seq("d1"))
      .join(sets.select(col(idCol).as("d2"), col("set").as("set2"), col("sz").as("sz2")), Seq("d2"))
      .filter(col("sz1") * lit(1.0) >= lit(tau) * col("sz2") &&
        col("sz2") * lit(1.0) >= lit(tau) * col("sz1"))
      .withColumn("n_inter",
        graft.core.GraftExtensions.sortedIntersectCount(
          spark, col("set1"), col("set2")))
      .withColumn("jaccard",
        col("n_inter").cast("double") / (col("sz1") + col("sz2") - col("n_inter")))
      .filter(col("jaccard") >= tau)
      .select("d1", "d2", "jaccard")
  }

  /** Connected components over a near-duplicate pair list: iterative
    * min-label propagation with pointer jumping — each round every vertex
    * adopts the smallest label among itself and its neighbors, then jumps
    * to its label's label (path shortcutting), so rounds needed are
    * O(log diameter), not O(diameter). Returns (id, cluster_id) where
    * cluster_id is the smallest doc id in the component — turning dedup
    * PAIRS into dedup GROUPS with a canonical keeper.
    *
    * Iterative-loop scale hygiene (the part that breaks first at 100 TB):
    *   - every round's labels are `localCheckpoint()`ed — persist caches
    *     data but not the PLAN, so without truncation each round's logical
    *     plan references the previous round's and driver-side analysis
    *     cost grows unboundedly;
    *   - convergence is ONE cheap aggregate over the just-materialized
    *     labels, not an `exceptAll` (two extra shuffles): the checksum is
    *     `sum(xxhash64(id, label))` in DECIMAL(38,0) (no overflow at any
    *     corpus size), which is type-agnostic — ids may be longs, strings,
    *     UUIDs — and never null, so unchanged labels always reproduce the
    *     same sum while any label change shifts it with probability
    *     1 - 2^-64 per round. Labels only ever decrease (min-aggregation
    *     over a finite set), so a stable checksum IS the fixpoint;
    *   - the jump join's build side is keyed by unique id; the probe side
    *     (label) is skewed inside big components — AQE skew-join splits it.
    *
    * `checkpointDir` switches the per-round materialization from
    * `localCheckpoint` (executor block storage — fast, but a lost
    * executor kills the lineage-truncated RDD and fails the job) to a
    * reliable `checkpoint` into that directory. On a long-running
    * 1000-executor job, executor loss is routine, so pass a durable path
    * (HDFS/object store) there; local mode and tests keep the fast path.
    *
    * Adaptive small-graph finish: when the pair list holds at most
    * `localFinishMaxEdges` edges (counted first — one cheap job over the
    * already-small verified-pair output), the component labeling runs as
    * a driver-side union-find instead of the distributed loop. This is
    * the standard endgame of scalable connected-components (iterate /
    * contract while big, solve locally once the problem fits one
    * machine): a 50-edge dedup graph must not pay log(diameter) rounds of
    * checkpoint+join+aggregate cluster jobs. The default cap (2^20 edges,
    * tens of MB collected) bounds driver memory; pass -1 to force the
    * distributed path, or raise the cap on a fat-driver deployment.
    */
  def clusters(
      pairs: DataFrame,
      maxIter: Int = 25,
      checkpointDir: Option[String] = None,
      localFinishMaxEdges: Long = 1L << 20,
      roundCounter: Int => Unit = _ => ()): DataFrame = {
    checkpointDir.foreach(pairs.sparkSession.sparkContext.setCheckpointDir)
    // lazily-marked checkpoints inside the loop: the round's checksum
    // aggregate is the action that materializes them, so each round is
    // ONE job instead of checkpoint-job + checksum-job (r20, verdict
    // task 10)
    def materialize(df: DataFrame): DataFrame =
      if (checkpointDir.isDefined) df.checkpoint(eager = false)
      else df.localCheckpoint(eager = false)
    // a pair with a null endpoint carries no EDGE information (no doc has
    // a null id) — exclude it from the edge set so the local union-find
    // can't NPE and the distributed joins can't strand the null side. But
    // the non-null endpoint is still a vertex of the graph: it gets a
    // singleton cluster row (matching the pre-round-5 distributed
    // behavior, where its self-loop emitted it), instead of vanishing
    // from the output. Only rows where BOTH endpoints are null drop.
    // ONE persisted narrow frame feeds both the endgame gate and the
    // distributed working set — r19 optimization: the old shape persisted
    // two derived frames and gated on two separate count() jobs plus two
    // collect() jobs (4 driver-blocking jobs before any real work); the
    // gate is now one count (fills the cache) and the local path one
    // collect, with the edge/single split done driver-side. Gating on
    // the TOTAL row count (instead of p+singles) is only more
    // conservative: both-null rows counted here merely shrink the local
    // path's reach, never change its answer.
    val ends = pairs.select(col("d1"), col("d2")).persist()
    def p = ends.filter(col("d1").isNotNull && col("d2").isNotNull)
    def singles = ends.filter(col("d1").isNull =!= col("d2").isNull)
      .select(coalesce(col("d1"), col("d2")).as("src")).distinct()
    // local endgame only for id types whose JVM ordering provably matches
    // Spark's min() ordering (strings via the UTF-8 compare below,
    // numerics/decimal/date/timestamp via Comparable); anything else —
    // mixed d1/d2 types (union coercion), BinaryType (not Comparable),
    // structs — stays on the distributed path, so which path runs can
    // never change the answer or turn into a type crash at a data-size
    // threshold
    // Float/Double are NOT localSafe: Spark SQL normalizes -0.0 to 0.0 in
    // grouping/min, while java.lang.Double.compareTo orders -0.0 < 0.0
    // and a HashMap keeps them as distinct keys — the two paths could
    // disagree on vertex identity and keeper label for signed zeros.
    val dt1 = pairs.schema("d1").dataType
    val localSafe = dt1 == pairs.schema("d2").dataType && (dt1 match {
      case org.apache.spark.sql.types.StringType | org.apache.spark.sql.types.BooleanType |
           org.apache.spark.sql.types.ByteType | org.apache.spark.sql.types.ShortType |
           org.apache.spark.sql.types.IntegerType | org.apache.spark.sql.types.LongType |
           org.apache.spark.sql.types.DateType | org.apache.spark.sql.types.TimestampType => true
      case _: org.apache.spark.sql.types.DecimalType => true
      case _ => false
    })
    // Gate and fetch in ONE bounded action: take(cap+1) either returns
    // the whole (small) pair list — the local endgame's input — or
    // proves the graph exceeds the cap (r19; the previous shape paid a
    // count job AND a collect job). The overshoot row bounds driver
    // memory exactly like the old count gate did.
    // clamp BEFORE the +1: localFinishMaxEdges = Long.MaxValue must not
    // wrap to take(0) (ADVICE r19 — a silent empty clustering); a cap at
    // or above Int.MaxValue-1 degrades to "fetch as much as take() can"
    val takeN = math.min(localFinishMaxEdges, Int.MaxValue.toLong - 1).toInt + 1
    val all = if (localSafe && localFinishMaxEdges >= 0) ends.take(takeN)
      else Array.empty[org.apache.spark.sql.Row]
    if (localSafe && localFinishMaxEdges >= 0 && all.length <= localFinishMaxEdges) {
      ends.unpersist()
      val rows = all.filter(r => !r.isNullAt(0) && !r.isNullAt(1))
      // driver-side distinct matches the old SQL distinct for every
      // localSafe id type (String/integral/fixed-scale-Decimal/Date/
      // Timestamp equals ≡ SQL equality; Float/Double are excluded from
      // localSafe precisely because it would not)
      val singleVerts = all.iterator
        .filter(r => r.isNullAt(0) != r.isNullAt(1))
        .map(r => if (r.isNullAt(0)) r.get(1) else r.get(0))
        .toArray.distinct
      return localUnionFind(pairs, rows, singleVerts)
    }
    // distributed path: pre-fill the cache before the multi-consumer
    // plan below (lazy-persist race); take() above only touched a prefix
    ends.count(): Unit
    val verts = p.select(col("d1").as("src"))
      .union(p.select(col("d2").as("src")))
      .union(singles).distinct()
    // self-loops fold "keep own label" into the neighbor-min aggregation,
    // so the loop body is one join + one groupBy — no per-round union
    val edges = p.select(col("d1").as("src"), col("d2").as("dst"))
      .union(p.select(col("d2").as("src"), col("d1").as("dst")))
      .union(verts.select(col("src"), col("src").as("dst")))
      .persist()
    var labels = materialize(
      verts.select(col("src").as("id")).withColumn("label", col("id")))
    // xxhash64 over (id, label) never yields null (unlike casting a
    // string/UUID label to a numeric, which silently nulls out in
    // non-ANSI mode and made every round's checksum None ⇒ instant
    // false convergence); coalesce covers only the empty-input frame.
    def checksum(df: DataFrame): java.math.BigDecimal =
      df.agg(coalesce(
        sum(xxhash64(col("id"), col("label")).cast("decimal(38,0)")),
        lit(0).cast("decimal(38,0)"))).head().getDecimal(0)
    var prev = checksum(labels)
    var converged = false
    var i = 0
    while (!converged && i < maxIter) {
      // pointer jumping: label := label(label). Labels are always vertex
      // ids (min over seen ids), so the self-join always matches; the
      // coalesce is belt-and-braces for the left join. Self-joining the
      // CHECKPOINTED frame keeps the plan trivially deduplicable.
      val jumped = labels.as("a")
        .join(labels.select(col("id").as("label"), col("label").as("label2")).as("b"),
          Seq("label"), "left")
        .select(col("id"), coalesce(col("label2"), col("label")).as("label"))
      val next = materialize(
        edges.join(jumped.select(col("id").as("dst"), col("label")), Seq("dst"))
          .groupBy("src").agg(min("label").as("label"))
          .withColumnRenamed("src", "id"))
      val cs = checksum(next)
      converged = cs.compareTo(prev) == 0
      prev = cs
      labels = next
      i += 1
    }
    edges.unpersist()
    ends.unpersist()
    roundCounter(i)
    if (!converged)
      org.slf4j.LoggerFactory.getLogger(getClass).warn(
        s"clusters() hit maxIter=$maxIter before converging: a component with " +
          "diameter > 2^maxIter exists and its cluster_id is NOT the component " +
          "minimum; raise maxIter")
    labels.withColumnRenamed("label", "cluster_id")
  }

  /** Driver-side min-label union-find over a collected pair list — the
    * [[clusters]] small-graph endgame. Semantics are identical to the
    * distributed loop: every vertex labeled with the smallest id in its
    * component under the id type's natural ordering (ids must be
    * mutually comparable — longs, strings, …, as the distributed min
    * aggregation already requires).
    */
  private def localUnionFind(
      pairs: DataFrame,
      rows: Array[org.apache.spark.sql.Row],
      singleVerts: Array[Any]): DataFrame = {
    def lt(a: Any, b: Any): Boolean = (a, b) match {
      case (x: String, y: String) =>
        // Spark's min() on strings orders by UTF-8 BYTES; String.compareTo
        // orders by UTF-16 code units, and the two disagree for
        // supplementary-plane characters (surrogates D800-DFFF sort below
        // U+E000-U+FFFF in UTF-16 but their UTF-8 encoding sorts above).
        // Compare raw UTF-8 so both cluster paths pick the same keeper.
        val xb = x.getBytes(java.nio.charset.StandardCharsets.UTF_8)
        val yb = y.getBytes(java.nio.charset.StandardCharsets.UTF_8)
        val n = math.min(xb.length, yb.length)
        var i = 0
        var c = 0
        while (i < n && c == 0) { c = (xb(i) & 0xff) - (yb(i) & 0xff); i += 1 }
        if (c != 0) c < 0 else xb.length < yb.length
      case _ => a.asInstanceOf[java.lang.Comparable[Any]].compareTo(b) < 0
    }
    val parent = scala.collection.mutable.HashMap.empty[Any, Any]
    def find(x: Any): Any = {
      var r = x
      while (parent(r) != r) r = parent(r)
      var c = x
      while (parent(c) != r) { val n = parent(c); parent(c) = r; c = n }
      r
    }
    // vertices whose only pairs had a null partner: singleton components
    singleVerts.foreach(v => parent.getOrElseUpdate(v, v))
    rows.foreach { row =>
      val (a, b) = (row.get(0), row.get(1))
      parent.getOrElseUpdate(a, a)
      parent.getOrElseUpdate(b, b)
      val (ra, rb) = (find(a), find(b))
      // union by keeping the SMALLER root: the root is always the
      // component minimum, so find() directly yields the cluster label
      if (ra != rb) { if (lt(ra, rb)) parent(rb) = ra else parent(ra) = rb }
    }
    val spark = pairs.sparkSession
    val idType = pairs.schema("d1").dataType
    val out = parent.keysIterator
      .map(v => org.apache.spark.sql.Row(v, find(v))).toSeq
    spark.createDataFrame(
      spark.sparkContext.parallelize(out, math.max(1, out.size / 100000)),
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("id", idType),
        org.apache.spark.sql.types.StructField("cluster_id", idType))))
  }

  /** 64-bit SimHash per document over its word sequence: each token hash
    * votes ±1 per bit position; the sign of the vote sum is the
    * fingerprint bit. One packed [[graft.functions.SimHashAggregator]]
    * per doc (r20) instead of 64 separate `sum(when(...))` column
    * aggregates — bit-identical fingerprints (parity pinned in
    * DedupSpec against the column form).
    */
  def simHash(docs: DataFrame, idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    val tok = docs.select(col(idCol), explode(split(col(textCol), " ")).as("w"))
      .withColumn("h", xxhash64(col("w")))
    val sh = udaf(new graft.functions.SimHashAggregator,
      org.apache.spark.sql.Encoders.scalaLong)
    tok.groupBy(idCol).agg(sh(col("h")).as("simhash"))
  }

  /** SimHash near-dup pairs within `maxHamming` bits, candidate-generated
    * by exact match on one of `numBlocks` equal bit blocks, where
    * `numBlocks` is the smallest power of two above `maxHamming`
    * (3 → 4, 5 and 7 → 8). Pigeonhole: a pair at distance ≤ numBlocks-1
    * differs in at most numBlocks-1 blocks, so at least one block is
    * identical and candidate generation is lossless — the pair set is
    * exactly the `bit_count(a xor b) <= maxHamming` pairs over
    * [[simHash]]; no fewer blocks (each wider, so fewer collisions)
    * keeps that guarantee.
    */
  def simHashPairs(
      docs: DataFrame,
      maxHamming: Int = 3,
      idCol: String = "doc_id"): DataFrame = {
    require(maxHamming >= 0 && maxHamming < 64, s"maxHamming must be in [0, 63], got $maxHamming")
    val numBlocks = math.max(1, Integer.highestOneBit(maxHamming) << 1)
    val bits = 64 / numBlocks
    // one 64-bit block (maxHamming 0): a JVM shift by 64 is a shift by 0
    val mask = if (bits == 64) -1L else (1L << bits) - 1L
    val sig = simHash(docs, idCol)
    val blocks = sig.select(
      col(idCol), col("simhash"),
      explode(array((0 until numBlocks).map { b =>
        struct(lit(b).as("blk"),
          shiftright(col("simhash"), b * bits).bitwiseAND(mask).as("blk_val"))
      }: _*)).as("bb"))
      .select(col(idCol), col("simhash"), col("bb.blk"), col("bb.blk_val"))
    blocks.as("a")
      .join(blocks.as("b"),
        col("a.blk") === col("b.blk") && col("a.blk_val") === col("b.blk_val") &&
          col(s"a.$idCol") < col(s"b.$idCol"))
      .select(
        col(s"a.$idCol").as("d1"), col(s"b.$idCol").as("d2"),
        bit_count(col("a.simhash").bitwiseXOR(col("b.simhash"))).as("hamming"))
      .distinct()
      .filter(col("hamming") <= maxHamming)
  }
}
