package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** End-to-end corpus curation: the composition a training-data pipeline
  * actually runs — quality gate → near-duplicate removal (keep one doc
  * per cluster) → deterministic split assignment — plus eval-set
  * decontamination. Everything is built from the already-verified
  * operators (TextAnalysis, TextDedup, DatasetSplit), so each stage keeps
  * its own oracle/test coverage and this module stays pure composition.
  */
object Curation {

  /** Quality-gate + dedup + split.
    *
    * Dedup runs AMONG THE QUALITY-PASSING DOCS ONLY — so the keeper of
    * every near-dup cluster is itself a kept document (smallest good doc
    * id). Deduping over all docs first would silently drop a whole
    * cluster whenever its min-id keeper happened to fail the quality
    * gate, losing content that had a high-quality representative; gating
    * first also shingles a smaller corpus.
    *
    * @return (doc_id, n_words, quality_score, bucket, split) for every
    *         KEPT document: passes the quality thresholds and is its
    *         near-dup cluster's canonical keeper (smallest passing doc
    *         id; unclustered docs keep themselves).
    *
    * `maxShingleDf` defaults to the scale-safe finite cap (jaccardPairs'
    * own default): a boilerplate shingle shared by a large fraction of a
    * short-doc corpus would otherwise land in candidate prefixes and blow
    * up candidate volume quadratically. Pass `Long.MaxValue` to disable
    * the cap and get the exact τ-pairs (what the oracle-checked catalog
    * query does on the small fixture corpus, where the two agree —
    * CurationSpec pins that agreement).
    *
    * DUP-HEAVY CORPORA (every real crawl corpus): do NOT run this direct
    * path — replication inflates shingle dfs past the cap and near-dup
    * recall silently collapses (measured: 5% of true pairs at 10×
    * replication). Run [[TextDedup.dedupPipeline]] first (exact dedup →
    * near-dup among exact-unique survivors) and feed its `nearDupPairs` /
    * `keepers` into [[curateDeduped]]; DedupSpec pins the recovery.
    */
  def curate(
      docs: DataFrame,
      minWords: Int = 20,
      minQuality: Double = 0.3,
      dedupTau: Double = 0.8,
      maxShingleDf: Long = 1000L): DataFrame = {
    val good = qualityGate(docs, minWords, minQuality)
    curateDeduped(good,
      TextDedup.jaccardPairs(good, k = 2, tau = dedupTau, maxShingleDf = maxShingleDf))
  }

  /** Ingest-side document length cap — the guard every downstream
    * dedup/shingling bound assumes (a single pathological multi-MB doc
    * explodes `TextDedup.verifyJaccard`'s per-pair shingle sets and any
    * per-doc window; see TextDedup.scala's verify note). Map-only, no
    * shuffle.
    *
    * Every row survives; an over-long text is cut to its first
    * `maxTokens` whitespace tokens. The audit rides on the output —
    * `n_tokens_orig` and the 0/1 `capped` flag — so a curation report can
    * count and attribute what the cap touched without a second scan.
    */
  def lengthCap(
      docs: DataFrame,
      maxTokens: Int,
      textCol: String = "text"): DataFrame = {
    require(maxTokens > 0, "maxTokens must be positive")
    // Token count drops empty tokens (the convention the shingle/n-gram
    // consumers share: ngramTf/featurize do the same), so runs of spaces
    // never shift the TRUNCATION POINT. The CAP DECISION additionally
    // bounds the RAW split size — that is the memory-relevant quantity:
    // a document of separator runs has few tokens but materializes a
    // huge transient array in every split-based consumer (including the
    // raw-count conventions of stats/resampleToMixture/pack), and a
    // guard that let it through uncapped would not be a memory guard.
    // Capped docs re-join with single spaces (whitespace-normalized);
    // uncapped text passes through byte-identical.
    val ws = filter(split(col(textCol), " "), t => length(t) > 0)
    val rawN = size(split(col(textCol), " "))
    docs
      .withColumn("n_tokens_orig", size(ws).cast("long"))
      .withColumn("capped",
        (col("n_tokens_orig") > maxTokens || rawN > maxTokens).cast("int"))
      .withColumn(textCol,
        when(col("capped") === 1, concat_ws(" ", slice(ws, 1, maxTokens)))
          .otherwise(col(textCol)))
  }

  /** The quality-gate stage alone: docs plus (n_words, quality_score),
    * filtered to the passing rows.
    */
  def qualityGate(docs: DataFrame, minWords: Int, minQuality: Double): DataFrame = {
    // MAP-ONLY (r20, guide §2 remove shuffles outright): the old shape
    // joined docs back to TextAnalysis.stats(docs) — a self-join of docs
    // with its own per-row projection, i.e. two exchanges plus a join
    // for columns that are plain row expressions. Recompute the two
    // gated columns in place with the IDENTICAL expressions stats() uses
    // (same split, same int size, same double promotion — bit-identical
    // values), dropping any same-named input columns first so re-gating
    // an already scored frame still replaces rather than duplicates.
    // The 20-word threshold inside quality_score is stats()'s fixed
    // convention, independent of this gate's minWords.
    val w = split(col("text"), " ")
    docs.drop("n_words", "quality_score")
      .withColumn("n_words", size(w))
      .withColumn("quality_score",
        when(col("n_words") >= 20, lit(1.0)).otherwise(lit(0.5)) *
          (size(array_distinct(w)).cast("double") / col("n_words")))
      .filter(col("n_words") >= minWords && col("quality_score") >= minQuality)
  }

  /** [[curate]] with the near-dup pairs supplied by the caller (computed
    * over the SAME quality-passing set, e.g. a dedup stage that already
    * ran) — a pipeline that has pairs in hand must not repay shingling
    * and candidate generation.
    */
  def curateDeduped(good: DataFrame, pairs: DataFrame): DataFrame = {
    // docs that are IN a near-dup cluster but are not its keeper
    val dupLosers = TextDedup.clusters(pairs)
      .filter(col("cluster_id") =!= col("id"))
      .select(col("id").as("doc_id"))
    DatasetSplit.assign(
      good.join(dupLosers, Seq("doc_id"), "left_anti"), "text")
      .select("doc_id", "n_words", "quality_score", "bucket", "split")
  }

  /** Per-domain cap — the source-mixing guard of corpus assembly: keep at
    * most `maxPerDomain` documents per domain (source site, crawl host,
    * …), preferring the highest quality_score (doc_id breaks ties), so
    * one boilerplate-heavy domain cannot dominate the training mix.
    *
    * Scale shape: one shuffle on the domain; `row_number` sorts each
    * domain inside its partition. Web-crawl domain counts are Zipfian, so
    * a head domain can out-size an executor — AQE skew-split handles the
    * sort spill, but for extreme heads pre-thin with an approximate
    * per-domain quality threshold (`approx_percentile`) and exact-rank
    * only the survivors; the cap semantics below stay the contract.
    *
    * @return the capped docs with (quality_score, domain_rank) attached.
    */
  def capPerDomain(
      docs: DataFrame,
      maxPerDomain: Int,
      domainCol: String = "source"): DataFrame = {
    // reuse an input quality_score when the caller already computed one
    // (the natural capPerDomain(qualityGate(...)) composition) — both
    // skipping the second full stats scan and keeping the output free of
    // ambiguous duplicate columns; the join below re-attaches the score
    // from the ranked side, so the input copy is dropped either way
    val st =
      if (docs.columns.contains("quality_score"))
        docs.select(col("doc_id"), col("quality_score"))
      else TextAnalysis.stats(docs).select(col("doc_id"), col("quality_score"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(domainCol))
      .orderBy(col("quality_score").desc, col("doc_id").asc)
    // rank a slim (id, domain, quality) projection and join the winners
    // back — the full text never crosses the domain-partitioned exchange
    // or its sort, which is what spills when a head domain out-sizes an
    // executor
    val ranked = docs.select(col("doc_id"), col(domainCol))
      .join(st, "doc_id")
      .withColumn("domain_rank", row_number().over(w))
      .filter(col("domain_rank") <= maxPerDomain)
      .select(col("doc_id"), col("quality_score"), col("domain_rank"))
    docs.drop("quality_score", "domain_rank").join(ranked, "doc_id")
  }

  /** Mixture resampling to target token shares — the up/down-sampling
    * step of training-mix assembly ("web 60%, code 30%, books 10%"):
    * every domain is scaled to `share_d × total_tokens` tokens by
    * replicating each of its documents `floor(scale_d)` times plus one
    * extra copy for a content-keyed `frac(scale_d)` fraction of them,
    * where `scale_d = share_d × total_tokens / domain_tokens`. Domains
    * absent from `shares` get weight 0 (dropped).
    *
    * Determinism is the contract: the fractional sample is keyed on
    * md5(content) (see [[DatasetSplit.hashBucket]]), not `rand()`, so the
    * materialized mix is reproducible across runs, engines, and reshards,
    * and nudging a share only adds/removes the marginal copies.
    *
    * Scale shape: one shuffle for the per-domain token totals, a
    * broadcast join of that tiny aggregate back onto the docs, and a
    * row-local `explode(sequence)` for the copies — replication happens
    * AFTER any filtering joins, so the shuffled volume is the original
    * corpus, not the inflated one. Expected copy blow-up is bounded by
    * `max(scale_d)`, which the caller controls via the shares.
    *
    * @return one row per (document, copy): all `docs` columns plus the
    *         output-contract columns `n_tok`, `n_copies`, `copy` (0-based
    *         copy index). Those three names (and nothing else) are
    *         reserved: a same-named input column is replaced in the
    *         output; internal helpers are `graft_`-prefixed and dropped.
    */
  def resampleToMixture(
      docs: DataFrame,
      shares: Map[String, Double],
      domainCol: String = "source",
      contentCol: String = "text",
      salt: String = "mix"): DataFrame = {
    require(shares.values.forall(_ >= 0), "shares must be non-negative")
    val withTok = docs.withColumn("n_tok",
      size(split(col(contentCol), " ")).cast("long"))
    val domTok = withTok.groupBy(domainCol).agg(sum("n_tok").as("graft_dom_tokens"))
    val corpus = withTok.agg(sum("n_tok").as("graft_total_tokens"))
    // fold in sorted order so the compiled when-chain is deterministic
    val share = shares.toSeq.sortBy(_._1).foldRight(lit(0.0): Column) {
      case ((k, v), acc) => when(col(domainCol) === k, lit(v)).otherwise(acc)
    }
    val scale =
      share * col("graft_total_tokens").cast("double") / col("graft_dom_tokens")
    withTok
      .join(broadcast(domTok), Seq(domainCol))
      .crossJoin(broadcast(corpus))
      .withColumn("graft_scale", scale)
      .withColumn("graft_extra",
        (DatasetSplit.saltedBucket(col(contentCol), salt) <
          (col("graft_scale") - floor(col("graft_scale"))) * DatasetSplit.Granularity)
          .cast("int"))
      .withColumn("n_copies",
        (floor(col("graft_scale")).cast("int") + col("graft_extra")))
      .withColumn("copy", explode(
        when(col("n_copies") > 0, sequence(lit(0), col("n_copies") - 1))
          .otherwise(array().cast("array<int>"))))
      .drop("graft_dom_tokens", "graft_total_tokens", "graft_scale", "graft_extra")
  }

  /** Blocklist filtering — the rule-driven removal stage every corpus
    * pipeline runs before the expensive ones: drop documents whose domain
    * is on a blocklist (broadcast ANTI join — the list is tiny next to
    * the corpus and must never shuffle it) or whose text matches any
    * blocked pattern (codegen'd `rlike` disjunction, same fold shape as
    * the C4 rule compiler). Order matters for cost only: the anti join
    * prunes before the regexes scan.
    *
    * @param blockedDomains one-column DataFrame of domains to drop
    *                       (column name = `domainCol`).
    * @return surviving docs, columns untouched.
    */
  def blockFilter(
      docs: DataFrame,
      blockedDomains: DataFrame,
      blockedPatterns: Seq[String] = Nil,
      domainCol: String = "source",
      textCol: String = "text"): DataFrame = {
    // coalesce: rlike(null) is null, and filter(!null) would silently
    // drop every null-text document the moment ANY pattern is configured
    // — a null text matches no blocklist rule, so it must survive
    val patCond = coalesce(
      blockedPatterns.map(p => col(textCol).rlike(p))
        .reduceOption(_ || _).getOrElse(lit(false)),
      lit(false))
    docs
      .join(broadcast(blockedDomains), Seq(domainCol), "left_anti")
      .filter(!patCond)
  }

  /** Eval-set decontamination: train-side documents sharing at least one
    * word k-gram with any test-side document. At corpus scale this is a
    * shingle-inverted-index semi-join — the same bucketed shape as dedup,
    * never doc×doc.
    *
    * @return distinct contaminated train doc ids (doc_id column).
    */
  def contaminated(train: DataFrame, test: DataFrame, k: Int = 5): DataFrame = {
    val trainSh = TextDedup.shingles(train, k)
    val testSh = TextDedup.shingles(test, k).select("shingle").distinct()
    trainSh.join(testSh, Seq("shingle"), "left_semi")
      .select("doc_id").distinct()
  }

  /** Word n-grams WITH multiplicity: one output row per (doc, distinct
    * n-gram) carrying its in-doc count — the bag-of-features table DSIR
    * scores over. Unlike [[TextDedup.shingles]] (distinct SETS, for
    * Jaccard) this keeps term frequency; unlike [[TextAnalysis.bigramLm]]
    * (which pairs first, then drops empties) tokens are filtered to
    * non-empty BEFORE windowing, so a run of extra spaces never splits an
    * n-gram. Documents with fewer than `n` tokens emit nothing.
    *
    * Scale shape: extraction is map-only (one `transform` over the split
    * array); the single shuffle is the (doc, feat) combine, map-side
    * aggregated — a feature repeated through a document collapses to one
    * row before anything is exchanged.
    */
  private[graft] def ngramTf(
      docs: DataFrame,
      n: Int,
      idCol: String = "doc_id",
      textCol: String = "text"): DataFrame = {
    require(n >= 1, s"n-gram order must be >= 1, got $n")
    docs
      .select(col(idCol),
        filter(split(col(textCol), " "), w => length(w) > 0).as("graft_ws"))
      .filter(size(col("graft_ws")) >= n)
      .select(col(idCol), explode(expr(
        s"transform(sequence(0, size(graft_ws) - $n), " +
          s"i -> array_join(slice(graft_ws, i + 1, $n), ' '))")).as("feat"))
      .groupBy(col(idCol), col("feat"))
      .agg(count(lit(1)).as("tf"))
  }

  /** The seeded Gumbel perturbation of [[dsirSelectFromWeights]]: u in
    * (0,1) from 40 xxhash64 bits centered in their bucket,
    * g = −ln(−ln u).
    */
  private def gumbelKey(idCol: String, seed: String): Column = {
    val span = (1L << 40).toDouble
    val u = (pmod(xxhash64(concat(col(idCol).cast("string"), lit(seed))),
      lit(1L << 40)).cast("double") + lit(0.5)) / lit(span)
    -log(-log(u))
  }

  /** DSIR-style importance weights — data selection via importance
    * resampling ("Data Selection for Language Models via Importance
    * Resampling", Xie et al. 2023): fit bag-of-n-gram unigram models over
    * a small high-quality TARGET corpus and the big RAW corpus, and score
    * every raw document by how much more likely its features are under
    * the target model,
    * `log_w(x) = Σ_f tf_x(f) · (ln p_T(f) − ln p_R(f))`,
    * with Laplace smoothing `p(f) = (cf(f)+α)/(N+α·V)` over the SHARED
    * feature vocabulary V (the union of both corpora's features, so a
    * feature seen in only one model still has a well-defined ratio).
    *
    * `buckets = Some(b)` is the paper's (and the 100 TB) configuration:
    * features are hashed into `b` buckets, so the model table is bounded
    * by `b` rows regardless of corpus size and joins back onto the raw
    * tf table as a BROADCAST — the raw corpus is never shuffled on the
    * feature key. `None` keeps exact string features (unbounded model,
    * shuffle join) — the oracle-checkable variant; CurationSpec pins the
    * hashed ranking against it.
    *
    * @return one row per raw document that has at least one feature:
    *         (idCol, n_feats, log_w, avg_log_ratio), both scores rounded
    *         6 dp (the bm25 rule — absorbs libm/summation-order ulps so
    *         DuckDB reproduces them bit-identically). `avg_log_ratio` is
    *         the length-normalized variant for gating on a threshold
    *         without length bias; `log_w` (the paper's form) is what
    *         [[dsirSelectFromWeights]] resamples on.
    */
  def importanceWeights(
      raw: DataFrame,
      target: DataFrame,
      n: Int = 2,
      buckets: Option[Int] = Some(10000),
      alpha: Double = 1.0,
      idCol: String = "doc_id",
      textCol: String = "text"): DataFrame = {
    require(buckets.forall(_ > 0), "buckets must be positive")
    def tf(df: DataFrame): DataFrame = {
      val exact = ngramTf(df, n, idCol, textCol)
      buckets match {
        case Some(b) =>
          // re-key to the hashed bucket and re-combine: two narrow aggs
          // beat hashing inside the explode because the exact combine
          // already collapsed repeated features map-side
          exact.groupBy(col(idCol),
              pmod(xxhash64(col("feat")), lit(b.toLong)).as("feat"))
            .agg(sum("tf").as("tf"))
        case None => exact
      }
    }
    // scored twice (model build + per-doc rollup): cut the lineage once.
    // DISK-backed, not the default deserialized in-memory level — the tf
    // table is comparable in size to the token stream itself, and letting
    // it eat storage memory starves the downstream hash aggregates
    // (measured: AGGREGATE_OUT_OF_MEMORY at a 1 M-doc replication on the
    // 8 g test heap with the default level; DISK_ONLY runs it clean, see
    // PLANS.md round-13 DSIR scale curve)
    val rawTf = tf(raw).localCheckpoint(true,
      org.apache.spark.storage.StorageLevel.DISK_ONLY)
    val cfR = rawTf.groupBy("feat").agg(sum("tf").as("cfr"))
    val cfT = tf(target).groupBy("feat").agg(sum("tf").as("cft"))
    val modelLazy = cfR.join(cfT, Seq("feat"), "full_outer")
      .select(col("feat"),
        coalesce(col("cfr"), lit(0L)).as("cfr"),
        coalesce(col("cft"), lit(0L)).as("cft"))
    // the model feeds BOTH the scoring join and the (V, N_T, N_R) corpus
    // row; bucketed it is <= buckets rows, so materialize once instead of
    // recomputing the build subtree twice (exact mode stays lazy — its
    // vocabulary is unbounded and exact mode is the small-scale variant)
    val model =
      if (buckets.isDefined) modelLazy.localCheckpoint() else modelLazy
    // V, N_T, N_R over the UNION vocabulary — one broadcast row
    val corpus = model.agg(
      count(lit(1)).as("v"), sum("cfr").as("nr"), sum("cft").as("nt"))
    val logRatio =
      log((col("cft") + lit(alpha)) / (col("nt") + lit(alpha) * col("v"))) -
        log((col("cfr") + lit(alpha)) / (col("nr") + lit(alpha) * col("v")))
    // bucketed model is <= buckets rows — broadcast it so the raw tf
    // table is never exchanged on the feature key; the exact variant has
    // an unbounded vocabulary and must shuffle
    val modelSide = if (buckets.isDefined) broadcast(model) else model
    rawTf.join(modelSide, Seq("feat"))
      .crossJoin(broadcast(corpus))
      .groupBy(col(idCol))
      .agg(sum("tf").as("n_feats"),
        round(sum(col("tf") * logRatio), 6).as("log_w"),
        round(sum(col("tf") * logRatio) / sum(col("tf")), 6).as("avg_log_ratio"))
  }

  /** The resampling half of DSIR over an already-computed `(idCol, log_w)`
    * weight table (from [[importanceWeights]]): draw `k` raw documents
    * WITHOUT replacement with probability ∝ exp(log_w) via Gumbel-top-k
    * (Efraimidis–Spirakis weighted reservoir in its Gumbel form): perturb
    * each log-weight with an independent Gumbel noise term and keep the k
    * largest. The "noise" is a seeded hash of the doc id mapped through
    * the inverse Gumbel CDF, so the draw is fully deterministic —
    * reproducible across runs, engines, and reshards, the same contract
    * as [[resampleToMixture]]. Taking the weights as an input lets a
    * caller that needs the weights AND the sample (the catalog's upweight
    * verdict does) run the weight pipeline — two tf passes, model build,
    * scoring join, the dominant cost — once.
    *
    * Scale shape: `orderBy(..).limit(k)` compiles to
    * TakeOrderedAndProject — per-partition top-k, merged once; no global
    * sort. k is driver-bounded by construction (it is the sample you are
    * materializing).
    *
    * Documents with no weight (fewer than `n` tokens) cannot be drawn.
    *
    * @return the k sampled rows of `raw` plus (log_w, gumbel_key),
    *         gumbel_key rounded 6 dp.
    */
  def dsirSelectFromWeights(
      raw: DataFrame,
      weights: DataFrame,
      k: Int,
      seed: String = "dsir",
      idCol: String = "doc_id"): DataFrame =
    raw.join(weights.select(col(idCol), col("log_w")), Seq(idCol))
      .withColumn("gumbel_key", round(col("log_w") + gumbelKey(idCol, seed), 6))
      .orderBy(col("gumbel_key").desc, col(idCol).asc)
      .limit(k)
}
