package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.Tables
import graft.ops.{AsOfJoin, Curation, DatasetSplit, Graph, Multimodal, Packing, QualityModel, Scd2, Similarity, Skew, Sketches, TextAnalysis, TextDedup}

/** LLM-training-data-pipeline operators: dedup, similarity search, text
  * analysis, JSON extraction, multimodal plumbing — over the
  * `documents`/`embeddings`/`events` corpus tables.
  *
  * Hash-based sketches (MinHash, SimHash, LSH) have no DuckDB-portable hash
  * function, so those rows are rows-only here and get their correctness
  * from ScalaTest recall/equivalence checks against the exact variants
  * (DedupSpec / SimilaritySpec).
  */
object ExtQueries {

  private val tsFmtSpark = Fmt.tsSpark
  private val tsFmtDuck  = Fmt.tsDuck

  /** Shared by `ext_dedup_incremental` and `ext_bloom_incremental`: the
    * Bloom prefilter provably cannot change the result (negatives are
    * definitive; positives still pass the exact anti-join), so both run
    * against the identical exact-semantics oracle.
    */
  private val incrementalOracle =
    """WITH corpus AS (SELECT doc_id, text FROM documents WHERE doc_id < 400),
      |nw AS (SELECT doc_id, text FROM documents WHERE doc_id >= 400
      |       UNION ALL
      |       SELECT doc_id + 10000, text FROM documents WHERE doc_id < 10),
      |ex AS (SELECT * FROM nw
      |       WHERE md5(text) NOT IN (SELECT md5(text) FROM corpus)),
      |shn AS (
      |  SELECT DISTINCT doc_id, ws[i] || ' ' || ws[i+1] AS shingle
      |  FROM (SELECT doc_id, string_split(text, ' ') AS ws FROM ex
      |        WHERE len(string_split(text, ' ')) >= 2),
      |       LATERAL (SELECT unnest(range(1, len(ws))) AS i)),
      |sho AS (
      |  SELECT DISTINCT doc_id, ws[i] || ' ' || ws[i+1] AS shingle
      |  FROM (SELECT doc_id, string_split(text, ' ') AS ws FROM corpus
      |        WHERE len(string_split(text, ' ')) >= 2),
      |       LATERAL (SELECT unnest(range(1, len(ws))) AS i)),
      |szn AS (SELECT doc_id, count(*) AS sz FROM shn GROUP BY doc_id),
      |szo AS (SELECT doc_id, count(*) AS sz FROM sho GROUP BY doc_id),
      |inter AS (
      |  SELECT a.doc_id AS d1, b.doc_id AS d2, count(*) AS ni
      |  FROM shn a JOIN sho b ON a.shingle = b.shingle GROUP BY 1, 2),
      |losers AS (
      |  SELECT DISTINCT d1 FROM inter
      |  JOIN szn ON d1 = szn.doc_id JOIN szo ON d2 = szo.doc_id
      |  WHERE CAST(ni AS DOUBLE) / (szn.sz + szo.sz - ni) >= 0.8)
      |SELECT doc_id FROM ex WHERE doc_id NOT IN (SELECT d1 FROM losers)""".stripMargin

  /** One `DedupStream.ingestTick` in DuckDB SQL, CTE-name-prefixed with
    * `p` so two ticks can coexist in one WITH list: intra-batch exact
    * (min-id per md5, QUALIFY), exact vs corpus (md5 anti-join), near vs
    * corpus (word-bigram Jaccard >= 0.8, as [[incrementalOracle]]), then
    * intra-batch near-dup connected components (recursive label
    * propagation, min-id keeper — the `ext_dedup_clusters` oracle shape).
    * `<p>surv` is the tick's surviving (doc_id, text) set.
    *
    * Every non-recursive CTE is `MATERIALIZED`: DuckDB inlines CTEs by
    * default, and tick 2's corpus references tick 1's whole chain — with
    * each multiply-referenced CTE re-expanded, evaluation goes
    * combinatorial (>6 min at sf0.01; 0.15 s materialized).
    */
  private def tickSql(p: String, batch: String, corpus: String): String =
    s"""${p}ie AS MATERIALIZED (
       |  SELECT doc_id, text FROM $batch
       |  QUALIFY row_number() OVER (PARTITION BY md5(text) ORDER BY doc_id) = 1),
       |${p}ex AS MATERIALIZED (
       |  SELECT doc_id, text FROM ${p}ie
       |  WHERE md5(text) NOT IN (SELECT md5(text) FROM $corpus)),
       |${p}shn AS MATERIALIZED (
       |  SELECT DISTINCT doc_id, ws[i] || ' ' || ws[i+1] AS shingle
       |  FROM (SELECT doc_id, string_split(text, ' ') AS ws FROM ${p}ex
       |        WHERE len(string_split(text, ' ')) >= 2),
       |       LATERAL (SELECT unnest(range(1, len(ws))) AS i)),
       |${p}sho AS MATERIALIZED (
       |  SELECT DISTINCT doc_id, ws[i] || ' ' || ws[i+1] AS shingle
       |  FROM (SELECT doc_id, string_split(text, ' ') AS ws FROM $corpus
       |        WHERE len(string_split(text, ' ')) >= 2),
       |       LATERAL (SELECT unnest(range(1, len(ws))) AS i)),
       |${p}szn AS MATERIALIZED (SELECT doc_id, count(*) AS sz FROM ${p}shn GROUP BY doc_id),
       |${p}szo AS MATERIALIZED (SELECT doc_id, count(*) AS sz FROM ${p}sho GROUP BY doc_id),
       |${p}vsi AS MATERIALIZED (
       |  SELECT a.doc_id AS d1, b.doc_id AS d2, count(*) AS ni
       |  FROM ${p}shn a JOIN ${p}sho b ON a.shingle = b.shingle GROUP BY 1, 2),
       |${p}vsl AS MATERIALIZED (
       |  SELECT DISTINCT d1 FROM ${p}vsi
       |  JOIN ${p}szn ON d1 = ${p}szn.doc_id JOIN ${p}szo ON d2 = ${p}szo.doc_id
       |  WHERE CAST(ni AS DOUBLE) / (${p}szn.sz + ${p}szo.sz - ni) >= 0.8),
       |${p}vs AS MATERIALIZED (
       |  SELECT doc_id, text FROM ${p}ex
       |  WHERE doc_id NOT IN (SELECT d1 FROM ${p}vsl)),
       |${p}ii AS MATERIALIZED (
       |  SELECT a.doc_id AS d1, b.doc_id AS d2, count(*) AS ni
       |  FROM ${p}shn a JOIN ${p}shn b
       |    ON a.shingle = b.shingle AND a.doc_id < b.doc_id
       |  WHERE a.doc_id IN (SELECT doc_id FROM ${p}vs)
       |    AND b.doc_id IN (SELECT doc_id FROM ${p}vs)
       |  GROUP BY 1, 2),
       |${p}ip AS MATERIALIZED (
       |  SELECT d1, d2 FROM ${p}ii
       |  JOIN ${p}szn s1 ON d1 = s1.doc_id JOIN ${p}szn s2 ON d2 = s2.doc_id
       |  WHERE CAST(ni AS DOUBLE) / (s1.sz + s2.sz - ni) >= 0.8),
       |${p}edges AS MATERIALIZED (SELECT d1 AS src, d2 AS dst FROM ${p}ip
       |              UNION ALL SELECT d2, d1 FROM ${p}ip),
       |${p}reach AS (
       |  SELECT id, id AS label
       |  FROM (SELECT DISTINCT src AS id FROM ${p}edges)
       |  UNION
       |  SELECT e.src AS id, r.label
       |  FROM ${p}edges e JOIN ${p}reach r ON e.dst = r.id),
       |${p}losers AS MATERIALIZED (
       |  SELECT id FROM ${p}reach GROUP BY id HAVING min(label) <> id),
       |${p}surv AS MATERIALIZED (
       |  SELECT doc_id, text FROM ${p}vs
       |  WHERE doc_id NOT IN (SELECT id FROM ${p}losers))""".stripMargin

  /** `ext_ingest_loop`: tick b0 against the seed, then tick b1 against
    * seed UNION tick-b0 survivors — the SQL replay of the persisted-index
    * growth loop. Batch construction mirrors the Spark side exactly.
    */
  private val ingestLoopOracle = {
    val t1 = tickSql("a", "b0", "corpus")
    val t2 = tickSql("b", "b1", "corpus2")
    s"""WITH RECURSIVE corpus AS MATERIALIZED (
       |  SELECT doc_id, text FROM documents WHERE doc_id < 300),
       |b0 AS MATERIALIZED (
       |  SELECT doc_id, text FROM documents
       |  WHERE doc_id >= 300 AND doc_id < 400
       |  UNION ALL
       |  SELECT doc_id + 20000, text FROM documents WHERE doc_id < 6
       |  UNION ALL
       |  SELECT doc_id + 21000, text FROM documents
       |  WHERE doc_id >= 300 AND doc_id < 303),
       |$t1,
       |corpus2 AS MATERIALIZED (SELECT doc_id, text FROM corpus
       |            UNION ALL SELECT doc_id, text FROM asurv),
       |b1 AS MATERIALIZED (
       |  SELECT doc_id, text FROM documents
       |  WHERE doc_id >= 400 AND doc_id < 500
       |  UNION ALL
       |  SELECT doc_id + 30000, text FROM documents
       |  WHERE doc_id >= 300 AND doc_id < 310),
       |$t2
       |SELECT doc_id, 'b0' AS batch FROM asurv
       |UNION ALL
       |SELECT doc_id, 'b1' AS batch FROM bsurv""".stripMargin
  }

  /** One `EmbedIngest.ingestTick` in DuckDB SQL (CTE-prefixed, all
    * non-recursive CTEs MATERIALIZED — see [[tickSql]]): intra-batch
    * semantic dedup (connected components over exact cosine ≥ 0.8
    * pairs, min-id keeper), then drop keepers with an exact cosine ≥
    * 0.8 partner in the corpus. The Spark side's vs-corpus check is an
    * IVF PROBE; the catalog entry's batches are constructed so probe ≡
    * exact — every true dup is an exact COPY (cosine 1: an identical
    * vector ranks centroids identically, so its twin's list is always
    * probed) and every non-dup is a NEGATED corpus vector (measured max
    * cosine vs corpus ≤ 0.47 at all three testdata scales, 0.33 under
    * τ) — so the exact SQL is a legitimate oracle for the approximate
    * path on THIS construction.
    */
  private def embedTickSql(p: String, batch: String, corpus: String): String =
    s"""${p}ip AS MATERIALIZED (
       |  SELECT a.vec_id AS d1, b.vec_id AS d2 FROM $batch a, $batch b
       |  WHERE a.vec_id < b.vec_id
       |    AND list_cosine_similarity(a.embedding, b.embedding) >= 0.8),
       |${p}edges AS MATERIALIZED (
       |  SELECT d1 AS src, d2 AS dst FROM ${p}ip
       |  UNION ALL SELECT d2, d1 FROM ${p}ip),
       |${p}reach AS (
       |  SELECT id, id AS label
       |  FROM (SELECT DISTINCT src AS id FROM ${p}edges)
       |  UNION
       |  SELECT e.src AS id, r.label
       |  FROM ${p}edges e JOIN ${p}reach r ON e.dst = r.id),
       |${p}losers AS MATERIALIZED (
       |  SELECT id FROM ${p}reach GROUP BY id HAVING min(label) <> id),
       |${p}ie AS MATERIALIZED (
       |  SELECT vec_id, embedding FROM $batch
       |  WHERE vec_id NOT IN (SELECT id FROM ${p}losers)),
       |${p}vsl AS MATERIALIZED (
       |  SELECT DISTINCT e.vec_id FROM ${p}ie e, $corpus c
       |  WHERE list_cosine_similarity(e.embedding, c.embedding) >= 0.8),
       |${p}surv AS MATERIALIZED (
       |  SELECT vec_id, embedding FROM ${p}ie
       |  WHERE vec_id NOT IN (SELECT vec_id FROM ${p}vsl))""".stripMargin

  /** `ext_embed_ingest_loop`: tick b0 against the seed embedding corpus,
    * then tick b1 against seed UNION tick-b0 survivors. */
  private val embedLoopOracle = {
    val t1 = embedTickSql("a", "b0", "corpus")
    val t2 = embedTickSql("b", "b1", "corpus2")
    s"""WITH RECURSIVE corpus AS MATERIALIZED (
       |  SELECT vec_id, embedding FROM embeddings WHERE vec_id < 300),
       |b0 AS MATERIALIZED (
       |  SELECT vec_id + 100000 AS vec_id,
       |    list_transform(embedding, x -> -x) AS embedding
       |  FROM embeddings WHERE vec_id < 50
       |  UNION ALL
       |  SELECT vec_id + 110000, embedding FROM embeddings WHERE vec_id < 5
       |  UNION ALL
       |  SELECT vec_id + 120000, list_transform(embedding, x -> -x)
       |  FROM embeddings WHERE vec_id = 60
       |  UNION ALL
       |  SELECT vec_id + 121000, list_transform(embedding, x -> -x)
       |  FROM embeddings WHERE vec_id = 60),
       |$t1,
       |corpus2 AS MATERIALIZED (
       |  SELECT vec_id, embedding FROM corpus
       |  UNION ALL SELECT vec_id, embedding FROM asurv),
       |b1 AS MATERIALIZED (
       |  SELECT vec_id + 130000 AS vec_id,
       |    list_transform(embedding, x -> -x) AS embedding
       |  FROM embeddings WHERE vec_id >= 50 AND vec_id < 100
       |  UNION ALL
       |  SELECT vec_id + 140000, list_transform(embedding, x -> -x)
       |  FROM embeddings WHERE vec_id < 10
       |  UNION ALL
       |  SELECT vec_id + 150000, embedding FROM embeddings WHERE vec_id = 7),
       |$t2
       |SELECT vec_id, 'b0' AS batch FROM asurv
       |UNION ALL
       |SELECT vec_id, 'b1' AS batch FROM bsurv""".stripMargin
  }

  /** Shared by the `ext_ann_*` recall-verdict entries ([[Verdicts.annRecall]]):
    * one row per query vector asserting k rows returned, rank dominance by
    * the exact top-k, cosine identity vs raw vectors, and the corpus-wide
    * recall floor. The floors are set per entry from measured recall at
    * all three testdata scales.
    */
  private val annVerdictOracle =
    """SELECT vec_id AS q_id, CAST(10 AS BIGINT) AS n_ret,
      |  1 AS dom_ok, 1 AS cos_ok, 1 AS recall_ok
      |FROM embeddings WHERE vec_id < 5""".stripMargin

  /** Unrolled-CTE PageRank oracle: recursive CTEs cannot contain an
    * aggregate in the recursive term, so the fixed power iteration is
    * generated as `iters` chained CTE steps — the same arithmetic as
    * `Graph.pageRank` (0.15/n teleport, 0.85 damping, dangling mass
    * redistributed uniformly), final 6-dp rounding on both sides.
    */
  // The EXACT constants Graph.pageRankImpl folds into its plan: the
  // restart coefficient is the Scala double (1 - 0.85) =
  // 0.15000000000000002 — one ulp off the decimal literal 0.15 — and
  // the oracles must emit that same double (Double.toString round-trips
  // it) with the same association, or a rank within ~1e-15 of a 6-dp
  // rounding midpoint rounds differently on the two engines.
  private val PrDamping = 0.85
  private val PrRestart = (1 - PrDamping).toString

  private def textrankOracle(iters: Int): String = {
    // AS MATERIALIZED is load-bearing: each step references the previous
    // rank table twice, and DuckDB's default CTE inlining would expand
    // the chain into a 2^iters-node plan (measured: times out at 10
    // iterations; 0.5 s materialized)
    val head =
      """WITH e AS MATERIALIZED (
        |  SELECT w1 AS src, w2 AS dst, CAST(count(*) AS DOUBLE) AS w FROM (
        |    SELECT ws[i + 1] AS w1, ws[i + 2] AS w2
        |    FROM (SELECT string_split(text, ' ') AS ws FROM documents
        |          WHERE len(string_split(text, ' ')) >= 2),
        |         LATERAL (SELECT unnest(range(0, len(ws) - 1)) AS i))
        |  WHERE length(w1) > 0 AND length(w2) > 0 GROUP BY 1, 2),
        |base AS MATERIALIZED (SELECT src AS node FROM e UNION SELECT dst FROM e),
        |nn AS MATERIALIZED (SELECT CAST(count(*) AS DOUBLE) AS n FROM base),
        |ow AS MATERIALIZED (SELECT src, sum(w) AS ow FROM e GROUP BY src),
        |en AS MATERIALIZED (SELECT e.src, e.dst, e.w / ow.ow AS frac FROM e JOIN ow USING (src)),
        |pr0 AS MATERIALIZED (SELECT node, 1.0 / nn.n AS r FROM base, nn)""".stripMargin
    val steps = (1 to iters).map { i =>
      s""",
         |d$i AS MATERIALIZED (SELECT COALESCE(sum(r), 0) AS dm FROM pr${i - 1}
         |        WHERE node NOT IN (SELECT src FROM ow)),
         |i$i AS MATERIALIZED (SELECT en.dst AS node, sum(p.r * en.frac) AS inc
         |        FROM en JOIN pr${i - 1} p ON en.src = p.node GROUP BY en.dst),
         |pr$i AS MATERIALIZED (SELECT b.node,
         |           (1.0 / nn.n) * ($PrRestart + $PrDamping * d$i.dm)
         |             + $PrDamping * COALESCE(i$i.inc, 0) AS r
         |         FROM base b LEFT JOIN i$i ON b.node = i$i.node, nn, d$i)""".stripMargin
    }.mkString
    head + steps +
      s"""
         |SELECT node AS term, round(r, 6) AS rank FROM pr$iters
         |ORDER BY rank DESC, term LIMIT 20""".stripMargin
  }

  /** Unrolled personalized-PageRank oracle: same iteration as
    * [[textrankOracle]] but the teleport vector t(v) is 1/|S| over the
    * two lexicographically-smallest nodes (and 0 elsewhere), matching
    * the Spark query's seed choice; both the restart and the dangling
    * mass land on t, the exact arithmetic of Graph.pageRankImpl.
    */
  private def pprOracle(iters: Int): String = {
    val head =
      """WITH e AS MATERIALIZED (
        |  SELECT w1 AS src, w2 AS dst, CAST(count(*) AS DOUBLE) AS w FROM (
        |    SELECT ws[i + 1] AS w1, ws[i + 2] AS w2
        |    FROM (SELECT string_split(text, ' ') AS ws FROM documents
        |          WHERE len(string_split(text, ' ')) >= 2),
        |         LATERAL (SELECT unnest(range(0, len(ws) - 1)) AS i))
        |  WHERE length(w1) > 0 AND length(w2) > 0 GROUP BY 1, 2),
        |base AS MATERIALIZED (SELECT src AS node FROM e UNION SELECT dst FROM e),
        |seeds AS MATERIALIZED (SELECT node FROM base ORDER BY node LIMIT 2),
        |tv AS MATERIALIZED (
        |  SELECT b.node,
        |    CASE WHEN b.node IN (SELECT node FROM seeds) THEN 0.5 ELSE 0.0 END AS t
        |  FROM base b),
        |ow AS MATERIALIZED (SELECT src, sum(w) AS ow FROM e GROUP BY src),
        |en AS MATERIALIZED (SELECT e.src, e.dst, e.w / ow.ow AS frac FROM e JOIN ow USING (src)),
        |pr0 AS MATERIALIZED (SELECT node, t AS r FROM tv)""".stripMargin
    val steps = (1 to iters).map { i =>
      s""",
         |d$i AS MATERIALIZED (SELECT COALESCE(sum(r), 0) AS dm FROM pr${i - 1}
         |        WHERE node NOT IN (SELECT src FROM ow)),
         |i$i AS MATERIALIZED (SELECT en.dst AS node, sum(p.r * en.frac) AS inc
         |        FROM en JOIN pr${i - 1} p ON en.src = p.node GROUP BY en.dst),
         |pr$i AS MATERIALIZED (SELECT tv.node,
         |           tv.t * ($PrRestart + $PrDamping * d$i.dm)
         |             + $PrDamping * COALESCE(i$i.inc, 0) AS r
         |         FROM tv LEFT JOIN i$i ON tv.node = i$i.node, d$i)""".stripMargin
    }.mkString
    head + steps +
      s"""
         |SELECT node AS term, round(r, 6) AS rank FROM pr$iters
         |ORDER BY rank DESC, term LIMIT 20""".stripMargin
  }

  /** Word-bigram co-occurrence edges over the corpus — the graph behind
    * ext_textrank and ext_graph_triangles.
    */
  /** Unrolled BPE-merge-induction oracle: one generated CTE block per
    * merge round, replaying `TextAnalysis.bpeMerges` exactly —
    *   pairs_i: frequency-weighted adjacent-pair counts over the round's
    *     word table (1-based `syms[k], syms[k+1]`, k in range(1, len));
    *   best_i: the (cnt DESC, l, r) tie-broken argmax, EMPTY once the
    *     best count drops below `minPairCount` — and since the word
    *     table then stops changing, every later best_i stays empty, so
    *     the early-stop is replayed for free;
    *   pos/st_i: the greedy leftmost non-overlapping rewrite of
    *     mergePair's fold, positionally — a match starts a merge iff the
    *     previous position didn't (matches can only be CONSECUTIVE when
    *     l = r, so islands of consecutive matches + even-offset parity
    *     within each island is exactly that recurrence);
    *   w_i: drop positions consumed as a merge's right symbol
    *     (lag(starts)), concat `l || r` at merge starts, reassemble
    *     ordered by position.
    * `AS MATERIALIZED` on every block for the same reason as
    * [[textrankOracle]]: each round references the previous one several
    * times and default CTE inlining re-expands the chain
    * combinatorially. LEFT JOIN ... ON TRUE (not a cross join) binds the
    * possibly-empty best_i so an exhausted merge table yields NULL l/r
    * → zero matches → an unchanged word table.
    */
  private def bpeMergesOracleSql(numMerges: Int, minPairCount: Long): String = {
    val head =
      """WITH w0 AS MATERIALIZED (
        |  SELECT w, CAST(count(*) AS BIGINT) AS freq,
        |    list_filter(string_split(w, ''), s -> s <> '') AS syms
        |  FROM (SELECT unnest(string_split(text, ' ')) AS w FROM documents)
        |  WHERE length(w) > 0
        |  GROUP BY w)""".stripMargin
    val rounds = (1 to numMerges).map { i =>
      val p = i - 1
      s""",
         |pairs$i AS MATERIALIZED (
         |  SELECT syms[k] AS l, syms[k+1] AS r, CAST(sum(freq) AS BIGINT) AS cnt
         |  FROM w$p, LATERAL (SELECT unnest(range(1, len(syms))) AS k)
         |  GROUP BY 1, 2),
         |best$i AS MATERIALIZED (
         |  SELECT $i AS rank, l, r, cnt FROM pairs$i
         |  WHERE cnt >= $minPairCount ORDER BY cnt DESC, l, r LIMIT 1),
         |pos$i AS MATERIALIZED (
         |  SELECT w, freq, k, syms[k] AS s,
         |    coalesce(syms[k] = b.l AND syms[k+1] = b.r, FALSE) AS m
         |  FROM w$p LEFT JOIN best$i b ON TRUE,
         |       LATERAL (SELECT unnest(range(1, len(syms) + 1)) AS k)),
         |st$i AS MATERIALIZED (
         |  SELECT w, freq, k, s, m,
         |    m AND (k - min(k) OVER (PARTITION BY w, m, isl)) % 2 = 0 AS starts
         |  FROM (SELECT *, k - row_number() OVER (PARTITION BY w, m ORDER BY k) AS isl
         |        FROM pos$i)),
         |w$i AS MATERIALIZED (
         |  SELECT w, freq,
         |    list(CASE WHEN starts THEN s || next_s ELSE s END ORDER BY k) AS syms
         |  FROM (SELECT w, freq, k, starts, s,
         |          lead(s) OVER (PARTITION BY w ORDER BY k) AS next_s,
         |          lag(starts) OVER (PARTITION BY w ORDER BY k) AS prev_starts
         |        FROM st$i)
         |  WHERE NOT coalesce(prev_starts, FALSE)
         |  GROUP BY w, freq)""".stripMargin
    }.mkString
    val union = (1 to numMerges).map { i =>
      s"""SELECT rank, l AS "left", r AS "right", cnt AS pair_count,
         |  l || r AS token FROM best$i""".stripMargin
    }.mkString("\nUNION ALL\n")
    s"$head$rounds\n$union\nORDER BY rank"
  }

  /** Build-once cache for the IVFPQ probe query: the index for a
    * (corpus, params) pair is built at most once per machine and reused
    * across JVMs — the quantize-once / probe-many serving contract. The
    * cache key fingerprints the corpus parquet's file metadata (names,
    * sizes, mtimes) plus the build params, so a regenerated corpus at the
    * same path rebuilds instead of serving stale lists. Build-into-temp
    * then rename keeps a crashed build invisible; on a lost rename race
    * the winner's copy is served (bit-identical — the build is
    * deterministic by the repo-wide contract).
    */
  private def prebuiltIvfPqIndex(s: SparkSession, dir: String): String =
    cachedBuild(dir, "embeddings.parquet", "stride=50,m=8,ks=16,maxIter=3",
      "graft_ivfpq_cache") { tmp =>
      Similarity.writeIvfPqIndex(Tables.embeddings(s, dir), tmp,
        centroidStride = 50L, m = 8, ks = 16, maxIter = 3)
    }.getPath

  /** Build-once machine-wide cache shared by [[prebuiltIvfPqIndex]] and
    * [[seedIndexCopy]]: the artifact for a (corpus, params) pair is
    * built at most once per machine and reused across JVMs. The cache
    * key fingerprints the corpus parquet's file metadata (names, sizes,
    * mtimes) plus the build params, so a regenerated corpus at the same
    * path rebuilds instead of serving stale data. Build-into-temp then
    * rename keeps a crashed build invisible; on a lost rename race the
    * winner's copy is served (bit-identical — builds are deterministic
    * by the repo-wide contract).
    */
  private def cachedBuild(
      dir: String, table: String, params: String, cacheName: String)(
      build: String => Unit): java.io.File = {
    val src = new java.io.File(dir, table)
    val meta = Option(src.listFiles()).map(_.toSeq).getOrElse(Seq(src))
      .filter(f => f.getName != "_SUCCESS" && !f.getName.endsWith(".crc"))
      .sortBy(_.getName)
      .map(f => s"${f.getName}:${f.length}:${f.lastModified}")
      .mkString("|") + "|" + params
    val key = Integer.toHexString(scala.util.hashing.MurmurHash3.stringHash(meta))
    val cache = new java.io.File(new java.io.File(
      System.getProperty("java.io.tmpdir"), cacheName), key)
    if (!cache.exists()) {
      val tmp = new java.io.File(
        cache.getPath + ".build-" + java.util.UUID.randomUUID().toString.take(8))
      build(tmp.getPath)
      cache.getParentFile.mkdirs()
      if (!tmp.renameTo(cache)) {
        rmTree(tmp)
        if (!cache.exists())
          throw new java.io.IOException(s"$cacheName build rename failed: $tmp")
      }
    }
    cache
  }

  /** [[cachedBuild]] + per-invocation COPY for the ingest-loop seed
    * indexes. Unlike the IVFPQ probe index, an ingest loop MUTATES its
    * index (tick slices append, compaction swaps), so the cache is never
    * served directly: every invocation copies it to a fresh scratch
    * dir — a recursive local copy, milliseconds at fixture size — and
    * the ticks mutate the copy. This keeps the bench entry measuring the
    * LOOP (ticks + maintenance), not seed-fixture construction, across
    * trials and JVMs.
    */
  private def seedIndexCopy(
      dir: String, table: String, params: String,
      cacheName: String)(build: String => Unit): String = {
    val cache = cachedBuild(dir, table, params, cacheName)(build)
    val dst = new java.io.File(graft.core.TmpDirs.scoped(
      s"${cacheName}_copy_${java.util.UUID.randomUUID().toString.take(8)}"))
    copyTree(cache, dst)
    dst.getPath
  }

  private def rmTree(f: java.io.File): Unit = {
    Option(f.listFiles()).foreach(_.foreach(rmTree)); f.delete(); ()
  }

  private def copyTree(src: java.io.File, dst: java.io.File): Unit = {
    if (src.isDirectory) {
      dst.mkdirs()
      Option(src.listFiles()).foreach(_.foreach(c =>
        copyTree(c, new java.io.File(dst, c.getName))))
    } else {
      java.nio.file.Files.copy(src.toPath, dst.toPath,
        java.nio.file.StandardCopyOption.REPLACE_EXISTING)
      ()
    }
  }

  /** The two-tick text-loop fixture (corpus, b0, b1), shared by every
    * `ext_ingest_*` query that pins against [[ingestLoopOracle]]: the id
    * windows and relabel offsets here are HARDCODED in that oracle's
    * SQL, so the fixture must be structurally identical across the
    * family — build it once, here. Relabeled copies plant exact dups vs
    * the seed (+20000), intra-batch exact pairs (+21000), and dups of
    * tick-0 survivors (+30000) — the last is the growth proof: those
    * rows only disappear if the b0 append really grew the index.
    */
  private def ingestLoopBatches(
      docs: DataFrame): (DataFrame, DataFrame, DataFrame) = {
    val corpus = docs.filter(col("doc_id") < 300)
    val b0 = docs.filter(col("doc_id") >= 300 && col("doc_id") < 400)
      .unionByName(docs.filter(col("doc_id") < 6)
        .select((col("doc_id") + 20000).as("doc_id"), col("text")))
      .unionByName(docs.filter(col("doc_id") >= 300 && col("doc_id") < 303)
        .select((col("doc_id") + 21000).as("doc_id"), col("text")))
    val b1 = docs.filter(col("doc_id") >= 400 && col("doc_id") < 500)
      .unionByName(docs.filter(col("doc_id") >= 300 && col("doc_id") < 310)
        .select((col("doc_id") + 30000).as("doc_id"), col("text")))
    (corpus, b0, b1)
  }

  /** The text loop's seed index, built once per machine and copied per
    * invocation ([[seedIndexCopy]]) — one definition so the cache key
    * and the corpus window can never drift apart across the family.
    */
  private def ingestSeedIdx(
      dir: String, corpus: DataFrame): String =
    seedIndexCopy(dir, "documents.parquet",
      "ingest_seed,k=2,id<300", "graft_ingest_seed_cache")(p =>
      TextDedup.writeIncrementalIndex(corpus, p, k = 2))

  /** The embedding twin of [[ingestLoopBatches]], shared by every
    * `ext_embed_ingest_*` query pinning against [[embedLoopOracle]]
    * (whose SQL hardcodes these id windows and offsets). Negated copies
    * are fresh content (cosine ≤ ~0.48 vs everything real); verbatim
    * copies plant exact dups vs the seed (+110000/+150000) and the
    * intra-batch pair (+120000/+121000); +140000 dups b0 survivors —
    * the growth proof. This construction keeps the probe provably exact
    * under ANY centroids (see [[embedTickSql]]), which is what lets the
    * compaction/rebuild variants share the exact-cosine oracle.
    */
  private def embedLoopBatches(
      emb: DataFrame): (DataFrame, DataFrame, DataFrame) = {
    val corpus = emb.filter(col("vec_id") < 300)
    def neg(f: DataFrame, off: Long) = f.select(
      (col("vec_id") + off).as("vec_id"),
      transform(col("embedding"), x => -x).as("embedding"))
    def cp(f: DataFrame, off: Long) = f.select(
      (col("vec_id") + off).as("vec_id"), col("embedding"))
    val b0 = neg(emb.filter(col("vec_id") < 50), 100000L)
      .unionByName(cp(emb.filter(col("vec_id") < 5), 110000L))
      .unionByName(neg(emb.filter(col("vec_id") === 60), 120000L))
      .unionByName(neg(emb.filter(col("vec_id") === 60), 121000L))
    val b1 = neg(
        emb.filter(col("vec_id") >= 50 && col("vec_id") < 100), 130000L)
      .unionByName(neg(emb.filter(col("vec_id") < 10), 140000L))
      .unionByName(cp(emb.filter(col("vec_id") === 7), 150000L))
    (corpus, b0, b1)
  }

  /** [[ingestSeedIdx]]'s embedding twin. */
  private def embedSeedIdx(
      dir: String, corpus: DataFrame): String =
    seedIndexCopy(dir, "embeddings.parquet",
      "embed_seed,stride=50,id<300", "graft_embed_seed_cache")(p =>
      Similarity.writeIvfIndex(corpus, p, centroidStride = 50L))

  /** The deterministic paragraph fixture for `ext_dedup_paragraphs` and
    * its scale measurement (PLANS.md "Round-15: paragraph-level dedup"):
    * the corpus has no paragraph breaks, so both engines derive them as
    * `width`-token chunks joined by '\n'. Newlines are normalized to
    * spaces and empty tokens dropped BEFORE chunking, so a future fixture
    * containing newlines, empty
    * texts, or space runs cannot make a chunk that re-splits differently
    * than the oracle counts it — the oracle SQL mirrors this with
    * `replace(text, chr(10), ' ')` + `list_filter`. One definition so
    * the probe can never drift from the query it pins.
    */
  private[graft] def chunkedDocs(docs: DataFrame, width: Int = 25): DataFrame =
    docs
      .withColumn("graft_ws",
        filter(split(translate(col("text"), "\n", " "), " "),
          t => length(t) > 0))
      .withColumn("text", array_join(
        transform(
          sequence(lit(0),
            greatest(ceil(size(col("graft_ws")) / lit(width.toDouble))
              .cast("int"), lit(1)) - 1),
          i => array_join(slice(col("graft_ws"), i * width + 1, lit(width)), " ")),
        "\n"))
      .drop("graft_ws")

  private def wordBigramEdges(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir)
      .select(split(col("text"), " ").as("ws"))
      .filter(size(col("ws")) >= 2)
      .select(explode(expr(
        "transform(sequence(0, size(ws) - 2), i -> struct(ws[i] AS src, ws[i + 1] AS dst))"))
        .as("b"))
      .select(col("b.src").as("src"), col("b.dst").as("dst"))
      .filter(length(col("src")) > 0 && length(col("dst")) > 0)

  val all: Seq[Q] = Seq(

    // Exact dedup: hash-groupBy on content.
    Q("ext_dedup_exact",
      (s, dir) => TextDedup.exactGroups(Tables.documents(s, dir)),
      Some("SELECT md5(text) AS text_hash, min(doc_id) AS keeper_id, count(*) AS n_docs " +
        "FROM documents GROUP BY md5(text)")),

    // Span-level (substring) duplication: fraction of each document
    // covered by 20-token runs that also occur in >=2 distinct docs.
    // Oracle rebuilds the same positional windows with string_split +
    // LATERAL range and the same md5-of-joined-window key.
    Q("ext_dedup_spans",
      (s, dir) => TextDedup.duplicatedSpans(Tables.documents(s, dir), w = 20, minDocs = 2),
      Some("""WITH t AS (
        |  SELECT doc_id, string_split(text, ' ') AS ws,
        |    len(string_split(text, ' ')) AS n
        |  FROM documents),
        |w AS (
        |  SELECT doc_id,
        |    md5(array_to_string(ws[CAST(i + 1 AS INT) : CAST(i + 20 AS INT)], ' ')) AS h
        |  FROM t, LATERAL (SELECT unnest(range(0, greatest(n - 19, 0))) AS i)),
        |s AS (
        |  SELECT h FROM w GROUP BY h HAVING count(DISTINCT doc_id) >= 2),
        |d AS (
        |  SELECT w.doc_id, count(*) AS nw,
        |    sum(CASE WHEN s.h IS NOT NULL THEN 1 ELSE 0 END) AS nd
        |  FROM w LEFT JOIN s ON w.h = s.h
        |  GROUP BY w.doc_id)
        |SELECT t.doc_id,
        |  CAST(coalesce(d.nw, 0) AS BIGINT) AS n_windows,
        |  CAST(coalesce(d.nd, 0) AS BIGINT) AS n_dup_windows,
        |  round(coalesce(CAST(d.nd AS DOUBLE) / d.nw, 0), 6) AS dup_span_frac
        |FROM t LEFT JOIN d ON t.doc_id = d.doc_id""".stripMargin)),

    // Paragraph-level dedup with document reassembly (the corpus
    // REWRITE ext_dedup_spans only reports): the fixture corpus has no
    // paragraph breaks, so both engines first derive paragraphs as
    // 25-token chunks joined by '\n' — the same deterministic rewrite —
    // then keep only each paragraph's global first (doc_id, pos)
    // occurrence and re-join the survivors in order. Fully-deduplicated
    // documents drop (1 of 500 at sf0.01).
    Q("ext_dedup_paragraphs",
      (s, dir) => TextDedup.dedupParagraphs(
        chunkedDocs(Tables.documents(s, dir).select("doc_id", "text"))),
      Some("""WITH ws AS (
        |  SELECT doc_id,
        |    list_filter(string_split(replace(text, chr(10), ' '), ' '),
        |                t -> t <> '') AS w
        |  FROM documents),
        |paras AS (
        |  SELECT doc_id, i AS pos,
        |    array_to_string(w[CAST(i*25+1 AS INT):CAST((i+1)*25 AS INT)], ' ') AS para
        |  FROM ws, LATERAL (SELECT unnest(range(0, CAST(ceil(len(w)/25.0) AS BIGINT))) AS i)),
        |firsts AS (
        |  SELECT para, min(struct_pack(doc_id := doc_id, pos := pos)) AS f
        |  FROM paras GROUP BY para),
        |kept AS (
        |  SELECT p.doc_id, p.pos, p.para
        |  FROM paras p JOIN firsts f ON p.para = f.para
        |  WHERE p.doc_id = f.f.doc_id AND p.pos = f.f.pos),
        |totals AS (SELECT doc_id, count(*) AS n_total FROM paras GROUP BY doc_id)
        |SELECT k.doc_id,
        |  array_to_string(list(k.para ORDER BY k.pos), chr(10)) AS text,
        |  CAST(count(*) AS INT) AS n_kept,
        |  CAST(any_value(t.n_total) - count(*) AS INT) AS n_dropped
        |FROM kept k JOIN totals t ON k.doc_id = t.doc_id
        |GROUP BY k.doc_id""".stripMargin)),

    // Exact n-gram Jaccard near-dup pairs via shingle inverted index.
    Q("ext_dedup_jaccard",
      // df cap disabled here so the result is EXACTLY the tau>=0.8 pairs
      // (the cap drops shingles from candidate generation — an
      // approximation knob for boilerplate-heavy corpora that would break
      // oracle identity if it ever bound)
      (s, dir) => TextDedup.jaccardPairs(Tables.documents(s, dir), k = 2, tau = 0.8,
        maxShingleDf = Long.MaxValue),
      // Pure exact-Jaccard oracle (no df cap): the Spark side's candidate
      // pruning (df cap, prefix + length filters) is output-identical, so
      // both sides produce exactly the pairs with true Jaccard >= 0.8.
      Some("""WITH sh AS (
        |  SELECT DISTINCT doc_id, ws[i] || ' ' || ws[i+1] AS shingle
        |  FROM (SELECT doc_id, string_split(text, ' ') AS ws FROM documents
        |        WHERE len(string_split(text, ' ')) >= 2),
        |       LATERAL (SELECT unnest(range(1, len(ws))) AS i)
        |), sizes AS (SELECT doc_id, count(*) AS sz FROM sh GROUP BY doc_id),
        |inter AS (
        |  SELECT a.doc_id AS d1, b.doc_id AS d2, count(*) AS n_inter
        |  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2)
        |SELECT d1, d2,
        |  CAST(n_inter AS DOUBLE) / (s1.sz + s2.sz - n_inter) AS jaccard
        |FROM inter
        |JOIN sizes s1 ON d1 = s1.doc_id
        |JOIN sizes s2 ON d2 = s2.doc_id
        |WHERE CAST(n_inter AS DOUBLE) / (s1.sz + s2.sz - n_inter) >= 0.8""".stripMargin)),

    // Dedup clusters: connected components over the exact near-dup pairs —
    // min-label propagation on the Spark side, a recursive reachability
    // CTE in DuckDB; both compute (doc, min id in its component).
    Q("ext_dedup_clusters",
      (s, dir) => TextDedup.clusters(
        TextDedup.jaccardPairs(Tables.documents(s, dir), k = 2, tau = 0.8,
          maxShingleDf = Long.MaxValue))
        .withColumnRenamed("id", "doc_id"),
      Some("""WITH RECURSIVE sh AS (
        |  SELECT DISTINCT doc_id, ws[i] || ' ' || ws[i+1] AS shingle
        |  FROM (SELECT doc_id, string_split(text, ' ') AS ws FROM documents
        |        WHERE len(string_split(text, ' ')) >= 2),
        |       LATERAL (SELECT unnest(range(1, len(ws))) AS i)
        |), sizes AS (SELECT doc_id, count(*) AS sz FROM sh GROUP BY doc_id),
        |inter AS (
        |  SELECT a.doc_id AS d1, b.doc_id AS d2, count(*) AS n_inter
        |  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2),
        |pairs AS (
        |  SELECT d1, d2 FROM inter
        |  JOIN sizes s1 ON d1 = s1.doc_id JOIN sizes s2 ON d2 = s2.doc_id
        |  WHERE CAST(n_inter AS DOUBLE) / (s1.sz + s2.sz - n_inter) >= 0.8),
        |edges AS (SELECT d1 AS src, d2 AS dst FROM pairs
        |          UNION ALL SELECT d2, d1 FROM pairs),
        |verts AS (SELECT DISTINCT src AS id FROM edges),
        |reach AS (
        |  SELECT id, id AS label FROM verts
        |  UNION
        |  SELECT e.src AS id, r.label FROM edges e JOIN reach r ON e.dst = r.id)
        |SELECT id AS doc_id, min(label) AS cluster_id FROM reach GROUP BY id""".stripMargin)),

    // Connected components on a high-diameter input the verified-pair
    // graph can't produce: chains linking consecutive doc_ids within each
    // century block (diameter 99, one component per 100 ids). Checks
    // TextDedup.clusters on long paths against the same recursive-CTE
    // oracle shape as ext_dedup_clusters; ground truth is the closed form
    // cluster_id = doc_id - doc_id % 100.
    Q("ext_dedup_clusters_chain",
      (s, dir) => TextDedup.clusters(
        Tables.documents(s, dir)
          .filter(pmod(col("doc_id"), lit(100)) =!= 99)
          .select(col("doc_id").as("d1"), (col("doc_id") + 1).as("d2")))
        .withColumnRenamed("id", "doc_id"),
      Some("""WITH RECURSIVE pairs AS (
        |  SELECT doc_id AS d1, doc_id + 1 AS d2 FROM documents
        |  WHERE doc_id % 100 <> 99
        |), edges AS (SELECT d1 AS src, d2 AS dst FROM pairs
        |             UNION ALL SELECT d2, d1 FROM pairs),
        |verts AS (SELECT DISTINCT src AS id FROM edges),
        |reach AS (
        |  SELECT id, id AS label FROM verts
        |  UNION
        |  SELECT e.src AS id, r.label FROM edges e JOIN reach r ON e.dst = r.id)
        |SELECT id AS doc_id, min(label) AS cluster_id FROM reach GROUP BY id""".stripMargin)),

    // The composed production ordering (exact-first): exact dedup ->
    // near-dup among the exact-unique survivors -> cluster keepers. This
    // is TextDedup.dedupPipeline, the documented scale default for
    // dup-heavy corpora (the df-cap recall collapse it prevents is
    // measured in PLANS.md and pinned in DedupSpec). Its near-dup stage
    // is the uncapped jaccardPairs, so the pairs are exactly the oracle's
    // tau-pairs among the survivors.
    Q("ext_dedup_pipeline",
      (s, dir) => TextDedup.dedupPipeline(Tables.documents(s, dir), k = 2, tau = 0.8)
        .keepers.select("doc_id"),
      Some("""WITH RECURSIVE grp AS (
        |  SELECT md5(text) AS h, min(doc_id) AS keeper
        |  FROM documents GROUP BY md5(text)),
        |surv AS (
        |  SELECT d.doc_id, d.text FROM documents d
        |  JOIN grp g ON d.doc_id = g.keeper),
        |sh AS (
        |  SELECT DISTINCT doc_id, ws[i] || ' ' || ws[i+1] AS shingle
        |  FROM (SELECT doc_id, string_split(text, ' ') AS ws FROM surv
        |        WHERE len(string_split(text, ' ')) >= 2),
        |       LATERAL (SELECT unnest(range(1, len(ws))) AS i)
        |), sizes AS (SELECT doc_id, count(*) AS sz FROM sh GROUP BY doc_id),
        |inter AS (
        |  SELECT a.doc_id AS d1, b.doc_id AS d2, count(*) AS n_inter
        |  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2),
        |pairs AS (
        |  SELECT d1, d2 FROM inter
        |  JOIN sizes s1 ON d1 = s1.doc_id JOIN sizes s2 ON d2 = s2.doc_id
        |  WHERE CAST(n_inter AS DOUBLE) / (s1.sz + s2.sz - n_inter) >= 0.8),
        |edges AS (SELECT d1 AS src, d2 AS dst FROM pairs
        |          UNION ALL SELECT d2, d1 FROM pairs),
        |verts AS (SELECT DISTINCT src AS id FROM edges),
        |reach AS (
        |  SELECT id, id AS label FROM verts
        |  UNION
        |  SELECT e.src AS id, r.label FROM edges e JOIN reach r ON e.dst = r.id),
        |losers AS (SELECT id FROM reach GROUP BY id HAVING min(label) <> id)
        |SELECT s.doc_id FROM surv s
        |WHERE s.doc_id NOT IN (SELECT id FROM losers)""".stripMargin)),

    // Incremental ingest dedup: the corpus-growth operation — a new batch
    // (docs >= 400, plus ten corpus docs re-labeled as fresh ids so the
    // exact layer is non-vacuous) deduped against the existing corpus
    // (docs < 400) only; corpus docs are never compared to each other.
    // df cap off for oracle identity, as in ext_dedup_jaccard.
    Q("ext_dedup_incremental",
      (s, dir) => {
        val docs = Tables.documents(s, dir).select("doc_id", "text")
        val corpus = docs.filter(col("doc_id") < 400)
        val newBatch = docs.filter(col("doc_id") >= 400)
          .unionByName(corpus.filter(col("doc_id") < 10)
            .select((col("doc_id") + 10000).as("doc_id"), col("text")))
        TextDedup.incrementalSurvivors(newBatch, corpus, k = 2, tau = 0.8,
          maxShingleDf = Long.MaxValue).select("doc_id")
      },
      Some(incrementalOracle)),

    // Incremental dedup over the PERSISTED corpus index
    // (writeIncrementalIndex: hashes/shingles/df parquet — built once
    // per corpus version, read per ingest tick): the deployment shape.
    // Result-identical to the self-contained form by construction, so
    // the oracle is the same exact-semantics SQL — hash-matching it
    // proves the index path changes cost, never the answer.
    Q("ext_dedup_incr_indexed",
      (s, dir) => {
        val docs = Tables.documents(s, dir).select("doc_id", "text")
        val corpus = docs.filter(col("doc_id") < 400)
        val newBatch = docs.filter(col("doc_id") >= 400)
          .unionByName(corpus.filter(col("doc_id") < 10)
            .select((col("doc_id") + 10000).as("doc_id"), col("text")))
        val idx = graft.core.TmpDirs.scoped("incr_index")
        TextDedup.writeIncrementalIndex(corpus, idx, k = 2)
        TextDedup.incrementalSurvivorsIndexed(s, newBatch, idx, tau = 0.8,
          maxShingleDf = Long.MaxValue, k = 2).select("doc_id")
      },
      Some(incrementalOracle)),

    // Same incremental dedup with the Bloom prefilter switched on: the
    // batch-side filter only prunes corpus rows that provably match no
    // batch hash from the anti-join's corpus side, so the oracle is
    // IDENTICAL — hash-matching it proves the prefilter is invisible to
    // the result.
    Q("ext_bloom_incremental",
      (s, dir) => {
        val docs = Tables.documents(s, dir).select("doc_id", "text")
        val corpus = docs.filter(col("doc_id") < 400)
        val newBatch = docs.filter(col("doc_id") >= 400)
          .unionByName(corpus.filter(col("doc_id") < 10)
            .select((col("doc_id") + 10000).as("doc_id"), col("text")))
        TextDedup.incrementalSurvivors(newBatch, corpus, k = 2, tau = 0.8,
          maxShingleDf = Long.MaxValue,
          // sized for the BATCH (the build side): ~110 hashes in 4096
          // bits ≈ 0.03% fpp, a 512-byte plan literal
          bloomBits = Some(1 << 12)).select("doc_id")
      },
      Some(incrementalOracle)),

    // The full ingest LOOP (DedupStream.ingestTick, twice): seed index ->
    // tick b0 -> survivors appended -> tick b1 sees seed PLUS b0
    // survivors. The oracle replays both ticks' three dedup layers in SQL
    // (intra-batch exact min-id, exact+near vs the growing corpus,
    // intra-batch near-dup clusters via recursive label propagation), so
    // a hash match proves the persisted-index growth path end-to-end:
    // slice appends, replay-safe reads, and cross-tick dedup semantics.
    // Batches are id-pinned windows so the entry costs the same at every
    // scale; dup plants documented at [[ingestLoopBatches]].
    Q("ext_ingest_loop",
      (s, dir) => {
        val docs = Tables.documents(s, dir).select("doc_id", "text")
        val (corpus, b0, b1) = ingestLoopBatches(docs)
        // fresh dirs per invocation: a bench re-trial in the same JVM must
        // not see the previous trial's appended slices as corpus
        val run = java.util.UUID.randomUUID.toString.take(8)
        val out = graft.core.TmpDirs.scoped(s"ingest_loop_out_$run")
        val idx = ingestSeedIdx(dir, corpus)
        graft.streaming.DedupStream.ingestTick(s, b0, idx, out, "b0",
          k = 2, tau = 0.8, maxShingleDf = Long.MaxValue): Unit
        graft.streaming.DedupStream.ingestTick(s, b1, idx, out, "b1",
          k = 2, tau = 0.8, maxShingleDf = Long.MaxValue): Unit
        s.read.parquet(out).select(col("doc_id"), col("batch"))
      },
      Some(ingestLoopOracle)),

    // The ingest loop with IN-LOOP index compaction between the ticks
    // (round-15 maxSlices path): identical batches to ext_ingest_loop,
    // but after tick b0 the index carries a loose b0 slice beyond the
    // base floor, crossing a maxSlices=0 trigger ("no loose slices
    // tolerated"), so compactIfNeeded folds it to one slice and
    // SWAPS it in (rename-based rebuildAndSwap) before tick b1 probes
    // it. Compaction is a pure re-layout — the oracle is the SAME
    // two-tick replay, so the hash match proves the swap is
    // result-invisible inside the driver harness, not just in specs.
    Q("ext_ingest_autocompact",
      (s, dir) => {
        val docs = Tables.documents(s, dir).select("doc_id", "text")
        val (corpus, b0, b1) = ingestLoopBatches(docs)
        val run = java.util.UUID.randomUUID.toString.take(8)
        val out = graft.core.TmpDirs.scoped(s"ingest_ac_out_$run")
        val idx = ingestSeedIdx(dir, corpus)
        graft.streaming.DedupStream.ingestTick(s, b0, idx, out, "b0",
          k = 2, tau = 0.8, maxShingleDf = Long.MaxValue): Unit
        require(graft.streaming.DedupStream.compactIfNeeded(
          s, idx, maxSlices = 0, currentTag = "b1"),
          "autocompact query: the trigger must fire between the ticks")
        graft.streaming.DedupStream.ingestTick(s, b1, idx, out, "b1",
          k = 2, tau = 0.8, maxShingleDf = Long.MaxValue): Unit
        s.read.parquet(out).select(col("doc_id"), col("batch"))
      },
      Some(ingestLoopOracle)),

    // The embedding-side ingest LOOP (EmbedIngest.ingestTick, twice):
    // seed IVF index -> tick b0 (intra semantic dedup + probe-served
    // dedup vs the index) -> survivors appended as a slice -> tick b1
    // sees seed PLUS b0 survivors. Batch construction makes the
    // approximate probe provably exact (see [[embedTickSql]]), so the
    // oracle replays both ticks with exact cosine SQL — a hash match
    // proves index growth, replay-safe probes, and cross-tick semantic
    // dedup end-to-end.
    Q("ext_embed_ingest_loop",
      (s, dir) => {
        val emb = Tables.embeddings(s, dir).select("vec_id", "embedding")
        val (corpus, b0, b1) = embedLoopBatches(emb)
        val run = java.util.UUID.randomUUID.toString.take(8)
        val out = graft.core.TmpDirs.scoped(s"embed_loop_out_$run")
        val idx = embedSeedIdx(dir, corpus)
        graft.streaming.EmbedIngest.ingestTick(
          s, b0, idx, out, "b0", tau = 0.8, nProbe = 2): Unit
        graft.streaming.EmbedIngest.ingestTick(
          s, b1, idx, out, "b1", tau = 0.8, nProbe = 2): Unit
        s.read.parquet(out).select(col("vec_id"), col("batch"))
      },
      Some(embedLoopOracle)),

    // The embedding ingest loop with IN-LOOP IVF compaction between the
    // ticks (maxSlices path, the embedding twin of
    // ext_ingest_autocompact): after tick b0 the index carries a loose
    // batch=b0 list slice beyond the base floor, crossing a maxSlices=0
    // trigger; compactIfNeeded re-clusters the slices and
    // swaps it in before tick b1 probes. Compaction never re-assigns
    // (centroids frozen, pure re-layout), so the oracle is the SAME
    // two-tick exact-cosine replay.
    Q("ext_embed_ingest_autocompact",
      (s, dir) => {
        val emb = Tables.embeddings(s, dir).select("vec_id", "embedding")
        val (corpus, b0, b1) = embedLoopBatches(emb)
        val run = java.util.UUID.randomUUID.toString.take(8)
        val out = graft.core.TmpDirs.scoped(s"embed_ac_out_$run")
        val idx = embedSeedIdx(dir, corpus)
        graft.streaming.EmbedIngest.ingestTick(
          s, b0, idx, out, "b0", tau = 0.8, nProbe = 2): Unit
        require(graft.streaming.EmbedIngest.compactIfNeeded(
          s, idx, maxSlices = 0, currentTag = "b1"),
          "embed autocompact query: the trigger must fire between the ticks")
        graft.streaming.EmbedIngest.ingestTick(
          s, b1, idx, out, "b1", tau = 0.8, nProbe = 2): Unit
        s.read.parquet(out).select(col("vec_id"), col("batch"))
      },
      Some(embedLoopOracle)),

    // The embedding ingest loop with a full QUANTIZER REBUILD between
    // the ticks (the drift response, forced): retrain centroids on the
    // index's current contents (corpus + b0 survivors) and swap the
    // re-sliced index in before tick b1. The oracle is STILL the same
    // exact-cosine replay — this fixture's probe ≡ exact under ANY
    // centroids: an exact dup ranks the (new) centroids identically to
    // its twin so the twin's list is always probed, and negated fresh
    // content sits at ≤ ~0.48 cosine vs everything (τ=0.8), where a
    // probe miss can only agree with "keep". A hash match therefore
    // proves rebuild + rename-swap leave the loop's decisions intact.
    Q("ext_embed_ingest_rebuild",
      (s, dir) => {
        val emb = Tables.embeddings(s, dir).select("vec_id", "embedding")
        val (corpus, b0, b1) = embedLoopBatches(emb)
        val run = java.util.UUID.randomUUID.toString.take(8)
        val out = graft.core.TmpDirs.scoped(s"embed_rb_out_$run")
        val idx = embedSeedIdx(dir, corpus)
        graft.streaming.EmbedIngest.ingestTick(
          s, b0, idx, out, "b0", tau = 0.8, nProbe = 2): Unit
        graft.core.FsPaths.rebuildAndSwap(s, idx) { dst =>
          Similarity.rebuildIvfIndex(s, idx, dst, centroidStride = 50L,
            excludeTag = Some("b1"))
        }
        graft.streaming.EmbedIngest.ingestTick(
          s, b1, idx, out, "b1", tau = 0.8, nProbe = 2): Unit
        s.read.parquet(out).select(col("vec_id"), col("batch"))
      },
      Some(embedLoopOracle)),

    // Deterministic content-hash dataset split (train/val/test) — a pure
    // function of md5(text), reproducible across engines and reruns.
    Q("ext_split_assign",
      (s, dir) => graft.ops.DatasetSplit.assign(
        Tables.documents(s, dir).select("doc_id", "text"), "text")
        .select("doc_id", "bucket", "split"),
      Some("""SELECT doc_id,
        |  CAST(('0x' || substr(md5(text), 1, 4)) AS INT) AS bucket,
        |  CASE WHEN CAST(('0x' || substr(md5(text), 1, 4)) AS INT) < 52428 THEN 'train'
        |       WHEN CAST(('0x' || substr(md5(text), 1, 4)) AS INT) < 58982 THEN 'val'
        |       ELSE 'test' END AS split
        |FROM documents""".stripMargin)),

    // End-to-end curation: quality gate -> near-dup removal AMONG THE
    // PASSING DOCS (keeper = smallest passing id, so a cluster is never
    // lost to a low-quality min-id doc) -> deterministic split. Pure
    // composition of already-oracle-checked stages; the oracle recombines
    // the same SQL fragments with the gate applied before shingling.
    Q("ext_curation_pipeline",
      // explicit Long.MaxValue: the oracle replays the EXACT τ-pairs, so
      // the library's scale-safe df-cap default is disabled here (the two
      // agree on this corpus — CurationSpec pins it)
      (s, dir) => graft.ops.Curation.curate(Tables.documents(s, dir),
          maxShingleDf = Long.MaxValue)
        .select("doc_id", "n_words", "split"),
      Some("""WITH RECURSIVE stats AS (
        |  SELECT doc_id, text,
        |    CAST(len(string_split(text, ' ')) AS INT) AS n_words,
        |    (CASE WHEN len(string_split(text, ' ')) >= 20 THEN 1.0 ELSE 0.5 END)
        |      * (CAST(len(list_distinct(string_split(text, ' '))) AS DOUBLE)
        |         / len(string_split(text, ' '))) AS quality_score
        |  FROM documents),
        |good AS (SELECT * FROM stats WHERE n_words >= 20 AND quality_score >= 0.3),
        |sh AS (
        |  SELECT DISTINCT doc_id, ws[i] || ' ' || ws[i+1] AS shingle
        |  FROM (SELECT doc_id, string_split(text, ' ') AS ws FROM good
        |        WHERE len(string_split(text, ' ')) >= 2),
        |       LATERAL (SELECT unnest(range(1, len(ws))) AS i)
        |), sizes AS (SELECT doc_id, count(*) AS sz FROM sh GROUP BY doc_id),
        |inter AS (
        |  SELECT a.doc_id AS d1, b.doc_id AS d2, count(*) AS n_inter
        |  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2),
        |pairs AS (
        |  SELECT d1, d2 FROM inter
        |  JOIN sizes s1 ON d1 = s1.doc_id JOIN sizes s2 ON d2 = s2.doc_id
        |  WHERE CAST(n_inter AS DOUBLE) / (s1.sz + s2.sz - n_inter) >= 0.8),
        |edges AS (SELECT d1 AS src, d2 AS dst FROM pairs
        |          UNION ALL SELECT d2, d1 FROM pairs),
        |verts AS (SELECT DISTINCT src AS id FROM edges),
        |reach AS (
        |  SELECT id, id AS label FROM verts
        |  UNION
        |  SELECT e.src AS id, r.label FROM edges e JOIN reach r ON e.dst = r.id),
        |losers AS (
        |  SELECT id AS doc_id FROM (SELECT id, min(label) AS cluster_id FROM reach GROUP BY id)
        |  WHERE cluster_id <> id)
        |SELECT doc_id, n_words,
        |  CASE WHEN CAST(('0x' || substr(md5(text), 1, 4)) AS INT) < 52428 THEN 'train'
        |       WHEN CAST(('0x' || substr(md5(text), 1, 4)) AS INT) < 58982 THEN 'val'
        |       ELSE 'test' END AS split
        |FROM good
        |WHERE doc_id NOT IN (SELECT doc_id FROM losers)""".stripMargin)),

    // Decontamination: train-split docs sharing any 5-gram with a
    // test-split doc (shingle semi-join, the bucketed shape).
    Q("ext_decontaminate",
      (s, dir) => {
        val assigned = graft.ops.DatasetSplit.assign(
          Tables.documents(s, dir).select("doc_id", "text"), "text")
        graft.ops.Curation.contaminated(
          assigned.filter(col("split") === "train"),
          assigned.filter(col("split") === "test"), k = 5)
      },
      Some("""WITH assigned AS (
        |  SELECT doc_id, text,
        |    CASE WHEN CAST(('0x' || substr(md5(text), 1, 4)) AS INT) < 52428 THEN 'train'
        |         WHEN CAST(('0x' || substr(md5(text), 1, 4)) AS INT) < 58982 THEN 'val'
        |         ELSE 'test' END AS split
        |  FROM documents),
        |shingle AS (
        |  SELECT doc_id, split,
        |    ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] || ' ' || ws[i+3] || ' ' || ws[i+4] AS s
        |  FROM (SELECT doc_id, split, string_split(text, ' ') AS ws FROM assigned
        |        WHERE len(string_split(text, ' ')) >= 5),
        |       LATERAL (SELECT unnest(range(1, len(ws) - 3)) AS i))
        |SELECT DISTINCT tr.doc_id
        |FROM shingle tr
        |WHERE tr.split = 'train'
        |  AND tr.s IN (SELECT s FROM shingle WHERE split = 'test')""".stripMargin)),

    // Ingest-side length cap (it truncates): the guard the dedup
    // family's per-doc memory bounds assume. Map-only; the md5 of the
    // capped text pins the exact truncation point, not just the counts.
    Q("ext_length_cap",
      (s, dir) => Curation.lengthCap(Tables.documents(s, dir), maxTokens = 50)
        .select(col("doc_id"), col("n_tokens_orig"), col("capped"),
          md5(col("text")).as("text_md5")),
      Some("""WITH t AS (
        |  SELECT doc_id, text,
        |    list_filter(string_split(text, ' '), x -> x <> '') AS ws,
        |    len(string_split(text, ' ')) AS raw_n
        |  FROM documents)
        |SELECT doc_id, CAST(len(ws) AS BIGINT) AS n_tokens_orig,
        |  CAST(CASE WHEN len(ws) > 50 OR raw_n > 50 THEN 1 ELSE 0 END AS INT) AS capped,
        |  md5(CASE WHEN len(ws) > 50 OR raw_n > 50
        |      THEN array_to_string(ws[1:50], ' ')
        |      ELSE text END) AS text_md5
        |FROM t""".stripMargin)),

    // MinHash/LSH near-dup pairs, graduated to the oracle gate: at this
    // operating point (128 perms, r=4, P[collide | j=0.8] ≈ 1−5e-8) the
    // banded pair set EQUALS the exact Jaccard τ≥0.8 set (the DedupSpec
    // pin, measured equal at all three testdata scales), so the verdict
    // emits the exact pair count (DuckDB recomputes it) plus both EXCEPT
    // counts pinned to zero — a recall or precision regression breaks the
    // hash.
    Q("ext_dedup_minhash",
      (s, dir) => {
        val docs = Tables.documents(s, dir)
        val exact = TextDedup.jaccardPairs(docs, k = 2, tau = 0.8,
          maxShingleDf = Long.MaxValue)
        val mh = TextDedup.minHashPairs(docs, k = 2,
          numHashes = 128, rowsPerBand = 4, tau = 0.8)
        Verdicts.pairStats(exact, mh, ("d1", "d2"), ("d1", "d2"))
          .select(col("n_ref").as("n_pairs"), col("n_missing"), col("n_extra"))
      },
      Some("""WITH sh AS (
        |  SELECT DISTINCT doc_id, ws[i] || ' ' || ws[i+1] AS shingle
        |  FROM (SELECT doc_id, string_split(text, ' ') AS ws FROM documents
        |        WHERE len(string_split(text, ' ')) >= 2),
        |       LATERAL (SELECT unnest(range(1, len(ws))) AS i)
        |), sizes AS (SELECT doc_id, count(*) AS sz FROM sh GROUP BY doc_id),
        |inter AS (
        |  SELECT a.doc_id AS d1, b.doc_id AS d2, count(*) AS n_inter
        |  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2),
        |p AS (
        |  SELECT d1, d2 FROM inter
        |  JOIN sizes s1 ON d1 = s1.doc_id JOIN sizes s2 ON d2 = s2.doc_id
        |  WHERE CAST(n_inter AS DOUBLE) / (s1.sz + s2.sz - n_inter) >= 0.8)
        |SELECT CAST(count(*) AS BIGINT) AS n_pairs,
        |  CAST(0 AS BIGINT) AS n_missing, CAST(0 AS BIGINT) AS n_extra
        |FROM p""".stripMargin)),

    // SimHash near-dup pairs, graduated via a recall verdict: DuckDB
    // recomputes the exact high-Jaccard (τ≥0.9) pair count and asserts
    // the hamming≤3 pigeonhole blocks recall ≥ 0.5 of them (measured
    // 0.75 / 0.60 / 0.74 at sf0.001/0.01/0.1; DedupSpec pins 0.85 at the
    // hamming≤7 operating point). No subset flag: hamming-close pairs
    // below τ are expected, not errors.
    Q("ext_dedup_simhash",
      (s, dir) => {
        val docs = Tables.documents(s, dir)
        val ref = TextDedup.jaccardPairs(docs, k = 2, tau = 0.9,
          maxShingleDf = Long.MaxValue)
        Verdicts.pairStats(ref, TextDedup.simHashPairs(docs, maxHamming = 3),
          ("d1", "d2"), ("d1", "d2"))
          .select(col("n_ref"), Verdicts.recallFlag(0.5))
      },
      Some("""WITH sh AS (
        |  SELECT DISTINCT doc_id, ws[i] || ' ' || ws[i+1] AS shingle
        |  FROM (SELECT doc_id, string_split(text, ' ') AS ws FROM documents
        |        WHERE len(string_split(text, ' ')) >= 2),
        |       LATERAL (SELECT unnest(range(1, len(ws))) AS i)
        |), sizes AS (SELECT doc_id, count(*) AS sz FROM sh GROUP BY doc_id),
        |inter AS (
        |  SELECT a.doc_id AS d1, b.doc_id AS d2, count(*) AS n_inter
        |  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2),
        |p AS (
        |  SELECT d1, d2 FROM inter
        |  JOIN sizes s1 ON d1 = s1.doc_id JOIN sizes s2 ON d2 = s2.doc_id
        |  WHERE CAST(n_inter AS DOUBLE) / (s1.sz + s2.sz - n_inter) >= 0.9)
        |SELECT CAST(count(*) AS BIGINT) AS n_ref, 1 AS recall_ok FROM p""".stripMargin)),

    // Embedding near-dup / similarity-threshold pairs — brute-force cosine
    // baseline (tau below the corpus' top pair cosines; gap-checked).
    Q("ext_ann_cosine_pairs",
      (s, dir) => Similarity.bruteForcePairs(Tables.embeddings(s, dir), tau = 0.45),
      Some("""SELECT a.vec_id AS a_id, b.vec_id AS b_id,
        |  list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
        |                         CAST(b.embedding AS DOUBLE[])) AS cosine
        |FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
        |WHERE list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
        |                             CAST(b.embedding AS DOUBLE[])) >= 0.45""".stripMargin)),

    // Brute-force cosine top-k for a fixed query set.
    // Johnson–Lindenstrauss sign random projection (64 → 16 dims): the
    // width cut that shrinks every downstream ANN shuffle/kernel. The
    // oracle SQL is GENERATED from the same seeded sign matrix the Spark
    // side uses (the ext_quality_classifier pattern); both engines sum
    // in ascending-dim order and divide by the exact 4.0 = √16, so the
    // doubles are bit-identical before the shared 6-dp rounding.
    Q("ext_ann_rp",
      (s, dir) => Similarity.randomProject(
        Tables.embeddings(s, dir), dIn = 64, dOut = 16),
      Some {
        val signs = Similarity.rpSigns("jl", 64, 16)
        val dims = (0 until 16).map { j =>
          val terms = (0 until 64).map { i =>
            s"${if (signs(i)(j) == 1) "+" else "-"} e[${i + 1}]"
          }.mkString(" ")
          s"  round((${terms.stripPrefix("+ ")}) / 4.0, 6) AS proj_$j"
        }.mkString(",\n")
        s"""WITH v AS (
           |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings)
           |SELECT vec_id,
           |$dims
           |FROM v""".stripMargin
      }),

    Q("ext_ann_topk",
      (s, dir) => {
        val emb = Tables.embeddings(s, dir)
        Similarity.topK(emb, emb.filter(col("vec_id") < 5), k = 10)
      },
      Some("""WITH c AS (
        |  SELECT a.vec_id AS q_id, b.vec_id AS n_id,
        |    list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
        |                           CAST(b.embedding AS DOUBLE[])) AS cosine
        |  FROM embeddings a JOIN embeddings b ON b.vec_id <> a.vec_id
        |  WHERE a.vec_id < 5)
        |SELECT q_id, n_id,
        |  CAST(row_number() OVER (PARTITION BY q_id ORDER BY cosine DESC, n_id) AS INT) AS rk,
        |  cosine
        |FROM c
        |QUALIFY rk <= 10""".stripMargin)),

    // LSH-bucketed ANN pairs, graduated to the oracle gate via verdict
    // rows (the ext_sketch_quantile pattern): DuckDB recomputes the exact
    // brute-force pair count and asserts the invariants SimilaritySpec
    // pins — LSH pairs ⊆ brute-force pairs (precision 1 by construction:
    // candidates are cosine-verified) and recall ≥ 0.5 (measured 0.57 /
    // 1.0 / 0.81 at sf0.001/0.01/0.1).
    Q("ext_ann_lsh",
      // exact-bucket collisions, no multi-probe: candidate volume with
      // probing scales with L·(p+1)·n²/2^p, and at p=4 the (p+1) probe
      // factor cancels the bucketing gain (measured 1.6s → 17s at sf0.1)
      (s, dir) => {
        val emb = Tables.embeddings(s, dir)
        val lsh = Similarity.lshPairs(emb, tau = 0.45,
          numPlanes = 4, numTables = 8)
        Verdicts.pairStats(Similarity.bruteForcePairs(emb, 0.45), lsh,
          ("a_id", "b_id"), ("a_id", "b_id"))
          .select(col("n_ref").as("n_exact"),
            (col("n_extra") === 0L).cast("int").as("subset_ok"),
            Verdicts.recallFlag(0.5))
      },
      Some("""WITH p AS (
        |  SELECT a.vec_id AS a_id, b.vec_id AS b_id
        |  FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
        |  WHERE list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
        |                               CAST(b.embedding AS DOUBLE[])) >= 0.45)
        |SELECT CAST(count(*) AS BIGINT) AS n_exact,
        |  1 AS subset_ok, 1 AS recall_ok FROM p""".stripMargin)),

    // Product-quantization top-k: per-subspace k-means codebooks, 8-bit
    // codes, broadcast-LUT ADC scoring, exact cosine re-rank of the
    // rerank*k ADC survivors. Graduated to the oracle gate via
    // Verdicts.annRecall (floor 0.45 — measured recall@10 0.84 / 0.72 /
    // 0.52 at sf0.001/0.01/0.1; SimilaritySpec additionally pins 0.6 on
    // its corpus plus code-shape and bit-determinism invariants).
    Q("ext_ann_pq",
      (s, dir) => {
        val emb = Tables.embeddings(s, dir)
        val qs = emb.filter(col("vec_id") < 5)
        Verdicts.annRecall(emb, qs,
          Similarity.pqTopK(emb, qs, k = 10, m = 8, ks = 16, maxIter = 3,
            rerank = 8),
          k = 10, minRecall = 0.45)
      },
      Some(annVerdictOracle)),

    // IVF-partitioned top-k, graduated via Verdicts.annRecall (floor 0.3
    // = the SimilaritySpec pin; measured 0.48 / 0.38 / 0.34 at
    // sf0.001/0.01/0.1 — this uniform-direction corpus has thin Voronoi
    // margins, see semDedup's probe note).
    Q("ext_ann_ivf",
      (s, dir) => {
        val emb = Tables.embeddings(s, dir)
        val qs = emb.filter(col("vec_id") < 5)
        Verdicts.annRecall(emb, qs,
          Similarity.ivfTopK(emb, qs, k = 10, centroidStride = 50L, nProbe = 3),
          k = 10, minRecall = 0.3)
      },
      Some(annVerdictOracle)),

    // Persisted IVF index probe: build the partitioned on-disk index
    // (lists as list_id= parquet directories) and answer top-k from it —
    // the quantize-once / probe-many deployment shape. Graduated via
    // Verdicts.annIdentity: the probe must be row-identical to the
    // in-memory ivfTopK (itself recall-gated above), so the oracle pins
    // n_mismatch = 0 per query — a stale or corrupted index layout breaks
    // the hash.
    Q("ext_ann_ivf_indexed",
      (s, dir) => {
        val emb = Tables.embeddings(s, dir)
        val qs = emb.filter(col("vec_id") < 5)
        val idx = graft.core.TmpDirs.scoped("ivf_index")
        Similarity.writeIvfIndex(emb, idx, centroidStride = 50L)
        Verdicts.annIdentity(qs,
          Similarity.ivfTopKIndexed(s, idx, qs, k = 10, nProbe = 3),
          Similarity.ivfTopK(emb, qs, k = 10, centroidStride = 50L, nProbe = 3))
      },
      Some("""SELECT vec_id AS q_id, CAST(10 AS BIGINT) AS n_ret,
        |  CAST(0 AS BIGINT) AS n_mismatch
        |FROM embeddings WHERE vec_id < 5""".stripMargin)),

    // Grown IVF index: base built on HALF the corpus, the other half
    // APPENDED as a frozen-centroid batch slice (appendIvfIndex — the
    // embedding twin of the dedup ingest loop's index growth). Verdict:
    // probes over the grown index are IDENTICAL to in-memory IVF over
    // the whole corpus under the same persisted centroids — growth
    // changes layout, never answers. Fresh dirs per invocation keep a
    // bench re-trial from hitting the JVM file-listing cache of its
    // predecessor's overwritten slices.
    Q("ext_ann_ivf_append",
      (s, dir) => {
        val emb = Tables.embeddings(s, dir)
        val qs = emb.filter(col("vec_id") < 5)
        val run = java.util.UUID.randomUUID.toString.take(8)
        val idx = graft.core.TmpDirs.scoped(s"ivf_append_$run")
        Similarity.writeIvfIndex(
          emb.filter(col("vec_id") % 2 === 0), idx, centroidStride = 50L)
        Similarity.appendIvfIndex(
          s, emb.filter(col("vec_id") % 2 =!= 0), idx, "b0")
        val centroids = s.read.parquet(s"$idx/centroids")
        Verdicts.annIdentity(qs,
          Similarity.ivfTopKIndexed(s, idx, qs, k = 10, nProbe = 3),
          Similarity.ivfTopKWithCentroids(emb, centroids, qs, k = 10, nProbe = 3))
      },
      Some("""SELECT vec_id AS q_id, CAST(10 AS BIGINT) AS n_ret,
        |  CAST(0 AS BIGINT) AS n_mismatch
        |FROM embeddings WHERE vec_id < 5""".stripMargin)),

    // IVFPQ: the standard 100 TB ANN service layout — coarse lists prune
    // the partitioned CODE scan (dynamic partition pruning), ADC scores
    // only probed lists' codes, exact re-rank fetches raw vectors from
    // the same pruned directories. Graduated via Verdicts.annRecall
    // (floor 0.3, the IVF-loss-dominated figure); `cos_ok` here is the
    // strongest of the family — reported cosines must equal recomputed
    // raw-vector cosines, proving the re-rank really reads raw vectors.
    Q("ext_ann_ivf_pq",
      (s, dir) => {
        val emb = Tables.embeddings(s, dir)
        val qs = emb.filter(col("vec_id") < 5)
        val idx = graft.core.TmpDirs.scoped("ivfpq_index")
        Similarity.writeIvfPqIndex(emb, idx, centroidStride = 50L,
          m = 8, ks = 16, maxIter = 3)
        Verdicts.annRecall(emb, qs,
          Similarity.ivfPqTopKIndexed(s, idx, qs, k = 10, nProbe = 3, rerank = 8),
          k = 10, minRecall = 0.3)
      },
      Some(annVerdictOracle)),

    // The SERVING phase of IVFPQ alone: the identical probe over a
    // PREBUILT on-disk index (built at most once per corpus+params,
    // cached across processes). ext_ann_ivf_pq's bench number pays the
    // one-time build every trial; a production ANN service amortizes that
    // build across millions of probes, so THIS entry is the number that
    // tracks serving cost round over round. Graduated via the same
    // annRecall verdict (the exact-top-k baseline is 5 queries × corpus —
    // negligible next to the probe); SimilaritySpec still pins build
    // determinism (prebuilt ≡ fresh build).
    Q("ext_ann_ivf_pq_probe",
      (s, dir) => {
        val emb = Tables.embeddings(s, dir)
        val qs = emb.filter(col("vec_id") < 5)
        Verdicts.annRecall(emb, qs,
          Similarity.ivfPqTopKIndexed(s, prebuiltIvfPqIndex(s, dir), qs,
            k = 10, nProbe = 3, rerank = 8),
          k = 10, minRecall = 0.3)
      },
      Some(annVerdictOracle)),

    // Embedding-cosine near-dup DEDUP (vs the pair queries above): every
    // vector labeled with its connected-component cluster over the
    // cosine >= tau graph + keeper flag. Exact pairs here (oracle-
    // checkable); at corpus scale the same clustering runs off lshPairs.
    Q("ext_dedup_embed",
      (s, dir) => Similarity.dedupByEmbedding(Tables.embeddings(s, dir), tau = 0.45),
      Some("""WITH RECURSIVE pairs AS (
        |  SELECT a.vec_id AS d1, b.vec_id AS d2
        |  FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
        |  WHERE list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
        |                               CAST(b.embedding AS DOUBLE[])) >= 0.45),
        |edges AS (SELECT d1 AS src, d2 AS dst FROM pairs
        |          UNION ALL SELECT d2, d1 FROM pairs),
        |verts AS (SELECT DISTINCT src AS id FROM edges),
        |reach AS (
        |  SELECT id, id AS label FROM verts
        |  UNION
        |  SELECT e.src AS id, r.label FROM edges e JOIN reach r ON e.dst = r.id),
        |cl AS (SELECT id, min(label) AS cluster_id FROM reach GROUP BY id)
        |SELECT e.vec_id,
        |  COALESCE(cl.cluster_id, e.vec_id) AS cluster_id,
        |  CAST(CASE WHEN COALESCE(cl.cluster_id, e.vec_id) = e.vec_id
        |       THEN 1 ELSE 0 END AS INT) AS is_keeper
        |FROM embeddings e LEFT JOIN cl ON cl.id = e.vec_id""".stripMargin)),

    // K-means assignment step (the SemDeDup / learned-IVF quantizer
    // primitive): nearest-of-k fixed centroids by cosine, ties to the
    // smaller centroid id. Centroids are pinned to vec_id < 8 so the
    // assignment is a pure argmax both engines can express; the iterated
    // Lloyd's loop is exercised by ext_semdedup + SemDedupSpec.
    Q("ext_kmeans_assign",
      (s, dir) => {
        val emb = Tables.embeddings(s, dir)
        Similarity.kmeansAssign(emb,
          emb.filter(col("vec_id") < 8)
            .select(col("vec_id").as("c_id"), col("embedding").as("c_emb")))
          .select("vec_id", "cluster")
      },
      Some("""WITH c AS (
        |  SELECT vec_id AS c_id, CAST(embedding AS DOUBLE[]) AS c_emb
        |  FROM embeddings WHERE vec_id < 8),
        |scored AS (
        |  SELECT e.vec_id, c.c_id,
        |    list_cosine_similarity(CAST(e.embedding AS DOUBLE[]), c.c_emb) AS cos
        |  FROM embeddings e CROSS JOIN c)
        |SELECT vec_id, c_id AS cluster FROM scored
        |QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY cos DESC, c_id) = 1""".stripMargin)),

    // SemDeDup (Abbas et al. 2023): k-means cells as the candidate
    // buckets, cosine >= tau pairs generated within cells only, connected
    // components, min-id keeper. Graduated to the oracle gate via a
    // verdict row: DuckDB recomputes the corpus size and the EXACT
    // embedding-dedup removal count (the ext_dedup_embed recursive CTE)
    // and asserts the two SemDedupSpec invariants — removals ⊆ the exact
    // graph's (cell-restricted pairs can never remove a non-duplicate)
    // and removal recall ≥ 0.9 at probe=3 (measured 1.0 / 1.0 / 0.94 at
    // sf0.001/0.01/0.1). The iterated k-means means themselves stay
    // non-SQL-expressible; bit-determinism remains pinned in SemDedupSpec.
    Q("ext_semdedup",
      (s, dir) => {
        val emb = Tables.embeddings(s, dir)
        val exactRem = Similarity.dedupByEmbedding(emb, tau = 0.45)
          .filter(col("is_keeper") === 0).select(col("vec_id"))
        val semRem = Similarity.semDedup(emb, k = 10, tau = 0.45, probe = 3)
          .filter(col("is_keeper") === 0).select(col("vec_id"))
        emb.agg(count(lit(1)).as("n_vecs"))
          .crossJoin(exactRem.agg(count(lit(1)).as("n_exact_removed")))
          .crossJoin(semRem.join(exactRem, Seq("vec_id"), "left_anti")
            .agg(count(lit(1)).as("n_phantom")))
          .crossJoin(semRem.join(exactRem, Seq("vec_id"), "left_semi")
            .agg(count(lit(1)).as("n_hit")))
          .select(col("n_vecs"), col("n_exact_removed"),
            (col("n_phantom") === 0L).cast("int").as("subset_ok"),
            (col("n_hit") >= lit(0.9) * col("n_exact_removed")).cast("int")
              .as("recall_ok"))
      },
      Some("""WITH RECURSIVE pairs AS (
        |  SELECT a.vec_id AS d1, b.vec_id AS d2
        |  FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
        |  WHERE list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
        |                               CAST(b.embedding AS DOUBLE[])) >= 0.45),
        |edges AS (SELECT d1 AS src, d2 AS dst FROM pairs
        |          UNION ALL SELECT d2, d1 FROM pairs),
        |verts AS (SELECT DISTINCT src AS id FROM edges),
        |reach AS (
        |  SELECT id, id AS label FROM verts
        |  UNION
        |  SELECT e.src AS id, r.label FROM edges e JOIN reach r ON e.dst = r.id),
        |cl AS (SELECT id, min(label) AS cluster_id FROM reach GROUP BY id)
        |SELECT (SELECT CAST(count(*) AS BIGINT) FROM embeddings) AS n_vecs,
        |  CAST((SELECT count(*) FROM cl WHERE id <> cluster_id) AS BIGINT)
        |    AS n_exact_removed,
        |  1 AS subset_ok, 1 AS recall_ok""".stripMargin)),

    // As-of (point-in-time) join: attribute each purchase to the most
    // SCD2 interval derivation: compress each user's event_type change
    // log into validity intervals (run-length change detection + lead
    // close) — the warehouse-history view of the same prefix-sum
    // sessionization idiom the cycle detector uses. Oracle is the
    // identical window program in DuckDB.
    Q("ext_scd2_intervals",
      (s, dir) => Scd2.fromEvents(Tables.events(s, dir))
        .select(col("user_id"), col("event_type"),
          date_format(col("valid_from"), tsFmtSpark).as("valid_from"),
          date_format(col("valid_to"), tsFmtSpark).as("valid_to"),
          col("n_events"), col("is_current")),
      Some(s"""WITH e AS (
        |  SELECT user_id, event_type, ts, event_id,
        |    CASE WHEN lag(event_type) OVER w IS NULL
        |           OR lag(event_type) OVER w <> event_type THEN 1 ELSE 0 END AS chg
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
        |r AS (
        |  SELECT user_id, event_type, ts,
        |    sum(chg) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |                   ROWS UNBOUNDED PRECEDING) AS run_id
        |  FROM e),
        |g AS (
        |  SELECT user_id, run_id, min(event_type) AS event_type,
        |    min(ts) AS valid_from, count(*) AS n_events
        |  FROM r GROUP BY user_id, run_id)
        |SELECT user_id, event_type,
        |  strftime(valid_from, '$tsFmtDuck') AS valid_from,
        |  strftime(lead(valid_from) OVER wf, '$tsFmtDuck') AS valid_to,
        |  n_events,
        |  CAST(CASE WHEN lead(valid_from) OVER wf IS NULL THEN 1 ELSE 0 END AS INT)
        |    AS is_current
        |FROM g
        |WINDOW wf AS (PARTITION BY user_id ORDER BY valid_from)""".stripMargin)),

    // recent prior-or-equal view by the same user. Spark has no asof
    // operator — ops/AsOfJoin is the union-tag single-shuffle form;
    // DuckDB's native ASOF LEFT JOIN is the oracle.
    Q("ext_asof_join",
      (s, dir) => {
        val ev = Tables.events(s, dir)
        val purchases = ev.filter(col("event_type") === "purchase")
          .select(col("event_id"), col("user_id"), col("ts"), col("value"))
        val views = ev.filter(col("event_type") === "view")
          .select(col("user_id"), col("event_id").as("v_event_id"), col("ts").as("v_ts"))
        AsOfJoin.asOf(purchases, views,
          keys = Seq("user_id"), leftTime = "ts", rightTime = "v_ts",
          rightCols = Seq("v_event_id", "v_ts"), rightTiebreak = "v_event_id",
          rightPrefix = "")
          .select(
            col("event_id"), col("user_id"),
            date_format(col("ts"), tsFmtSpark).as("purchase_ts"), col("value"),
            col("v_event_id"),
            date_format(col("v_ts"), tsFmtSpark).as("view_ts"),
            (unix_micros(col("ts")) - unix_micros(col("v_ts"))).as("lag_us"))
      },
      Some(s"""SELECT p.event_id, p.user_id,
        |  strftime(p.ts, '$tsFmtDuck') AS purchase_ts, p.value,
        |  v.event_id AS v_event_id,
        |  strftime(v.ts, '$tsFmtDuck') AS view_ts,
        |  epoch_us(p.ts) - epoch_us(v.ts) AS lag_us
        |FROM (SELECT * FROM events WHERE event_type = 'purchase') p
        |ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'view') v
        |  ON p.user_id = v.user_id AND p.ts >= v.ts""".stripMargin)),

    // Per-domain cap (source mixing): top-10 docs per source by quality.
    // Output is rank/ids only; quality_score enters through the ordering,
    // whose doubles are bit-identical on both engines (proven by
    // ext_text_stats' hash match).
    Q("ext_domain_cap",
      (s, dir) => Curation.capPerDomain(Tables.documents(s, dir), maxPerDomain = 10)
        .select("doc_id", "source", "domain_rank"),
      Some("""WITH st AS (
        |  SELECT doc_id,
        |    (CASE WHEN len(string_split(text, ' ')) >= 20 THEN 1.0 ELSE 0.5 END)
        |      * (CAST(len(list_distinct(string_split(text, ' '))) AS DOUBLE)
        |         / len(string_split(text, ' '))) AS q
        |  FROM documents)
        |SELECT doc_id, source, CAST(rk AS INT) AS domain_rank FROM (
        |  SELECT d.doc_id, d.source,
        |    row_number() OVER (PARTITION BY d.source ORDER BY st.q DESC, d.doc_id) AS rk
        |  FROM documents d JOIN st ON d.doc_id = st.doc_id)
        |WHERE rk <= 10""".stripMargin)),

    // PII scrub with an audit trail. The corpus is synthetic words, so
    // deterministic fake emails/phones are injected from doc_id first
    // (varying per doc so the counts are non-vacuous), then scrubbed.
    Q("ext_text_pii_scrub",
      (s, dir) => {
        val dirty = Tables.documents(s, dir).select(
          col("doc_id"),
          concat(
            col("text"),
            when(pmod(col("doc_id"), lit(3)) =!= 0,
              concat(lit(" reach me at user"), col("doc_id").cast("string"),
                lit("@mail.example.com"))).otherwise(lit("")),
            when(pmod(col("doc_id"), lit(2)) === 0,
              concat(lit(" call +1-555-"),
                lpad(pmod(col("doc_id"), lit(10000)).cast("string"), 4, "0")))
              .otherwise(lit(""))).as("text"))
        TextAnalysis.scrubPii(dirty)
      },
      Some(s"""WITH dirty AS (
        |  SELECT doc_id, text ||
        |    (CASE WHEN doc_id % 3 <> 0
        |          THEN ' reach me at user' || doc_id || '@mail.example.com'
        |          ELSE '' END) ||
        |    (CASE WHEN doc_id % 2 = 0
        |          THEN ' call +1-555-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
        |          ELSE '' END) AS t
        |  FROM documents)
        |SELECT doc_id,
        |  CAST(len(regexp_extract_all(t, '${TextAnalysis.emailPattern}')) AS INT) AS n_emails,
        |  CAST(len(regexp_extract_all(
        |    regexp_replace(t, '${TextAnalysis.emailPattern}', '<EMAIL>', 'g'),
        |    '${TextAnalysis.phonePattern}')) AS INT) AS n_phones,
        |  regexp_replace(regexp_replace(t, '${TextAnalysis.emailPattern}', '<EMAIL>', 'g'),
        |    '${TextAnalysis.phonePattern}', '<PHONE>', 'g') AS clean_text
        |FROM dirty""".stripMargin)),

    // Deterministic global shuffle into training shards: content-hash
    // shard + dense within-shard position — the reproducible "epoch 1
    // order" op. One shuffle; each shard sorts independently.
    Q("ext_global_shuffle",
      (s, dir) => Packing.shuffleShards(
        Tables.documents(s, dir).select("doc_id", "text"), numShards = 16)
        .select("doc_id", "shard_id", "shard_pos"),
      Some("""SELECT doc_id,
        |  CAST(('0x' || substr(md5('shuffle:' || text), 1, 4)) AS INT) % 16 AS shard_id,
        |  CAST(row_number() OVER (
        |    PARTITION BY CAST(('0x' || substr(md5('shuffle:' || text), 1, 4)) AS INT) % 16
        |    ORDER BY md5('shuffle:' || text), doc_id) AS INT) AS shard_pos
        |FROM documents""".stripMargin)),

    // Greedy context-window packing on top of the shard order: running
    // word total per shard cut into 2048-token bins; bin_id/bin_offset
    // name where each doc starts.
    Q("ext_doc_pack",
      (s, dir) => Packing.pack(
        Tables.documents(s, dir).select(col("doc_id"), col("text"),
          size(split(col("text"), " ")).as("n_words")),
        contextLen = 2048, numShards = 8, sizeCol = "n_words")
        .select("doc_id", "shard_id", "shard_pos", "bin_id", "bin_offset"),
      Some("""WITH s AS (
        |  SELECT doc_id, CAST(len(string_split(text, ' ')) AS INT) AS n_words,
        |    md5('shuffle:' || text) AS h
        |  FROM documents),
        |sh AS (
        |  SELECT doc_id, n_words, h,
        |    CAST(('0x' || substr(h, 1, 4)) AS INT) % 8 AS shard_id
        |  FROM s),
        |o AS (
        |  SELECT doc_id, shard_id,
        |    CAST(row_number() OVER (PARTITION BY shard_id ORDER BY h, doc_id) AS INT) AS shard_pos,
        |    CAST(COALESCE(SUM(n_words) OVER (
        |      PARTITION BY shard_id ORDER BY h, doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS cum
        |  FROM sh)
        |SELECT doc_id, shard_id, shard_pos,
        |  CAST(cum // 2048 AS BIGINT) AS bin_id,
        |  CAST(cum % 2048 AS BIGINT) AS bin_offset
        |FROM o""".stripMargin)),

    // Text statistics + quality score.
    Q("ext_text_stats",
      (s, dir) => TextAnalysis.stats(Tables.documents(s, dir)),
      Some(s"""SELECT doc_id,
        |  CAST(length(text) AS INT) AS n_chars_calc,
        |  CAST(len(string_split(text, ' ')) AS INT) AS n_words,
        |  CAST(len(regexp_extract_all(text, '${TextAnalysis.tokenPattern}')) AS INT) AS n_tokens,
        |  CAST(len(list_distinct(string_split(text, ' '))) AS INT) AS n_distinct_words,
        |  CAST(len(list_filter(string_split(text, ' '),
        |        w -> w IN ('the','a','of','and','to','in'))) AS INT) AS n_stopwords,
        |  CAST(len(list_filter(string_split(text, ' '),
        |        w -> w IN ('the','a','of','and','to','in'))) AS DOUBLE)
        |    / len(string_split(text, ' ')) AS stopword_ratio,
        |  CAST(len(list_distinct(string_split(text, ' '))) AS DOUBLE)
        |    / len(string_split(text, ' ')) AS distinct_ratio,
        |  (CASE WHEN len(string_split(text, ' ')) >= 20 THEN 1.0 ELSE 0.5 END)
        |    * (CAST(len(list_distinct(string_split(text, ' '))) AS DOUBLE)
        |       / len(string_split(text, ' '))) AS quality_score
        |FROM documents""".stripMargin)),

    // Char-n-gram language id (argmax over signature-gram occurrence
    // counts). Oracle SQL is generated from the same profile map so the
    // two sides cannot drift.
    Q("ext_text_langid",
      (s, dir) => TextAnalysis.langId(Tables.documents(s, dir)),
      Some {
        val langs = TextAnalysis.defaultProfiles.keys.toSeq.sorted
        def scoreSql(l: String): String =
          TextAnalysis.defaultProfiles(l).map { g =>
            s"CAST((length(p) - length(replace(p, '$g', ''))) / ${g.length} AS INT)"
          }.mkString(" + ")
        val hitCols = langs.map(l => s"    ${scoreSql(l)} AS hits_$l").mkString(",\n")
        val g = s"greatest(${langs.map(l => s"hits_$l").mkString(", ")})"
        // langId's foldRight gives sorted-language priority on ties
        val cases = langs.map(l =>
          s"    WHEN hits_$l = $g AND $g > 0 THEN '$l'").mkString("\n")
        s"""WITH padded AS (SELECT doc_id, ' ' || text || ' ' AS p FROM documents),
           |h AS (
           |  SELECT doc_id,
           |$hitCols
           |  FROM padded)
           |SELECT doc_id,
           |  CASE
           |$cases
           |    ELSE 'und' END AS lang_pred,
           |  ${langs.map(l => s"hits_$l").mkString(", ")}
           |FROM h""".stripMargin
      }),

    // Normalized-content fingerprint (rolling-hash family; md5 of the
    // canonical form).
    Q("ext_text_fingerprint",
      (s, dir) => TextAnalysis.fingerprint(Tables.documents(s, dir)),
      Some("SELECT doc_id, md5(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g'))) " +
        "AS fingerprint FROM documents")),

    // Repetition signals (Gopher-style quality filters): top/duplicate
    // bigram fractions over NON-distinct word bigrams.
    Q("ext_text_repetition",
      (s, dir) => TextAnalysis.repetition(Tables.documents(s, dir)),
      Some("""WITH bi AS (
        |  SELECT doc_id, ws[i] || ' ' || ws[i+1] AS bigram
        |  FROM (SELECT doc_id, string_split(text, ' ') AS ws FROM documents
        |        WHERE len(string_split(text, ' ')) >= 2),
        |       LATERAL (SELECT unnest(range(1, len(ws))) AS i)),
        |c AS (SELECT doc_id, bigram, count(*) AS c FROM bi GROUP BY 1, 2)
        |SELECT doc_id,
        |  CAST(sum(c) AS BIGINT) AS n_bigrams,
        |  CAST(max(c) AS BIGINT) AS top_bigram_count,
        |  CAST(max(c) AS DOUBLE) / CAST(sum(c) AS BIGINT) AS top_bigram_fraction,
        |  CAST(sum(CASE WHEN c > 1 THEN c ELSE 0 END) AS DOUBLE) / CAST(sum(c) AS BIGINT)
        |    AS dup_bigram_fraction
        |FROM c GROUP BY doc_id""".stripMargin)),

    // Deterministic stratified sampling (domain mixing): content-keyed
    // per-language keep fractions — en halved, de quartered, rest kept.
    // Pure function of md5('sample:' || text): reproducible across
    // engines/re-shards and independent of the split hash.
    Q("ext_sample_stratified",
      (s, dir) => graft.ops.DatasetSplit.sampleStratified(
        Tables.documents(s, dir).select("doc_id", "lang", "text"),
        strataCol = "lang",
        fractions = Map("en" -> 0.5, "de" -> 0.25))
        .select("doc_id", "lang", "sample_bucket"),
      Some("""WITH b AS (
        |  SELECT doc_id, lang,
        |    CAST(('0x' || substr(md5('sample:' || text), 1, 4)) AS INT) AS sample_bucket
        |  FROM documents)
        |SELECT doc_id, lang, sample_bucket FROM b
        |WHERE sample_bucket < (CASE lang WHEN 'en' THEN 0.5
        |                                 WHEN 'de' THEN 0.25
        |                                 ELSE 1.0 END) * 65536""".stripMargin)),

    // Corpus n-gram frequency table: top word-bigrams with deterministic
    // tiebreak — the corpus-statistics pass every tokenizer/vocab build
    // starts from (bounded output, single shuffle on the shingle).
    Q("ext_text_top_ngrams",
      (s, dir) => {
        val sh = TextDedup.shingles(Tables.documents(s, dir), 2)
        // top-k via orderBy+limit (TakeOrdered — per-partition heaps, no
        // global single-partition sort), then rank the 20 survivors
        val top = sh.groupBy("shingle").agg(countDistinct("doc_id").as("doc_freq"))
          .orderBy(desc("doc_freq"), asc("shingle")).limit(20)
        // the global rank window here is bounded by construction (input
        // is LIMIT 20) — the single-partition execution is the point,
        // not a scale hazard; a constant partition key was tried (r20)
        // and is folded away by the optimizer, so the plain form stays
        top.withColumn("rk", row_number().over(
          org.apache.spark.sql.expressions.Window
            .orderBy(desc("doc_freq"), asc("shingle"))))
      },
      Some("""WITH sh AS (
        |  SELECT DISTINCT doc_id, ws[i] || ' ' || ws[i+1] AS shingle
        |  FROM (SELECT doc_id, string_split(text, ' ') AS ws FROM documents
        |        WHERE len(string_split(text, ' ')) >= 2),
        |       LATERAL (SELECT unnest(range(1, len(ws))) AS i))
        |SELECT shingle, doc_freq, CAST(rk AS INT) AS rk FROM (
        |  SELECT shingle, count(DISTINCT doc_id) AS doc_freq,
        |    row_number() OVER (ORDER BY count(DISTINCT doc_id) DESC, shingle) AS rk
        |  FROM sh GROUP BY shingle)
        |WHERE rk <= 20""".stripMargin)),

    // Exact corpus heavy hitters: top-20 words by TOTAL occurrences
    // (vs ext_text_top_ngrams' bigram doc-frequency) — the exact
    // baseline the Count-Min sketch below is checked against.
    Q("ext_heavy_hitters",
      (s, dir) => {
        val words = Tables.documents(s, dir)
          .select(explode(split(col("text"), " ")).as("word"))
        val top = words.groupBy("word").agg(count(lit(1)).as("n_occurrences"))
          .orderBy(desc("n_occurrences"), asc("word")).limit(20)
        // bounded global rank window (LIMIT 20) — see ext_text_top_ngrams
        top.withColumn("rk", row_number().over(
          org.apache.spark.sql.expressions.Window
            .orderBy(desc("n_occurrences"), asc("word"))))
      },
      Some("""WITH w AS (
        |  SELECT unnest(string_split(text, ' ')) AS word FROM documents)
        |SELECT word, n_occurrences, CAST(rk AS INT) AS rk FROM (
        |  SELECT word, count(*) AS n_occurrences,
        |    row_number() OVER (ORDER BY count(*) DESC, word) AS rk
        |  FROM w GROUP BY word)
        |WHERE rk <= 20""".stripMargin)),

    // Count-Min sketch frequency estimates for the exact top-10 words,
    // graduated to the oracle gate via verdict rows: DuckDB recomputes
    // the exact counts (the already-oracle-checked heavy-hitter shape)
    // and asserts the CM guarantee SketchesSpec pins — est ≥ exact
    // (one-sided error, always true) and est − exact ≤ eps·N (the
    // envelope; measured zero overcount at all three testdata scales).
    // The probe list stays a bounded 10-row driver materialization; the
    // sketch is one O(1/eps·ln(1/conf)) aggregate row.
    Q("ext_sketch_cms",
      (s, dir) => {
        val words = Tables.documents(s, dir)
          .select(explode(split(col("text"), " ")).as("word"))
        val top = words.groupBy("word").agg(count(lit(1)).as("n_exact"))
          .orderBy(desc("n_exact"), asc("word")).limit(10)
        val probes = top.select("word").collect().map(_.getString(0)).toSeq
        val est = Sketches.countMinEstimates(words, "word", probes)
        top.join(est, Seq("word"))
          .crossJoin(broadcast(words.agg(count(lit(1)).as("n_total"))))
          .select(col("word"), col("n_exact"),
            (col("est_count") >= col("n_exact")).cast("int").as("over_ok"),
            (col("est_count") - col("n_exact") <= lit(0.001) * col("n_total"))
              .cast("int").as("env_ok"))
      },
      Some("""WITH w AS (
        |  SELECT unnest(string_split(text, ' ')) AS word FROM documents)
        |SELECT word, CAST(n AS BIGINT) AS n_exact, 1 AS over_ok, 1 AS env_ok
        |FROM (
        |  SELECT word, count(*) AS n,
        |    row_number() OVER (ORDER BY count(*) DESC, word) AS rk
        |  FROM w GROUP BY word)
        |WHERE rk <= 10""".stripMargin)),

    // Mergeable HLL distinct counts: per-source sketch estimates plus
    // the global estimate assembled by UNIONING independent per-source
    // sketches. Graduated to the oracle gate via verdict rows: DuckDB
    // recomputes every exact distinct count and asserts the 5% envelope
    // (measured rel. error < 1e-4 at all three scales — DataSketches HLL
    // is in exact coupon mode at these cardinalities) and the merge
    // identity (sharded union == one-pass global sketch, the property
    // that lets shards be built days or machines apart).
    Q("ext_sketch_hll",
      (s, dir) => {
        val words = Tables.documents(s, dir).select(
          col("source"), explode(split(col("text"), " ")).as("word"))
        val perSrc = words.groupBy("source")
          .agg(countDistinct("word").as("n_exact"))
          .join(Sketches.hllDistinctByGroup(words, "source", "word"), Seq("source"))
          .select(col("source"), col("n_exact"),
            (abs(col("approx_distinct") - col("n_exact"))
              <= lit(0.05) * col("n_exact")).cast("int").as("env_ok"),
            lit(1).as("merge_ok"))
        val globalRow = words.agg(countDistinct("word").as("n_exact"))
          .crossJoin(Sketches.hllShardedDistinct(words, "source", "word")
            .select(col("approx_distinct").as("sharded")))
          .crossJoin(Sketches.hllDistinctByGroup(
            words.withColumn("g", lit("(global)")), "g", "word")
            .select(col("approx_distinct").as("onepass")))
          .select(lit("(global)").as("source"), col("n_exact"),
            (abs(col("sharded") - col("n_exact"))
              <= lit(0.05) * col("n_exact")).cast("int").as("env_ok"),
            (col("sharded") === col("onepass")).cast("int").as("merge_ok"))
        perSrc.unionByName(globalRow)
      },
      Some("""WITH w AS (
        |  SELECT source, unnest(string_split(text, ' ')) AS word
        |  FROM documents)
        |SELECT source, CAST(count(DISTINCT word) AS BIGINT) AS n_exact,
        |  1 AS env_ok, 1 AS merge_ok
        |FROM w GROUP BY source
        |UNION ALL
        |SELECT '(global)', CAST(count(DISTINCT word) AS BIGINT), 1, 1
        |FROM w""".stripMargin)),

    // Exact pairwise audience overlap between event types — the "how
    // many users did both X and Y" question, exact form: one distinct
    // (type, user) projection self-joined on user, counted per pair.
    Q("ext_user_overlap",
      (s, dir) => {
        val tu = Tables.events(s, dir)
          .select(col("event_type"), col("user_id")).distinct()
        tu.toDF("g1", "user_id")
          .join(tu.toDF("g2", "user_id"), Seq("user_id"))
          .filter(col("g1") < col("g2"))
          .groupBy("g1", "g2")
          .agg(count(lit(1)).as("n_common"))
      },
      Some("""WITH tu AS (SELECT DISTINCT event_type, user_id FROM events)
        |SELECT a.event_type AS g1, b.event_type AS g2, count(*) AS n_common
        |FROM tu a JOIN tu b ON a.user_id = b.user_id AND a.event_type < b.event_type
        |GROUP BY 1, 2""".stripMargin)),

    // KMV/theta-sketch audience overlap: intersection/union/Jaccard
    // estimates between every two event types' user sets. At this corpus
    // scale the k=4096 sketches are NOT FULL, so every estimate is exact
    // by construction (θ = 1, the sample is the whole hashed universe) —
    // which is what makes this oracle-checkable at BOTH verify scales;
    // SketchesSpec pins the approximate regime (30k-distinct groups,
    // k=256) against exact replays, plus the shard-merge identity.
    Q("ext_sketch_theta",
      (s, dir) => {
        val k = 4096
        val sk = Sketches.kmvSketches(
          Tables.events(s, dir).select(col("event_type"), col("user_id")),
          "event_type", "user_id", k)
        Sketches.kmvOverlap(sk, "event_type")
      },
      // All g1 < g2 pairs are generated from the cardinality table (not
      // from the intersection join) so a pair of DISJOINT audiences still
      // yields its est_intersection = 0 row, matching kmvOverlap's output
      // shape on any corpus — the inner-join form was green only because
      // every event-type pair in this corpus happens to overlap.
      Some("""WITH tu AS (SELECT DISTINCT event_type, user_id FROM events),
        |inter AS (
        |  SELECT a.event_type AS g1, b.event_type AS g2, count(*) AS ni
        |  FROM tu a JOIN tu b ON a.user_id = b.user_id AND a.event_type < b.event_type
        |  GROUP BY 1, 2),
        |card AS (SELECT event_type, count(*) AS n FROM tu GROUP BY 1)
        |SELECT ca.event_type AS g1, cb.event_type AS g2,
        |  round(CAST(coalesce(i.ni, 0) AS DOUBLE), 3) AS est_intersection,
        |  round(CAST(ca.n + cb.n - coalesce(i.ni, 0) AS DOUBLE), 3) AS est_union,
        |  round(CAST(coalesce(i.ni, 0) AS DOUBLE)
        |        / (ca.n + cb.n - coalesce(i.ni, 0)), 6) AS est_jaccard
        |FROM card ca
        |JOIN card cb ON ca.event_type < cb.event_type
        |LEFT JOIN inter i ON i.g1 = ca.event_type AND i.g2 = cb.event_type""".stripMargin)),

    // JSON extraction from the events props column: path extraction as
    // string and schema-full parse to a typed value.
    Q("ext_json_extract",
      (s, dir) => Tables.events(s, dir)
        .select(
          col("event_id"),
          get_json_object(col("props"), "$.k").as("k_str"),
          from_json(col("props"), org.apache.spark.sql.types.StructType(Seq(
            org.apache.spark.sql.types.StructField("k",
              org.apache.spark.sql.types.IntegerType)))).getField("k").as("k_int")),
      Some("""SELECT event_id, json_extract_string(props, '$.k') AS k_str,
        |  CAST(json_extract_string(props, '$.k') AS INT) AS k_int
        |FROM events""".stripMargin)),

    // The VARIANT path for the same semi-structured column: parse the
    // JSON string ONCE into the engine's binary variant encoding, then
    // extract typed paths from the encoded form — at 100 TB this is the
    // semi-structured scale shape (one parse amortized over every
    // extraction, and a variant column in parquet shreds/pushes down
    // where a JSON string is an opaque blob the engine re-parses per
    // get_json_object, cf. ext_json_extract). try_variant_get on a
    // missing path is the null-not-error contract.
    Q("ext_json_variant",
      (s, dir) => Tables.events(s, dir)
        .select(col("event_id"), parse_json(col("props")).as("v"))
        .select(
          col("event_id"),
          variant_get(col("v"), "$.k", "int").as("k_int"),
          variant_get(col("v"), "$.k", "string").as("k_str"),
          try_variant_get(col("v"), "$.missing", "int").as("m_int"),
          schema_of_variant(col("v")).as("v_schema")),
      Some("""SELECT event_id,
        |  CAST(json_extract_string(props, '$.k') AS INT) AS k_int,
        |  json_extract_string(props, '$.k') AS k_str,
        |  CAST(NULL AS INT) AS m_int,
        |  'OBJECT<k: BIGINT>' AS v_schema
        |FROM events""".stripMargin)),

    // Multimodal metadata decode over a binary payload column (stubbed
    // decoder, real mapPartitions plumbing; metadata is a pure function of
    // payload size so the oracle can mirror it).
    Q("ext_multimodal_meta",
      (s, dir) => Multimodal.decodeMeta(s, Tables.documents(s, dir)).toDF(),
      Some("""SELECT doc_id, CAST(strlen(text) AS BIGINT) AS n_bytes,
        |  CAST(64 + strlen(text) % 577 AS INT) AS width,
        |  CAST(64 + (strlen(text) * 31) % 353 AS INT) AS height,
        |  CAST(1 + strlen(text) % 7 AS INT) AS n_frames
        |FROM documents""".stripMargin)),

    // REAL container-header decode (Multimodal.parseImageHeader): the
    // seeded media fixture carries genuine minimal PNG/JPEG/GIF/BMP
    // headers plus deliberately-malformed payloads, and stores the
    // GENERATOR's ground-truth dims alongside the bytes. The engine must
    // re-derive fmt/width/height from the payload alone — the oracle
    // just reads the ground-truth columns back, so a hash match proves
    // the byte-level parse (including the JPEG segment walk past
    // APP0/COM and every malformed-header rejection row) end-to-end.
    Q("ext_multimodal_real_meta",
      (s, _) => {
        graft.fixtures.Fixtures.ensureMedia(s)
        Multimodal.decodeImageMeta(
          s, s.read.parquet(graft.fixtures.Fixtures.mediaParquet)).toDF()
      },
      Some(s"""SELECT media_id, exp_fmt AS fmt, exp_width AS width,
        |  exp_height AS height,
        |  CAST(octet_length(payload) AS BIGINT) AS n_bytes,
        |  CAST(valid AS INT) AS ok
        |FROM read_parquet('${graft.fixtures.Fixtures.mediaParquetGlob}')""".stripMargin)),

    // Format-distribution audit over the REAL header decode — the first
    // report any crawled-media ingest produces (what formats arrived, at
    // what dimensions, how much was rejected). The engine aggregates its
    // own byte-level parses; the oracle aggregates the generator's
    // ground truth — a hash match proves the decode THROUGH the
    // aggregation. Integral sums, not averages, keep the compare
    // bit-exact.
    Q("ext_multimodal_format_stats",
      (s, _) => {
        graft.fixtures.Fixtures.ensureMedia(s)
        Multimodal.decodeImageMeta(
          s, s.read.parquet(graft.fixtures.Fixtures.mediaParquet)).toDF()
          .groupBy("fmt").agg(
            count(lit(1)).as("n_media"),
            coalesce(sum("width"), lit(0)).cast("long").as("sum_width"),
            coalesce(sum("height"), lit(0)).cast("long").as("sum_height"),
            sum("n_bytes").cast("long").as("sum_bytes"))
      },
      Some(s"""SELECT exp_fmt AS fmt, count(*) AS n_media,
        |  CAST(COALESCE(sum(exp_width), 0) AS BIGINT) AS sum_width,
        |  CAST(COALESCE(sum(exp_height), 0) AS BIGINT) AS sum_height,
        |  CAST(sum(octet_length(payload)) AS BIGINT) AS sum_bytes
        |FROM read_parquet('${graft.fixtures.Fixtures.mediaParquetGlob}')
        |GROUP BY 1""".stripMargin)),

    // Frame sampling: 1 payload row → n_frames binary rows (keyframe-
    // extraction shape); frame lengths are a pure function of payload size
    // so the oracle mirrors the chunking arithmetic.
    Q("ext_multimodal_frames",
      (s, dir) => Multimodal.sampleFrames(s, Tables.documents(s, dir))
        .toDF().select("doc_id", "frame_idx", "frame_len"),
      Some("""WITH m AS (
        |  SELECT doc_id, strlen(text) AS n, CAST(1 + strlen(text) % 7 AS INT) AS nf
        |  FROM documents),
        |f AS (
        |  SELECT doc_id, n, nf, CAST((n + nf - 1) // nf AS INT) AS sz,
        |    CAST(unnest(range(0, nf)) AS INT) AS frame_idx
        |  FROM m)
        |SELECT doc_id, frame_idx,
        |  CAST(least((frame_idx + 1) * sz, n) - least(frame_idx * sz, n) AS INT) AS frame_len
        |FROM f""".stripMargin)),

    // Feature extraction: 16-dim normalized byte-histogram "embedding"
    // per payload, exploded to (doc_id, dim, value) rows. The histogram is
    // a pure function of the payload bytes (here: ASCII text), so DuckDB
    // mirrors it per-character; both sides divide float/float so the
    // IEEE-single quotients agree bitwise.
    Q("ext_multimodal_features",
      (s, dir) => Multimodal.extractFeatures(s, Tables.documents(s, dir))
        .toDF()
        .select(col("doc_id"), posexplode(col("features")).as(Seq("dim", "value"))),
      Some("""WITH n AS (SELECT doc_id, text, strlen(text) AS n FROM documents),
        |b AS (
        |  SELECT doc_id, ord(text[i]) % 16 AS dim
        |  FROM n, LATERAL (SELECT unnest(range(1, CAST(n AS INT) + 1)) AS i)),
        |h AS (SELECT doc_id, dim, count(*) AS cnt FROM b GROUP BY 1, 2),
        |d AS (SELECT CAST(unnest(range(0, 16)) AS INT) AS dim)
        |SELECT n.doc_id, d.dim,
        |  CAST(COALESCE(h.cnt, 0) AS REAL) / CAST(greatest(n.n, 1) AS REAL) AS value
        |FROM n CROSS JOIN d
        |LEFT JOIN h ON h.doc_id = n.doc_id AND h.dim = d.dim""".stripMargin)),

    // Resize: target dims + deterministic subsample length (the stub's
    // output size is a pure function of payload size, mirrored in SQL).
    Q("ext_multimodal_resize",
      (s, dir) => Multimodal.resize(s, Tables.documents(s, dir), targetW = 224, targetH = 224)
        .toDF()
        .select(col("doc_id"), col("width"), col("height"), col("n_bytes"),
          org.apache.spark.sql.functions.length(col("resized")).as("resized_len")),
      Some("""WITH m AS (SELECT doc_id, strlen(text) AS n FROM documents),
        |s AS (SELECT doc_id, n,
        |  greatest(1, least(n, (224 * 224) // 256)) AS out_len FROM m),
        |st AS (SELECT doc_id, n, out_len, greatest(1, n // out_len) AS stride FROM s)
        |SELECT doc_id, CAST(224 AS INT) AS width, CAST(224 AS INT) AS height,
        |  CAST(n AS BIGINT) AS n_bytes,
        |  CAST(least(out_len, (n + stride - 1) // stride) AS INT) AS resized_len
        |FROM st""".stripMargin)),

    // REAL pixel statistics (round-18: Multimodal.decodePixels — BMP
    // pixel arrays and PNG Inflater+unfilter, pure JDK): integer
    // channel/luma sums per image. The generator computed the same sums
    // from the raw pixels BEFORE encoding them, so a hash match proves
    // container walk + zlib + all five scanline unfilters + BGR/row
    // order handling end to end. Rows with no pure-JVM pixel path
    // (every other format, plus a header-valid PNG with corrupt IDAT)
    // are typed px_ok = 0 rejections on BOTH sides.
    Q("ext_multimodal_pixel_stats",
      (s, _) => {
        graft.fixtures.Fixtures.ensureMedia(s)
        Multimodal.pixelStats(
          s, s.read.parquet(graft.fixtures.Fixtures.mediaParquet)).toDF()
      },
      Some(s"""SELECT media_id, CAST(px_ok AS INT) AS px_ok,
        |  px_n AS n_px, px_sum_r AS sum_r, px_sum_g AS sum_g,
        |  px_sum_b AS sum_b, px_sum_luma AS sum_luma
        |FROM read_parquet('${graft.fixtures.Fixtures.mediaParquetGlob}')""".stripMargin)),

    // Pixel-true features through the SAME extractFeatures entry point
    // the stub tier uses (the dispatch is the operator): 16-bin luma
    // histogram normalized by pixel count, float32 division on both
    // sides (exact-integer operands -> bitwise-equal quotients).
    Q("ext_multimodal_pixel_features",
      (s, _) => {
        graft.fixtures.Fixtures.ensureMedia(s)
        Multimodal.extractFeatures(
          s, s.read.parquet(graft.fixtures.Fixtures.mediaParquet),
          idCol = "media_id", payloadCol = "payload")
          .toDF().filter(col("pixel_true") === 1)
          .select(col("doc_id").as("media_id"),
            posexplode(col("features")).as(Seq("dim", "value")))
      },
      Some(s"""SELECT media_id, CAST(i AS INT) AS dim,
        |  CAST(px_luma_hist[CAST(i AS INT) + 1] AS REAL)
        |    / CAST(px_n AS REAL) AS value
        |FROM read_parquet('${graft.fixtures.Fixtures.mediaParquetGlob}'),
        |  LATERAL (SELECT unnest(range(0, 16)) AS i)
        |WHERE px_ok = 1""".stripMargin)),

    // REAL resize: integer 8x8 box resample of the decoded pixels
    // (Multimodal.boxResample — floor-mean boxes, no floats), proven by
    // the resampled buffer's byte checksum against the generator's
    // mirrored arithmetic over the raw pixel array.
    Q("ext_multimodal_pixel_resize",
      (s, _) => {
        graft.fixtures.Fixtures.ensureMedia(s)
        Multimodal.resizePixels(
          s, s.read.parquet(graft.fixtures.Fixtures.mediaParquet),
          targetW = 8, targetH = 8).toDF()
          .select("media_id", "px_ok", "out_w", "out_h", "checksum")
      },
      Some(s"""SELECT media_id, CAST(px_ok AS INT) AS px_ok,
        |  rz_w AS out_w, rz_h AS out_h, rz_checksum AS checksum
        |FROM read_parquet('${graft.fixtures.Fixtures.mediaParquetGlob}')""".stripMargin)),

    // Corpus-relative term weighting (TF-IDF + BM25) per observed
    // (doc, term): three bounded shuffles + a broadcast corpus aggregate;
    // scores rounded to 6 dp on BOTH sides so libm ln() ulp differences
    // cannot reach a rounding boundary.
    Q("ext_text_bm25",
      (s, dir) => TextAnalysis.termWeights(Tables.documents(s, dir))
        .select(col("doc_id"), col("term"), col("tf"), col("df"), col("dl"),
          round(col("tfidf"), 6).as("tfidf"), round(col("bm25"), 6).as("bm25")),
      Some("""WITH toks AS (
        |  SELECT doc_id, t AS term
        |  FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS t FROM documents)
        |  WHERE len(t) > 0),
        |tf AS (SELECT doc_id, term, count(*) AS tf FROM toks GROUP BY 1, 2),
        |dl AS (SELECT doc_id, CAST(sum(tf) AS BIGINT) AS dl FROM tf GROUP BY 1),
        |dft AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
        |c AS (SELECT count(*) AS n_docs, CAST(sum(dl) AS BIGINT) AS total_tokens FROM dl)
        |SELECT tf.doc_id, tf.term, tf.tf, dft.df, dl.dl,
        |  round(tf.tf * ln(1.0 + CAST(n_docs AS DOUBLE) / dft.df), 6) AS tfidf,
        |  round(ln(1.0 + (CAST(n_docs AS DOUBLE) - dft.df + 0.5) / (dft.df + 0.5))
        |        * (tf.tf * 2.2)
        |        / (tf.tf + 1.2 * (1.0 - 0.75 + 0.75 * dl.dl
        |             / (CAST(total_tokens AS DOUBLE) / n_docs))), 6) AS bm25
        |FROM tf
        |JOIN dl USING (doc_id)
        |JOIN dft USING (term)
        |CROSS JOIN c""".stripMargin)),

    // Mixture resampling to target token shares (training-mix assembly):
    // src0 upsampled ~3.8x, src1 ~1.9x, src2 downsampled ~0.95x, every
    // other domain dropped. Copies are content-keyed (md5), so the
    // materialized mix is reproducible across engines and reshards.
    Q("ext_mixture_resample",
      (s, dir) => Curation.resampleToMixture(
        Tables.documents(s, dir).select("doc_id", "source", "text"),
        shares = Map("src0" -> 0.2, "src1" -> 0.1, "src2" -> 0.05))
        .select("doc_id", "source", "n_tok", "n_copies", "copy"),
      Some("""WITH t AS (
        |  SELECT doc_id, source, text,
        |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok
        |  FROM documents),
        |d AS (SELECT source, CAST(sum(n_tok) AS BIGINT) AS dom_tokens
        |      FROM t GROUP BY 1),
        |c AS (SELECT CAST(sum(n_tok) AS BIGINT) AS total_tokens FROM t),
        |sc AS (
        |  SELECT t.doc_id, t.source, t.n_tok, t.text,
        |    (CASE t.source WHEN 'src0' THEN CAST(0.2 AS DOUBLE)
        |                   WHEN 'src1' THEN CAST(0.1 AS DOUBLE)
        |                   WHEN 'src2' THEN CAST(0.05 AS DOUBLE)
        |                   ELSE CAST(0.0 AS DOUBLE) END)
        |      * CAST(total_tokens AS DOUBLE) / dom_tokens AS scale
        |  FROM t JOIN d USING (source) CROSS JOIN c),
        |e AS (
        |  SELECT doc_id, source, n_tok,
        |    CAST(floor(scale) AS INT) +
        |    (CASE WHEN CAST(('0x' || substr(md5('mix:' || text), 1, 4)) AS INT)
        |               < (scale - floor(scale)) * 65536
        |          THEN 1 ELSE 0 END) AS n_copies
        |  FROM sc)
        |SELECT doc_id, source, n_tok, n_copies, CAST(i AS INT) AS copy
        |FROM e, LATERAL (SELECT unnest(range(0, n_copies)) AS i)
        |WHERE n_copies > 0""".stripMargin)),

    // Blocklist filtering: broadcast ANTI join on a domain blocklist plus
    // a codegen'd regex-rule disjunction — the cheap removal stage that
    // runs before dedup/curation ever pays for a doc.
    Q("ext_block_filter",
      (s, dir) => {
        import s.implicits._
        val blocked = Seq("src1", "src4").toDF("source")
        Curation.blockFilter(Tables.documents(s, dir), blocked,
          blockedPatterns = Seq("slow +small"))
          .select("doc_id", "source")
      },
      Some("""SELECT doc_id, source FROM documents
        |WHERE source NOT IN ('src1', 'src4')
        |  AND NOT coalesce(regexp_matches(text, 'slow +small'), false)""".stripMargin)),

    // DSIR importance weights (Xie et al. 2023): score every document by
    // how much more likely its bigram bag is under the English-subset
    // target model than under the whole-corpus raw model, Laplace α=1
    // over the shared (union) vocabulary. Exact string features here so
    // DuckDB can reproduce the weights bit-for-bit (6-dp rule); the
    // hashed-bucket scale variant (bounded model table, broadcast join)
    // is rank-pinned against this in CurationSpec.
    Q("ext_dsir_weights",
      (s, dir) => {
        val docs = Tables.documents(s, dir)
        Curation.importanceWeights(
          docs, docs.filter(col("lang") === "en"), n = 2, buckets = None)
      },
      Some("""WITH toks AS (
        |  SELECT doc_id, list_filter(string_split(text, ' '), w -> len(w) > 0) AS ws
        |  FROM documents),
        |feats AS (
        |  SELECT doc_id, ws[i] || ' ' || ws[i+1] AS feat
        |  FROM (SELECT doc_id, ws FROM toks WHERE len(ws) >= 2),
        |       LATERAL (SELECT unnest(range(1, len(ws))) AS i)),
        |tf AS (SELECT doc_id, feat, count(*) AS tf FROM feats GROUP BY 1, 2),
        |cfr AS (SELECT feat, sum(tf) AS cfr FROM tf GROUP BY 1),
        |cft AS (SELECT feat, sum(tf) AS cft FROM tf
        |        JOIN documents USING (doc_id) WHERE lang = 'en' GROUP BY 1),
        |model AS (
        |  SELECT cfr.feat, cfr.cfr, coalesce(cft.cft, 0) AS cft
        |  FROM cfr LEFT JOIN cft USING (feat)),
        |corpus AS (
        |  SELECT count(*) AS v, sum(cfr) AS nr, sum(cft) AS nt FROM model)
        |SELECT tf.doc_id, CAST(sum(tf.tf) AS BIGINT) AS n_feats,
        |  round(sum(tf.tf * (ln((cft + 1.0) / (CAST(nt AS DOUBLE) + v))
        |                   - ln((cfr + 1.0) / (CAST(nr AS DOUBLE) + v)))), 6)
        |    AS log_w,
        |  round(sum(tf.tf * (ln((cft + 1.0) / (CAST(nt AS DOUBLE) + v))
        |                   - ln((cfr + 1.0) / (CAST(nr AS DOUBLE) + v))))
        |        / sum(tf.tf), 6) AS avg_log_ratio
        |FROM tf JOIN model USING (feat) CROSS JOIN corpus
        |GROUP BY tf.doc_id""".stripMargin)),

    // The resampling half of DSIR: Gumbel-top-k draw of 50 docs without
    // replacement, probability ∝ exp(log_w), under the hashed-bucket
    // (scale) weight model. The Gumbel perturbation is a seeded xxhash64
    // of the doc id — deterministic but not DuckDB-portable — so the
    // verdict emits what IS checkable: exactly k docs drawn, and the
    // selected set's mean log-importance-weight above the corpus mean
    // (importance resampling must up-weight target-like docs; measured
    // margin 3.8 / 3.3 / 0.17 nats at sf0.001/0.01/0.1). CurationSpec
    // still pins the draw against a closed-form re-computation.
    Q("ext_dsir_select",
      (s, dir) => {
        val docs = Tables.documents(s, dir)
        val target = docs.filter(col("lang") === "en")
        // ONE weight pipeline for both consumers (r20): the draw and the
        // corpus average share one importanceWeights build.
        // localCheckpoint because the per-doc weight table feeds two
        // separate aggregations.
        val w = Curation.importanceWeights(docs, target, buckets = Some(4096))
          .select(col("doc_id"), col("log_w"))
          .localCheckpoint()
        val sel = Curation.dsirSelectFromWeights(docs, w, k = 50)
        sel.agg(count(lit(1)).as("n_selected"),
            avg("log_w").as("sel_avg"))
          .crossJoin(w.agg(avg("log_w").as("corpus_avg")))
          .select(col("n_selected"),
            (col("sel_avg") > col("corpus_avg")).cast("int").as("upweight_ok"))
      },
      Some("""SELECT CAST(least(50, (SELECT count(*) FROM documents)) AS BIGINT)
        |  AS n_selected, 1 AS upweight_ok""".stripMargin)),

    // Trained model-based quality filter (CCNet/LLaMA-style fastText-ish
    // classifier): hashed-TF features + distributed logistic regression,
    // trained on a deterministic labeled sample (every 5th doc), scored
    // map-only over the whole corpus. The label is token-separable —
    // "document mentions 'spark'" — which BOTH engines can compute
    // exactly, so the verdict is oracle-gated end-to-end: DuckDB
    // recomputes the corpus size and asserts corpus-wide accuracy ≥ 0.9
    // (a hashed-TF LR must recover a single-token concept up to hash
    // collisions; measured 0.958 / 0.993 at sf0.01/0.1), well-formed
    // probabilities, and prediction/probability consistency at the 0.5
    // boundary. The learned weights themselves stay non-portable;
    // QualityModelSpec pins the exchange-free scoring plan.
    Q("ext_quality_model",
      (s, dir) => {
        val docs = Tables.documents(s, dir)
        val isTarget = array_contains(split(col("text"), " "), "spark")
        val labeled = docs.filter(col("doc_id") % 5 === 0)
          .withColumn("label", isTarget.cast("double"))
        QualityModel.score(docs, QualityModel.train(labeled))
          .agg(count(lit(1)).as("n_scored"),
            avg((col("quality_pred") === isTarget.cast("double")).cast("double"))
              .as("acc"),
            min((col("quality_prob") >= 0.0 && col("quality_prob") <= 1.0)
              .cast("int")).as("probs_valid"),
            min((col("quality_pred") === (col("quality_prob") >= 0.5)
              .cast("double")).cast("int")).as("pred_consistent"))
          .select(col("n_scored"), (col("acc") >= 0.9).cast("int").as("acc_ok"),
            col("probs_valid"), col("pred_consistent"))
      },
      Some("""SELECT CAST(count(*) AS BIGINT) AS n_scored, 1 AS acc_ok,
        |  1 AS probs_valid, 1 AS pred_consistent
        |FROM documents""".stripMargin)),

    // Sliding-window chunking (training / retrieval context prep):
    // 64-token windows advancing by 32 — map-only, no shuffle; the last
    // chunk per doc is the (shorter) tail.
    Q("ext_doc_chunk",
      (s, dir) => Packing.chunk(
        Tables.documents(s, dir).select("doc_id", "text"),
        windowLen = 64, stride = 32)
        .select("doc_id", "chunk_idx", "chunk_text", "n_chunk_tokens"),
      Some("""WITH w AS (
        |  SELECT doc_id, string_split(text, ' ') AS ws,
        |    len(string_split(text, ' ')) AS n
        |  FROM documents),
        |c AS (
        |  SELECT doc_id, ws,
        |    CASE WHEN n <= 64 THEN 1
        |         ELSE CAST(ceil(CAST(n - 64 AS DOUBLE) / 32) AS INT) + 1 END
        |      AS n_chunks
        |  FROM w)
        |SELECT doc_id, CAST(i AS INT) AS chunk_idx,
        |  array_to_string(ws[CAST(i * 32 + 1 AS INT) : CAST(i * 32 + 64 AS INT)], ' ')
        |    AS chunk_text,
        |  CAST(len(ws[CAST(i * 32 + 1 AS INT) : CAST(i * 32 + 64 AS INT)]) AS INT)
        |    AS n_chunk_tokens
        |FROM c, LATERAL (SELECT unnest(range(0, n_chunks)) AS i)""".stripMargin)),

    // Unigram-LM perplexity scoring (CCNet-style filter signal): Laplace-
    // smoothed in-corpus word probabilities, per-doc token-weighted mean
    // log-prob and perplexity. 6-dp rounding both sides (bm25 rule);
    // perplexity = exp of the ROUNDED average so both engines
    // exponentiate the identical double.
    Q("ext_text_perplexity",
      (s, dir) => TextAnalysis.unigramLogProb(Tables.documents(s, dir), alpha = 1.0),
      Some("""WITH toks AS (
        |  SELECT doc_id, t AS term FROM (
        |    SELECT doc_id, unnest(string_split(text, ' ')) AS t FROM documents)
        |  WHERE len(t) > 0),
        |tf AS (
        |  SELECT doc_id, term, count(*) AS tf FROM toks GROUP BY doc_id, term),
        |cf AS (SELECT term, sum(tf) AS cf FROM tf GROUP BY term),
        |corpus AS (SELECT sum(cf) AS nct, count(*) AS v FROM cf),
        |agg AS (
        |  SELECT tf.doc_id,
        |    CAST(sum(tf.tf) AS BIGINT) AS n_tokens,
        |    round(sum(tf.tf * ln((cf.cf + 1.0) / (corpus.nct + 1.0 * corpus.v)))
        |      / sum(tf.tf), 6) AS avg_logprob
        |  FROM tf JOIN cf USING (term) CROSS JOIN corpus
        |  GROUP BY tf.doc_id)
        |SELECT doc_id, n_tokens, avg_logprob,
        |  round(exp(-avg_logprob), 6) AS perplexity
        |FROM agg""".stripMargin)),

    // Vocabulary induction: frequency table + rank-assigned token ids
    // (ties alphabetic — a pure function of the corpus).
    Q("ext_build_vocab",
      (s, dir) => TextAnalysis.buildVocab(Tables.documents(s, dir),
        minCount = 2L, maxSize = 1 << 16),
      Some("""WITH cf AS (
        |  SELECT t AS term, count(*) AS cf FROM (
        |    SELECT unnest(string_split(text, ' ')) AS t FROM documents)
        |  WHERE len(t) > 0 GROUP BY t HAVING count(*) >= 2),
        |r AS (
        |  SELECT term, cf,
        |    CAST(row_number() OVER (ORDER BY cf DESC, term) - 1 AS BIGINT)
        |      AS token_id
        |  FROM cf)
        |SELECT term, cf, token_id FROM r WHERE token_id < 65536""".stripMargin)),

    // Unicode NFC normalization via the custom codegen `normalize_text`
    // Expression: each doc gets a DECOMPOSED "e + U+0301" suffix so the
    // normalization provably fires on every row (changed = 1), and the
    // md5 of the composed result must match DuckDB's utf8proc NFC.
    Q("ext_text_normalize",
      (s, dir) => {
        // suffix is DECOMPOSED on purpose (e + combining U+0301): NFC
        // composes it, so normalization provably fires on every row
        val raw = concat(col("text"), lit(" cafe\u0301"))
        val norm = graft.core.GraftExtensions.normalizeText(s, raw, "NFC")
        Tables.documents(s, dir).select(col("doc_id"),
          md5(norm).as("nfc_md5"),
          (norm =!= raw).cast("int").as("changed"))
      },
      Some("""SELECT doc_id,
        |  md5(nfc_normalize(text || ' cafe' || chr(769))) AS nfc_md5,
        |  CAST(CASE WHEN nfc_normalize(text || ' cafe' || chr(769))
        |            != (text || ' cafe' || chr(769))
        |       THEN 1 ELSE 0 END AS INT) AS changed
        |FROM documents""".stripMargin)),

    // TextRank: PageRank over the word co-occurrence (bigram) graph —
    // keyword centrality. Fixed 10 power iterations; the oracle unrolls
    // the identical iteration as 10 chained CTEs (recursive CTEs cannot
    // aggregate per step).
    Q("ext_textrank",
      (s, dir) => {
        val pairs = wordBigramEdges(s, dir)
          .groupBy("src", "dst").agg(count(lit(1)).cast("double").as("weight"))
        Graph.pageRank(pairs, iters = 10, damping = 0.85)
          .select(col("node").as("term"), round(col("r"), 6).as("rank"))
          .orderBy(desc("rank"), asc("term")).limit(20)
      },
      Some(textrankOracle(10))),

    // Personalized PageRank over the bigram graph: proximity to a seed
    // set (the two lexicographically-smallest terms — a bounded 2-row
    // driver action, the CMS-probe-list precedent). The oracle unrolls
    // the identical iteration with the personalized teleport vector.
    Q("ext_textrank_ppr",
      (s, dir) => {
        val pairs = wordBigramEdges(s, dir)
          .groupBy("src", "dst").agg(count(lit(1)).cast("double").as("weight"))
        val seeds = pairs.select(col("src").as("node"))
          .union(pairs.select(col("dst").as("node")))
          .distinct().orderBy(asc("node")).limit(2)
          .collect().map(_.getString(0)).toSeq
        Graph.personalizedPageRank(pairs, sources = seeds, iters = 10)
          .select(col("node").as("term"), round(col("r"), 6).as("rank"))
          .orderBy(desc("rank"), asc("term")).limit(20)
      },
      Some(pprOracle(10))),

    // Triangle counts over the same word co-occurrence graph: local
    // clustering signal per term. ops/Graph orients every edge from its
    // lower-(degree, id) endpoint, so the wedge join is O(m^1.5) even
    // with hub nodes; the oracle counts the identical triangle set via
    // the naive a<b<c three-way self-join (orientation changes the
    // algorithm's cost, never the triangle set).
    Q("ext_graph_triangles",
      (s, dir) => Graph.triangleCounts(wordBigramEdges(s, dir))
        .withColumn("lcc",
          when(col("deg") >= 2, round(
            col("triangles") * lit(2.0) / (col("deg") * (col("deg") - lit(1))),
            6)))
        .orderBy(desc("triangles"), asc("node")),
      Some("""WITH p AS (
        |  SELECT ws[i + 1] AS w1, ws[i + 2] AS w2
        |  FROM (SELECT string_split(text, ' ') AS ws FROM documents
        |        WHERE len(string_split(text, ' ')) >= 2),
        |       LATERAL (SELECT unnest(range(0, len(ws) - 1)) AS i)
        |  WHERE length(ws[i + 1]) > 0 AND length(ws[i + 2]) > 0),
        |e AS MATERIALIZED (
        |  SELECT DISTINCT least(w1, w2) AS a, greatest(w1, w2) AS b
        |  FROM p WHERE w1 <> w2),
        |deg AS (
        |  SELECT node, count(*) AS deg FROM (
        |    SELECT a AS node FROM e UNION ALL SELECT b AS node FROM e)
        |  GROUP BY 1),
        |t AS (
        |  SELECT e1.a AS x, e1.b AS y, e2.b AS z
        |  FROM e e1 JOIN e e2 ON e2.a = e1.b
        |  JOIN e e3 ON e3.a = e1.a AND e3.b = e2.b),
        |n AS (SELECT x AS node FROM t
        |      UNION ALL SELECT y FROM t
        |      UNION ALL SELECT z FROM t),
        |c AS (SELECT node, count(*) AS c FROM n GROUP BY 1)
        |SELECT d.node, CAST(d.deg AS BIGINT) AS deg,
        |  CAST(COALESCE(c.c, 0) AS BIGINT) AS triangles,
        |  CASE WHEN d.deg >= 2 THEN
        |    round(COALESCE(c.c, 0) * 2.0 / (d.deg * (d.deg - 1)), 6) END AS lcc
        |FROM deg d LEFT JOIN c USING (node)
        |ORDER BY triangles DESC, node""".stripMargin)),

    // k-core of the bigram graph: iterative peel to the fixpoint. The
    // data-dependent round count IS recursive-CTE-expressible after all:
    // each recursion row carries the ENTIRE survivor set as one LIST, so
    // no aggregate over the recursive table is needed — each round is a
    // correlated degree count against the static edge table, and the
    // recursion stops when the list reaches its fixpoint (the emitted
    // row whose successor equals it). Deg = in-core degree, like Spark's
    // final degrees() over the peeled edge set; equivalent because the
    // survivor set shrinks monotonically, so an edge whose endpoints are
    // both in the final set was never removed. (Trust chain kept:
    // GraphSpec's reference-peel replay incl. cascading deletions.)
    Q("ext_graph_kcore",
      (s, dir) => Graph.kCore(wordBigramEdges(s, dir), k = 20)
        .orderBy(desc("deg"), asc("node")),
      Some("""WITH RECURSIVE p AS (
        |  SELECT ws[i + 1] AS w1, ws[i + 2] AS w2
        |  FROM (SELECT string_split(text, ' ') AS ws FROM documents
        |        WHERE len(string_split(text, ' ')) >= 2),
        |       LATERAL (SELECT unnest(range(0, len(ws) - 1)) AS i)
        |  WHERE length(ws[i + 1]) > 0 AND length(ws[i + 2]) > 0),
        |e AS MATERIALIZED (
        |  SELECT DISTINCT least(w1, w2) AS a, greatest(w1, w2) AS b
        |  FROM p WHERE w1 <> w2),
        |dd AS MATERIALIZED (
        |  SELECT a AS src, b AS dst FROM e UNION ALL SELECT b, a FROM e),
        |peel AS (
        |  SELECT 0 AS round, (SELECT list(DISTINCT src ORDER BY src) FROM dd) AS alive
        |  UNION ALL
        |  SELECT pl.round + 1, nx.next
        |  FROM peel pl,
        |       LATERAL (SELECT (SELECT coalesce(list(src ORDER BY src), CAST([] AS VARCHAR[])) FROM (
        |          SELECT src FROM dd
        |          WHERE list_contains(pl.alive, src) AND list_contains(pl.alive, dst)
        |          GROUP BY src HAVING count(*) >= 20)) AS next) nx
        |  WHERE nx.next <> pl.alive
        |),
        |survivors AS (
        |  SELECT unnest(alive) AS node FROM peel
        |  WHERE round = (SELECT max(round) FROM peel)
        |)
        |SELECT s.node, CAST(count(*) AS BIGINT) AS deg
        |FROM survivors s JOIN dd ON dd.src = s.node
        |WHERE dd.dst IN (SELECT node FROM survivors)
        |GROUP BY s.node
        |ORDER BY deg DESC, node""".stripMargin)),

    // BPE merge induction: ordered merge table learned from the corpus
    // word-frequency table. Graduated to the full hash gate by REPLAYING
    // the argmax-dependent merge loop in DuckDB: one generated CTE block
    // per round (pair counts → tie-broken argmax → greedy leftmost
    // non-overlapping rewrite via match-islands + offset parity — the
    // SQL form of mergePair's fold), every non-recursive CTE
    // MATERIALIZED so the 20-round chain doesn't re-expand
    // combinatorially. Byte-matched against the engine at all three
    // testdata scales before pinning.
    Q("ext_bpe_merges",
      (s, dir) => TextAnalysis.bpeMerges(Tables.documents(s, dir),
        numMerges = 20, minPairCount = 2L),
      Some(bpeMergesOracleSql(numMerges = 20, minPairCount = 2L))),

    // BPE tokenization with the table learned above: zero-shuffle chain
    // of per-merge greedy rewrites. Graduated to the oracle gate via
    // per-doc verdict rows pinning the TextAndJsonSpec lossless-
    // concatenation invariant — concatenating a doc's tokens must
    // reproduce its text minus spaces (merges never cross the hard word
    // boundaries and never drop characters) — plus the token-count
    // bounds: at least one token per word, at most one per character.
    // The learned token sequence itself stays non-SQL-expressible
    // (argmax-ordered merge replay); the closed-form spec pin covers it.
    Q("ext_bpe_encode",
      (s, dir) => {
        val docs = Tables.documents(s, dir)
        val merges = TextAnalysis.bpeMerges(docs, numMerges = 20, minPairCount = 2L)
        TextAnalysis.bpeEncode(docs, merges)
          .join(docs.select(col("doc_id"),
            regexp_replace(col("text"), " ", "").as("squeezed"),
            size(expr("filter(split(text, ' '), w -> w != '')")).cast("long")
              .as("n_words")), Seq("doc_id"))
          .select(col("doc_id"),
            (concat_ws("", col("tokens")) === col("squeezed")).cast("int")
              .as("roundtrip_ok"),
            (col("n_tokens") >= col("n_words") &&
              col("n_tokens") <= length(col("squeezed"))).cast("int")
              .as("bounds_ok"))
      },
      Some("""SELECT doc_id, 1 AS roundtrip_ok, 1 AS bounds_ok
        |FROM documents""".stripMargin)),

    // Bigram LM: adjacent-pair counts + Laplace-smoothed ln P(w2|w1),
    // hapax bigrams pruned (minCount=2) from the emitted table while the
    // probabilities use unpruned totals.
    Q("ext_bigram_lm",
      (s, dir) => TextAnalysis.bigramLm(Tables.documents(s, dir),
        alpha = 1.0, minCount = 2L),
      Some("""WITH t AS (
        |  SELECT string_split(text, ' ') AS ws FROM documents
        |  WHERE len(string_split(text, ' ')) >= 2),
        |b AS (
        |  SELECT ws[i + 1] AS w1, ws[i + 2] AS w2
        |  FROM t, LATERAL (SELECT unnest(range(0, len(ws) - 1)) AS i)
        |  WHERE length(ws[i + 1]) > 0 AND length(ws[i + 2]) > 0),
        |c12 AS (SELECT w1, w2, count(*) AS c12 FROM b GROUP BY 1, 2),
        |c1 AS (SELECT w1, CAST(sum(c12) AS BIGINT) AS c1 FROM c12 GROUP BY 1),
        |v AS (
        |  SELECT count(DISTINCT tt) AS v FROM (
        |    SELECT unnest(string_split(text, ' ')) AS tt FROM documents)
        |  WHERE length(tt) > 0)
        |SELECT c12.w1, c12.w2, c12.c12 AS c12, c1.c1,
        |  round(ln((c12.c12 + 1.0) / (c1.c1 + 1.0 * v.v)), 6) AS logp
        |FROM c12 JOIN c1 USING (w1), v
        |WHERE c12.c12 >= 2""".stripMargin)),

    // PMI collocations: document-level co-occurrence association. The
    // df cap (0.9·N here) drops stopword-like hubs BEFORE pairing; the
    // pair join is per-doc quadratic only, never corpus². ln rounded at
    // 6 dp on both sides (libm-ulps rule, same as TF-IDF).
    Q("ext_pmi_cooccurrence",
      (s, dir) => TextAnalysis.pmiCooccurrence(Tables.documents(s, dir),
        maxDfFraction = 0.9, minPairCount = 2L),
      Some("""WITH dt AS (
        |  SELECT DISTINCT doc_id, t AS term FROM (
        |    SELECT doc_id, unnest(string_split(text, ' ')) AS t FROM documents)
        |  WHERE length(t) > 0),
        |n AS (SELECT CAST(count(*) AS BIGINT) AS n_docs FROM documents),
        |df AS (SELECT term, count(*) AS df FROM dt GROUP BY 1),
        |keep AS (SELECT term, df FROM df, n WHERE df <= n_docs * 0.9),
        |dtk AS (SELECT dt.doc_id, dt.term, keep.df FROM dt JOIN keep USING (term)),
        |p AS (
        |  SELECT a.term AS w1, b.term AS w2, a.df AS df1, b.df AS df2,
        |    count(*) AS c_ab
        |  FROM dtk a JOIN dtk b ON a.doc_id = b.doc_id AND a.term < b.term
        |  GROUP BY 1, 2, 3, 4)
        |SELECT w1, w2, CAST(c_ab AS BIGINT) AS c_ab,
        |  CAST(df1 AS BIGINT) AS df1, CAST(df2 AS BIGINT) AS df2,
        |  round(ln(c_ab * n_docs / (df1 * df2)), 6) AS pmi
        |FROM p, n WHERE c_ab >= 2""".stripMargin)),

    // Inverted index: term -> true df + sorted posting list (joined to a
    // scalar string). maxPostings left unbounded so the output is the
    // exact index the oracle rebuilds.
    Q("ext_inverted_index",
      (s, dir) => TextAnalysis.invertedIndex(Tables.documents(s, dir)),
      Some("""SELECT t AS term, CAST(len(pl) AS BIGINT) AS df,
        |  array_to_string(pl, ',') AS postings
        |FROM (
        |  SELECT t, list_sort(list(DISTINCT doc_id)) AS pl
        |  FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS t FROM documents)
        |  WHERE length(t) > 0 GROUP BY t)""".stripMargin)),

    // Deterministic k-per-group sampling: first k of each group under
    // the salted content-hash order — count-bounded stratified sampling.
    Q("ext_sample_per_group",
      (s, dir) => DatasetSplit.samplePerGroup(Tables.documents(s, dir),
        k = 20, groupCol = "source", contentCol = "text")
        .select("doc_id", "source"),
      Some("""WITH ranked AS (
        |  SELECT doc_id, source,
        |    row_number() OVER (
        |      PARTITION BY source
        |      ORDER BY CAST(('0x' || substr(md5('psamp:' || text), 1, 4)) AS INT),
        |               doc_id) AS rk
        |  FROM documents)
        |SELECT doc_id, source FROM ranked WHERE rk <= 20""".stripMargin)),

    // Key-distribution profiler: power-of-two histogram of per-key row
    // counts over (user_id) — the pre-flight skew check. Bucket index is
    // integer-exact (binary-representation length, not float log2).
    Q("ext_key_histogram",
      (s, dir) => Skew.keyHistogram(Tables.events(s, dir), Seq("user_id")),
      Some("""WITH c AS (
        |  SELECT user_id, count(*) AS key_n FROM events GROUP BY user_id)
        |SELECT CAST(length(bin(key_n)) - 1 AS INT) AS log2_bucket,
        |  count(*) AS n_keys, CAST(sum(key_n) AS BIGINT) AS total_rows,
        |  max(key_n) AS max_key_rows
        |FROM c GROUP BY 1 ORDER BY 1""".stripMargin)),

    // Sequence-length bucketing for padding-efficient batching: map-only
    // row-local floor division, zero shuffles.
    Q("ext_length_buckets",
      (s, dir) => Packing.lengthBuckets(Tables.documents(s, dir), bucketWidth = 16),
      Some("""SELECT doc_id,
        |  CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
        |  CAST(len(string_split(text, ' ')) AS BIGINT) // 16 AS bucket_id,
        |  (CAST(len(string_split(text, ' ')) AS BIGINT) // 16) * 16 AS bucket_lo,
        |  (CAST(len(string_split(text, ' ')) AS BIGINT) // 16 + 1) * 16 - 1 AS bucket_hi
        |FROM documents""".stripMargin)),

    // Linear-model (fastText-serving-shape) quality scoring: sigmoid over
    // the verified stats features with literal weights — the SQL is
    // generated from the SAME QualityWeights instance so the sides cannot
    // drift; scores rounded to 6 dp on both engines (libm exp/ln ulps).
    Q("ext_quality_classifier", {
      (s, dir) =>
        TextAnalysis.qualityClassifier(Tables.documents(s, dir))
          .select(col("doc_id"), col("n_words"),
            round(col("quality_prob"), 6).as("quality_prob"))
    },
      Some {
        val w = TextAnalysis.QualityWeights()
        s"""WITH f AS (
        |  SELECT doc_id,
        |    CAST(len(string_split(text, ' ')) AS INT) AS n_words,
        |    CAST(len(list_filter(string_split(text, ' '),
        |          w -> w IN ('the','a','of','and','to','in'))) AS DOUBLE)
        |      / len(string_split(text, ' ')) AS stopword_ratio,
        |    CAST(len(list_distinct(string_split(text, ' '))) AS DOUBLE)
        |      / len(string_split(text, ' ')) AS distinct_ratio
        |  FROM documents)
        |SELECT doc_id, n_words,
        |  round(1.0 / (1.0 + exp(-(${w.bias}
        |    + ${w.wLogLen} * ln(1.0 + n_words)
        |    + ${w.wStopword} * stopword_ratio
        |    + ${w.wDistinct} * distinct_ratio))), 6) AS quality_prob
        |FROM f""".stripMargin
      }),

    // Corrupt-tolerant JSON ingest: webscale JSON is dirty, and a 100 TB
    // ingest must QUARANTINE malformed records (count + route), never
    // fail the job or silently null them. ~1/7 of props are
    // deterministically truncated, then parsed with from_json's
    // columnNameOfCorruptRecord channel (the PERMISSIVE corrupt-record
    // contract); the rollup proves valid rows still parse (k sums) while
    // corrupt rows are counted, not dropped.
    Q("ext_json_corrupt_tolerant",
      (s, dir) => {
        val schema = org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("k",
            org.apache.spark.sql.types.IntegerType),
          org.apache.spark.sql.types.StructField("_corrupt",
            org.apache.spark.sql.types.StringType)))
        Tables.events(s, dir)
          .select(col("event_id"), when(pmod(col("event_id"), lit(7)) === 0,
              expr("substring(props, 1, length(props) - 2)"))
            .otherwise(col("props")).as("props"))
          .withColumn("p", from_json(col("props"), schema,
            Map("columnNameOfCorruptRecord" -> "_corrupt")))
          // explicit null/blank gate: from_json yields a null struct (null
          // _corrupt) for null, empty-string, AND whitespace-only input,
          // which the _corrupt channel alone would misread as VALID —
          // while any JSON validity oracle (and the quarantine contract)
          // calls all three invalid. trim() makes whitespace-only agree
          // with empty on both engines.
          .withColumn("is_valid",
            (col("props").isNotNull && length(trim(col("props"))) > 0 &&
              col("p._corrupt").isNull).cast("int"))
          .groupBy("is_valid")
          .agg(count(lit(1)).as("n"),
            sum(when(col("is_valid") === 1, col("p.k"))).as("k_sum"))
      },
      Some("""WITH dirty AS (
        |  SELECT event_id,
        |    CASE WHEN event_id % 7 = 0 THEN substr(props, 1, length(props) - 2)
        |         ELSE props END AS props
        |  FROM events)
        |SELECT CAST(CASE WHEN props IS NOT NULL AND length(trim(props)) > 0
        |                  AND json_valid(props) THEN 1 ELSE 0 END AS INT) AS is_valid,
        |  count(*) AS n,
        |  CAST(sum(CASE WHEN props IS NOT NULL AND length(trim(props)) > 0 AND json_valid(props)
        |            THEN CAST(json_extract_string(props, '$.k') AS INT) END) AS BIGINT)
        |    AS k_sum
        |FROM dirty GROUP BY 1""".stripMargin))
  )
}
