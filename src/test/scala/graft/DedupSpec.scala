package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.core.Tables
import graft.ops.TextDedup

/** Sketch-based dedup vs the exact Jaccard baseline on the real corpus. */
class DedupSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private val dir = "/root/testdata/sf0.001"
  private lazy val docs = Tables.documents(spark, dir).cache()

  private def pairSet(df: org.apache.spark.sql.DataFrame): Set[(Long, Long)] =
    df.select("d1", "d2").as[(Long, Long)].collect().toSet

  test("exact dedup groups duplicates under min-id keeper") {
    val df = Seq((1L, "same text"), (2L, "same text"), (3L, "other"))
      .toDF("doc_id", "text")
    val groups = TextDedup.exactGroups(df)
      .select("keeper_id", "n_docs").as[(Long, Long)].collect().toSet
    assert(groups == Set((1L, 2L), (3L, 1L)))
  }

  test("MinHash/LSH pairs (128 perms, r=4) equal the exact Jaccard pairs at tau=0.8") {
    val exact = pairSet(TextDedup.jaccardPairs(docs, k = 2, tau = 0.8))
    val lsh = pairSet(TextDedup.minHashPairs(docs, k = 2, numHashes = 128,
      rowsPerBand = 4, tau = 0.8))
    assert(exact.nonEmpty, "corpus should contain planted near-duplicates")
    // candidates are verified with exact Jaccard => precision is 1 by
    // construction; at this operating point (P[collide|j=0.8] ≈ 1-5e-8)
    // recall is exact equality on this corpus
    assert(lsh == exact)
  }

  test("MinHash/LSH stays lossless under heavy replication (no df-cap recall trade)") {
    // The adversarial dedup input is a corpus where every doc is
    // replicated: every shingle's df multiplies, so jaccardPairs' df cap
    // (its bucket-size bound) trades recall exactly when dedup matters
    // most — 5% pair recall measured at 10× replication under the
    // default cap (PLANS.md "Round-9: dedup family under 10×
    // replication"). MinHash/LSH has no df cap: identical docs
    // get identical signatures and land in the same band buckets, so the
    // pair set must equal the UNCAPPED exact Jaccard pairs on the
    // replicated corpus. This pins the design claim that LSH banding is
    // the near-dup plan for replication-heavy corpora (exact-dedup-first
    // being the cheaper complement, measured in the same bench).
    val reps = 3
    val idSpan = docs.agg(max(col("doc_id"))).head().getLong(0) + 1
    val replicated = (0 until reps).map(i =>
      docs.withColumn("doc_id", col("doc_id") + lit(i * idSpan)))
      .reduce(_.unionAll(_))
    val exact = pairSet(TextDedup.jaccardPairs(replicated, k = 2, tau = 0.8,
      maxShingleDf = Long.MaxValue))
    val lsh = pairSet(TextDedup.minHashPairs(replicated, k = 2,
      numHashes = 128, rowsPerBand = 4, tau = 0.8))
    val n = docs.count()
    // every doc now sits in a >=reps-way exact-dup group
    assert(exact.size >= (n * reps * (reps - 1) / 2).toInt)
    assert(lsh == exact)
  }

  test("dedupPipeline (exact-first) recovers the pairs the df-capped direct path loses") {
    // The round-9 stress measured the failure mode (direct df-capped
    // jaccardPairs finds 5% of true pairs at 10× replication) and the fix
    // (exact dedup first, near-dup among survivors). This pins the fix as
    // an executable identity, in miniature: a cap that is harmless at
    // NATURAL dfs (a planted near-dup pair's shared shingles have df 2)
    // binds after 3× replication (the same shingles reach df 6), so the
    // direct path silently loses pairs — while dedupPipeline's recovered
    // pair set (within-exact-group pairs + survivor near-dup pairs fanned
    // out over group members) equals the UNCAPPED truth exactly.
    val reps = 3
    val idSpan = docs.agg(max(col("doc_id"))).head().getLong(0) + 1
    val replicated = (0 until reps).map(i =>
      docs.withColumn("doc_id", col("doc_id") + lit(i * idSpan)))
      .reduce(_.unionAll(_)).cache()
    try {
      val truth = pairSet(TextDedup.jaccardPairs(replicated, k = 2, tau = 0.8,
        maxShingleDf = Long.MaxValue))
      val direct = pairSet(TextDedup.jaccardPairs(replicated, k = 2, tau = 0.8,
        maxShingleDf = 2L))
      assert(direct.size < truth.size,
        s"cap should bind on the replicated corpus (direct ${direct.size} vs truth ${truth.size})")

      val pipe = TextDedup.dedupPipeline(replicated, k = 2, tau = 0.8)
      // survivors = one keeper per distinct text
      val uniqueTexts = replicated.select("text").distinct().count()
      assert(pipe.survivors.count() == uniqueTexts)

      // expand the pipeline's structural knowledge back to explicit pairs
      val membership = replicated.select(md5(col("text")).as("h"), col("doc_id"))
      val within = membership.as("a").join(membership.as("b"),
          col("a.h") === col("b.h") && col("a.doc_id") < col("b.doc_id"))
        .select(col("a.doc_id").as("d1"), col("b.doc_id").as("d2"))
      val keeperHash = membership.groupBy("h").agg(min("doc_id").as("sid"))
      val expanded = pipe.nearDupPairs.select("d1", "d2")
        .join(keeperHash.select(col("sid").as("d1"), col("h").as("h1")), "d1")
        .join(keeperHash.select(col("sid").as("d2"), col("h").as("h2")), "d2")
        .join(membership.select(col("h").as("h1"), col("doc_id").as("m1")), "h1")
        .join(membership.select(col("h").as("h2"), col("doc_id").as("m2")), "h2")
        .select(least(col("m1"), col("m2")).as("d1"),
          greatest(col("m1"), col("m2")).as("d2"))
      val recovered = pairSet(within.unionAll(expanded).distinct())
      assert(recovered == truth,
        s"pipeline must recover the full uncapped pair set (missing ${(truth -- recovered).size}, extra ${(recovered -- truth).size})")

      // keepers = survivors minus near-dup cluster losers, never empty
      val losers = TextDedup.clusters(pipe.nearDupPairs)
        .filter(col("cluster_id") =!= col("id")).count()
      assert(pipe.keepers.count() == uniqueTexts - losers)
    } finally {
      replicated.unpersist()
      ()
    }
  }

  test("SimHash(64) within hamming<=7 recalls the high-Jaccard pairs") {
    val exact = pairSet(TextDedup.jaccardPairs(docs, k = 2, tau = 0.9))
    val sim = pairSet(TextDedup.simHashPairs(docs, maxHamming = 7))
    assert(exact.nonEmpty)
    val recall = (exact intersect sim).size.toDouble / exact.size
    assert(recall >= 0.85, s"simhash recall $recall of ${exact.size} pairs")
  }

  test("simHashPairs at maxHamming 5 is exactly the brute-force Hamming pair set") {
    // 5 → 8 blocks of 8 bits: the pigeonhole keeps candidate generation
    // lossless, so the pairs equal bit_count(a xor b) <= 5 over all pairs
    val sig = TextDedup.simHash(docs)
    val brute = sig.as("a").join(sig.as("b"), $"a.doc_id" < $"b.doc_id")
      .filter(bit_count($"a.simhash".bitwiseXOR($"b.simhash")) <= 5)
      .select($"a.doc_id", $"b.doc_id").as[(Long, Long)].collect().toSet
    val got = TextDedup.simHashPairs(docs, maxHamming = 5)
      .select("d1", "d2").as[(Long, Long)].collect().toSet
    assert(brute.nonEmpty && got == brute)
  }

  test("duplicatedSpans: per-doc window counts and shared-span fractions") {
    val df = Seq(
      (1L, "a b c d e"),   // windows: "a b c","b c d","c d e"
      (2L, "x y a b c"),   // windows: "x y a","y a b","a b c" — shares "a b c" with doc 1
      (3L, "p q r"),       // one window, unshared
      (4L, "short")        // 1 token < w — zero windows
    ).toDF("doc_id", "text")
    val out = TextDedup.duplicatedSpans(df, w = 3, minDocs = 2)
      .select("doc_id", "n_windows", "n_dup_windows", "dup_span_frac")
      .as[(Long, Long, Long, Double)].collect().toSet
    assert(out == Set(
      (1L, 3L, 1L, 0.333333),
      (2L, 3L, 1L, 0.333333),
      (3L, 1L, 0L, 0.0),
      (4L, 0L, 0L, 0.0)))
  }

  test("duplicatedSpans: self-repetition within one doc is not cross-doc duplication") {
    val df = Seq(
      (1L, "a b c a b c a b c"), // span "a b c" recurs, but only in this doc
      (2L, "u v w x y z")
    ).toDF("doc_id", "text")
    val out = TextDedup.duplicatedSpans(df, w = 3, minDocs = 2)
      .select("doc_id", "n_dup_windows").as[(Long, Long)].collect().toMap
    assert(out == Map(1L -> 0L, 2L -> 0L))
  }

  test("duplicatedSpans: exact-duplicate docs are fully span-covered on the real corpus") {
    val out = TextDedup.duplicatedSpans(docs, w = 20, minDocs = 2).persist()
    assert(out.count() == docs.count(), "one row per input document")
    assert(out.filter($"dup_span_frac" > 0).count() > 0,
      "corpus should contain planted duplicated spans")
    // every member of an exact-duplicate group with >= w tokens sees all
    // of its windows in at least one other doc => frac exactly 1.0
    val dupIds = docs.groupBy($"text").agg(count(lit(1)).as("n"), collect_list($"doc_id").as("ids"))
      .filter($"n" >= 2 && size(split($"text", " ")) >= 20)
      .select(explode($"ids").as("doc_id"))
    val notFull = out.join(dupIds, "doc_id").filter($"dup_span_frac" =!= 1.0).count()
    assert(notFull == 0, s"$notFull exact-dup docs with frac != 1.0")
    out.unpersist()
  }

  test("duplicatedSpans interior plan: dup-hash probe broadcasts under AQE") {
    // the real operator stages (spanWindows/spanStats), pre-eager: after
    // AQE finalizes, the duplicated-hash set (corpus-sublinear) must
    // arrive at the probe join as a broadcast, not a third shuffle
    val spans = TextDedup.spanWindows(docs, 20, "doc_id", "text")
    val out = TextDedup.spanStats(docs, spans, 2, "doc_id")
    out.collect()
    val plan = out.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"),
      s"expected AQE to broadcast the duplicated-hash probe:\n$plan")
  }

  test("MinHashAggregator signatures are bit-identical to the column-min form") {
    val sh = TextDedup.shingles(docs, 2).persist()
    val n = 32
    val colForm = ReferenceForms.minHashSignatures(sh, n)
      .select(col("doc_id"), array((0 until n).map(i => col(s"mh$i")): _*).as("sig"))
      .as[(Long, Seq[Long])].collect().toMap
    val aggForm = TextDedup.minHashSignaturesAgg(sh, n)
      .as[(Long, Seq[Long], Long)].collect().map { case (id, sig, sz) => id -> (sig, sz) }.toMap
    assert(aggForm.keySet == colForm.keySet)
    aggForm.foreach { case (id, (sig, _)) => assert(sig == colForm(id), s"doc $id") }
    // the same pass counts each doc's shingle set for minHashPairs' length prune
    val sizes = sh.groupBy("doc_id").count().as[(Long, Long)].collect().toMap
    aggForm.foreach { case (id, (_, sz)) => assert(sz == sizes(id), s"doc $id size") }
    sh.unpersist()
  }

  test("SimHashAggregator fingerprints are bit-identical to the column-vote form") {
    // includes heavy-tie docs (repeated tokens) so the 2·S−N > 0 vs
    // sum(±1) > 0 equivalence is exercised at vote boundaries, and a
    // single-token doc (every bit decided by one vote)
    val fixture = docs.select("doc_id", "text").union(Seq(
      (1001L, "x x x y"), (1002L, "z")).toDF("doc_id", "text"))
    val aggForm = TextDedup.simHash(fixture)
      .as[(Long, Long)].collect().toMap
    val colForm = ReferenceForms.simHashColumnForm(fixture)
      .as[(Long, Long)].collect().toMap
    assert(aggForm == colForm)
  }

  test("clusters: min-label propagation finds connected components and keepers") {
    // default path (small graph => driver union-find endgame)
    val pairs = Seq((1L, 2L), (2L, 3L), (10L, 11L), (3L, 7L)).toDF("d1", "d2")
    val got = TextDedup.clusters(pairs)
      .as[(Long, Long)].collect().toMap
    assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 7L -> 1L, 10L -> 10L, 11L -> 10L))
    // distributed loop (local finish disabled) must agree exactly
    val dist = TextDedup.clusters(pairs, localFinishMaxEdges = -1)
      .as[(Long, Long)].collect().toMap
    assert(dist == got)
  }

  test("clusters with string ids fully converges (regression: numeric-cast checksum)") {
    // a 5-vertex chain needs >1 propagation round; the old convergence
    // checksum cast labels to decimal, which nulls out for string ids and
    // declared convergence after round 1, silently under-merging exactly
    // this shape. Forced onto the distributed loop — the local union-find
    // endgame would mask the checksum entirely.
    val pairs = Seq(("a", "b"), ("b", "c"), ("c", "d"), ("d", "e"), ("x", "y"))
      .toDF("d1", "d2")
    val expect = Map("a" -> "a", "b" -> "a", "c" -> "a", "d" -> "a", "e" -> "a",
      "x" -> "x", "y" -> "x")
    val got = TextDedup.clusters(pairs, localFinishMaxEdges = -1)
      .as[(String, String)].collect().toMap
    assert(got == expect)
    assert(TextDedup.clusters(pairs).as[(String, String)].collect().toMap == expect)
  }

  test("clusters with a reliable checkpoint dir match the fast localCheckpoint path") {
    val pairs = Seq((1L, 2L), (2L, 3L), (10L, 11L), (3L, 7L)).toDF("d1", "d2")
    val dir = java.nio.file.Files.createTempDirectory("graft_cc_ckpt").toString
    val got = TextDedup.clusters(pairs, checkpointDir = Some(dir),
      localFinishMaxEdges = -1)
      .as[(Long, Long)].collect().toMap
    assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 7L -> 1L, 10L -> 10L, 11L -> 10L))
  }

  test("clusters: the distributed loop labels a diameter-1000 chain in 11 rounds") {
    // chain 0-1-2-...-1000: one component, diameter 1000 — the worst case
    // for naive propagation (1000 rounds). Pointer jumping doubles each
    // label's reach per round: 10 rounds of progress (2^10 > 1000) plus
    // one stability-detect round. Both are deterministic, so a regression
    // in the loop's progress per round shows up here.
    val chain = spark.range(1000).select(col("id").as("d1"), (col("id") + 1).as("d2"))
    var rounds = -1
    val got = TextDedup.clusters(chain, maxIter = 50,
      localFinishMaxEdges = -1, roundCounter = r => rounds = r)
      .select(col("id").cast("long"), col("cluster_id").cast("long"))
      .as[(Long, Long)].collect().toMap
    assert(got.size == 1001)
    assert(got.values.forall(_ == 0L), "every chain vertex labels to the minimum 0")
    assert(rounds == 11, s"rounds moved: $rounds")
  }

  test("clusters: null endpoints and self-pairs, on the local and distributed paths") {
    // a null endpoint carries no edge, but its non-null side is still a
    // vertex (a singleton); a self-pair is a singleton; both-null drops
    val pairs = Seq[(java.lang.Long, java.lang.Long)](
      (1L, 2L), (2L, 3L), (7L, 7L), (9L, null), (null, 4L), (null, null))
      .toDF("d1", "d2")
    val expect = Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 7L -> 7L, 9L -> 9L, 4L -> 4L)
    val local = TextDedup.clusters(pairs).as[(Long, Long)].collect().toMap
    val dist = TextDedup.clusters(pairs, localFinishMaxEdges = -1)
      .as[(Long, Long)].collect().toMap
    assert(local == expect)
    assert(dist == expect)
  }

  test("jaccardPairs/incrementalSurvivors with a reliable checkpoint dir equal the default path") {
    // the checkpointDir option swaps executor-memory localCheckpoint for a
    // reliable checkpoint (the cluster-survivability path) — results must
    // be identical either way
    val dir2 = java.nio.file.Files.createTempDirectory("graft_dedup_ckpt").toString
    val default = pairSet(TextDedup.jaccardPairs(docs, k = 2, tau = 0.8))
    val reliable = pairSet(TextDedup.jaccardPairs(docs, k = 2, tau = 0.8,
      checkpointDir = Some(dir2)))
    assert(default.nonEmpty && reliable == default)
    val batch = docs.filter(col("doc_id") % 3 === 0)
    val corpus = docs.filter(col("doc_id") % 3 =!= 0)
    val survDefault = TextDedup.incrementalSurvivors(batch, corpus)
      .select("doc_id").as[Long].collect().toSet
    val survReliable = TextDedup.incrementalSurvivors(batch, corpus,
      checkpointDir = Some(dir2))
      .select("doc_id").as[Long].collect().toSet
    assert(survDefault.nonEmpty && survReliable == survDefault)
  }

  test("clusters: local and distributed paths pick the same keeper for non-BMP ids") {
    // U+F900 is ONE UTF-16 code unit above the surrogate range; U+1F600
    // (emoji) encodes as a surrogate pair that String.compareTo sorts
    // BELOW it while Spark's UTF-8 min() sorts it ABOVE — the two
    // orderings disagree exactly here, so both paths must use UTF-8
    val a = "豈"          // U+F900, UTF-8 EF A4 80
    val b = "😀"    // U+1F600, UTF-8 F0 9F 98 80
    val pairs = Seq((a, b)).toDF("d1", "d2")
    val local = TextDedup.clusters(pairs).as[(String, String)].collect().toMap
    val dist = TextDedup.clusters(pairs, localFinishMaxEdges = -1)
      .as[(String, String)].collect().toMap
    assert(local == dist)
    assert(local(a) == a && local(b) == a, "keeper must be the UTF-8 minimum")
  }

  test("clusters: local union-find endgame equals the distributed loop on the corpus") {
    val pairs = TextDedup.jaccardPairs(docs, k = 2, tau = 0.8,
      maxShingleDf = Long.MaxValue).persist()
    val local = TextDedup.clusters(pairs).as[(Long, Long)].collect().toSet
    val dist = TextDedup.clusters(pairs, localFinishMaxEdges = -1)
      .as[(Long, Long)].collect().toSet
    assert(local.nonEmpty && local == dist)
    pairs.unpersist()
  }

  test("incrementalSurvivors drops exact and near corpus-dups, keeps the rest") {
    val corpus = Seq(
      (1L, "alpha beta gamma delta epsilon zeta eta theta"),
      (2L, "completely different corpus content here")).toDF("doc_id", "text")
    val batch = Seq(
      (10L, "alpha beta gamma delta epsilon zeta eta theta"), // exact dup of 1
      (11L, "alpha beta gamma delta epsilon zeta eta iota"),  // near dup of 1
      (12L, "fresh unseen brand new material entirely")       // survivor
    ).toDF("doc_id", "text")
    val got = graft.ops.TextDedup.incrementalSurvivors(batch, corpus,
      k = 2, tau = 0.7, maxShingleDf = Long.MaxValue)
      .select("doc_id").as[Long].collect().toSet
    assert(got == Set(12L))
    // corpus never loses anything and intra-batch relations are untouched:
    // two fresh docs that duplicate EACH OTHER both survive (documented)
    val batch2 = Seq(
      (20L, "same same text twice over here now"),
      (21L, "same same text twice over here now")).toDF("doc_id", "text")
    val got2 = graft.ops.TextDedup.incrementalSurvivors(batch2, corpus,
      k = 2, tau = 0.7, maxShingleDf = Long.MaxValue)
      .select("doc_id").as[Long].collect().toSet
    assert(got2 == Set(20L, 21L))
  }

  test("hash split: stable, content-keyed, proportions near weights") {
    import graft.ops.DatasetSplit
    val big = Tables.documents(spark, "/root/testdata/sf0.01")
    val a = DatasetSplit.assign(big, "text").select("doc_id", "split")
      .as[(Long, String)].collect().toMap
    val b = DatasetSplit.assign(big, "text").select("doc_id", "split")
      .as[(Long, String)].collect().toMap
    assert(a == b, "split must be deterministic")
    val frac = a.values.groupBy(identity).view.mapValues(_.size.toDouble / a.size).toMap
    assert(math.abs(frac("train") - 0.8) < 0.08, s"train frac ${frac("train")}")
    assert(frac.keySet == Set("train", "val", "test"))
  }

  test("stratified sample: deterministic, monotone in fraction, default keeps everything") {
    import graft.ops.DatasetSplit
    val docs = Tables.documents(spark, "/root/testdata/sf0.01")
      .select("doc_id", "lang", "text")
    def ids(fractions: Map[String, Double]) =
      DatasetSplit.sampleStratified(docs, "lang", fractions)
        .select("doc_id").as[Long].collect().toSet
    val half = ids(Map("en" -> 0.5))
    assert(half == ids(Map("en" -> 0.5)), "sample must be deterministic")
    // monotone: raising the fraction only adds documents
    val quarter = ids(Map("en" -> 0.25))
    assert(quarter.subsetOf(half))
    // strata without a fraction keep everything
    val nonEn = docs.filter(col("lang") =!= "en").select("doc_id").as[Long].collect().toSet
    assert(nonEn.subsetOf(half))
    // the sampled stratum is actually thinned to roughly its fraction
    val en = docs.filter(col("lang") === "en").select("doc_id").as[Long].collect().toSet
    val keptEn = half.intersect(en).size.toDouble / en.size
    assert(math.abs(keptEn - 0.5) < 0.1, s"en keep fraction $keptEn")
    // independent of the split hash: sampled-out docs are not biased by split
    val splits = DatasetSplit.assign(docs, "text").select("doc_id", "split")
      .as[(Long, String)].collect().toMap
    val keptTrainFrac = half.count(id => splits(id) == "train").toDouble / half.size
    assert(math.abs(keptTrainFrac - 0.8) < 0.08, s"train frac inside sample $keptTrainFrac")
  }

  test("samplePerGroup: at most k per group, deterministic across reshards") {
    import graft.ops.DatasetSplit
    val docs10 = Tables.documents(spark, "/root/testdata/sf0.01")
      .select("doc_id", "source", "text")
    val a = DatasetSplit.samplePerGroup(docs10, k = 5, groupCol = "source",
      contentCol = "text").select("doc_id").as[Long].collect().toSet
    val b = DatasetSplit.samplePerGroup(docs10.repartition(13), k = 5,
      groupCol = "source", contentCol = "text")
      .select("doc_id").as[Long].collect().toSet
    assert(a == b, "membership must be a pure function of content")
    val perGroup = DatasetSplit.samplePerGroup(docs10, k = 5, groupCol = "source",
      contentCol = "text").groupBy("source").count().as[(String, Long)].collect()
    perGroup.foreach { case (src, n) => assert(n <= 5, s"group $src has $n > k") }
    // k larger than every group keeps the whole corpus
    val all = DatasetSplit.samplePerGroup(docs10, k = 1000000, groupCol = "source",
      contentCol = "text").count()
    assert(all == docs10.count())
  }

  test("sampleWeighted: exactly k, reshard-deterministic, monotone in a row's own weight") {
    import graft.ops.DatasetSplit
    val docs10 = Tables.documents(spark, "/root/testdata/sf0.01")
      .select("doc_id", "n_chars", "text")
    val a = DatasetSplit.sampleWeighted(docs10, k = 50, weightCol = "n_chars",
      contentCol = "text").select("doc_id").as[Long].collect().toSet
    assert(a.size == 50)
    val b = DatasetSplit.sampleWeighted(docs10.repartition(13), k = 50,
      weightCol = "n_chars", contentCol = "text")
      .select("doc_id").as[Long].collect().toSet
    assert(a == b, "membership must be a pure function of content and weights")
    // raising one sampled row's weight can only keep it in the sample
    val target = a.head
    val boosted = docs10.withColumn("n_chars",
      when(col("doc_id") === target, col("n_chars") * 1000).otherwise(col("n_chars")))
    val c = DatasetSplit.sampleWeighted(boosted, k = 50, weightCol = "n_chars",
      contentCol = "text").select("doc_id").as[Long].collect().toSet
    assert(c.contains(target))
    // heavier rows dominate: the sample's mean weight exceeds the corpus mean
    val meanAll = docs10.agg(avg("n_chars")).as[Double].collect().head
    val meanSample = docs10.filter(col("doc_id").isin(a.toSeq: _*))
      .agg(avg("n_chars")).as[Double].collect().head
    assert(meanSample > meanAll)
  }

  test("kFold: disjoint-exhaustive, reshard-deterministic, roughly balanced") {
    import graft.ops.DatasetSplit
    val docs10 = Tables.documents(spark, "/root/testdata/sf0.01")
      .select("doc_id", "text")
    val a = DatasetSplit.kFold(docs10, k = 5, contentCol = "text")
      .select("doc_id", "fold").as[(Long, Int)].collect().toMap
    assert(a.size == docs10.count(), "every row gets exactly one fold")
    assert(a.values.toSet.subsetOf((0 until 5).toSet))
    val b = DatasetSplit.kFold(docs10.repartition(13), k = 5, contentCol = "text")
      .select("doc_id", "fold").as[(Long, Int)].collect().toMap
    assert(a == b, "fold is a pure function of content")
    val sizes = a.values.groupBy(identity).view.mapValues(_.size)
    sizes.foreach { case (f, n) =>
      assert(n > 50 && n < 150, s"fold $f badly unbalanced at $n of 500")
    }
  }

  test("shingles: documents shorter than k words produce none; k-grams are distinct") {
    val df = Seq((1L, "a b c b a b"), (2L, "single")).toDF("doc_id", "text")
    val sh = TextDedup.shingles(df, 2).as[(Long, String)].collect().toSeq
    assert(sh.forall(_._1 == 1L))
    assert(sh.map(_._2).sorted == Seq("a b", "b a", "b c", "c b")) // distinct
  }

  test("shingles repartitions only a LARGE under-split input (r19 size-adaptive)") {
    // the spread-across-the-cluster repartition is for few-files inputs; a
    // well-split (100 TB) input must NOT pay a full shuffle of the raw
    // text column. The window's hashpartitioning exchange is inherent —
    // the round-robin one from repartition(n) is what must be conditional.
    // Since r19 the spread is additionally SIZE-adaptive (~128 KB of input
    // per task): a tiny single-partition batch must NOT be exploded into
    // defaultParallelism near-empty tasks (the measured fixed cost of the
    // ingest loops), while a large under-split input still spreads.
    def roundRobins(df: org.apache.spark.sql.DataFrame): Int =
      "(?i)Exchange RoundRobinPartitioning".r
        .findAllIn(TextDedup.shingles(df, 2).queryExecution.executedPlan.toString).size
    val par = spark.sparkContext.defaultParallelism
    // localCheckpoint truncates lineage so the input's OWN repartition
    // doesn't appear in the measured plan
    val wellSplit = docs.repartition(par + 1).localCheckpoint()
    assert(wellSplit.rdd.getNumPartitions >= par)
    assert(roundRobins(wellSplit) == 0,
      "pre-partitioned input must not be repartitioned again")
    // a SMALL (≪ 128 KB/task) single-partition input is left alone
    // (near-empty tasks cost more than they parallelize); a 40-doc
    // ingest-batch-sized slice — the full cached sf corpus measures
    // several hundred KB in-memory and legitimately spreads a little
    assert(roundRobins(docs.limit(40).coalesce(1).localCheckpoint()) == 0,
      "small single-partition input must not be spread")
    // positive control: a large (≫ 128 KB/task) under-split input is
    // still spread across the cluster. Through a parquet round-trip so
    // the plan stats are the real file size (the deployment shape — an
    // in-memory Project reports schema-default string widths), with
    // hash-varied text so compression cannot shrink the file below the
    // spread threshold.
    val bigDir = graft.core.TmpDirs.scoped("dedup_spread_big")
    spark.range(3000).selectExpr("id AS doc_id",
      "array_join(transform(sequence(0, 120), i -> md5(string(id * 1000 + i))), ' ') AS text")
      .coalesce(1).write.mode("overwrite").parquet(bigDir)
    // a splittable parquet scan of this size is ALREADY split by the
    // scan (no spread needed — the old rule added a pointless extra
    // round-robin shuffle here); force the unsplittable-input shape
    // (gzip text, a checkpointed intermediate) with coalesce(1) +
    // localCheckpoint, which carries the scan's origin stats
    val big = spark.read.parquet(bigDir).coalesce(1).localCheckpoint()
    assert(big.rdd.getNumPartitions < par,
      "fixture must be under-split for the positive control to bind")
    assert(roundRobins(big) == 1,
      "large single-partition input must be spread across the cluster")
  }

  test("lengthCap bounds a pathological doc before jaccardPairs") {
    // the ingest guard verifyJaccard's memory note defers to: a single
    // multi-thousand-token doc (here ~50k tokens of repeated boilerplate,
    // which also near-dups an honest doc's vocabulary) is truncated
    // BEFORE shingling, so per-pair verification sets stay bounded and
    // the pipeline still finds the corpus' planted near-dup pairs.
    val bomb = Seq((90001L, Seq.fill(25000)("aa bb").mkString(" ")))
      .toDF("doc_id", "text")
    val input = docs.select("doc_id", "text").unionByName(bomb)
    val capped = graft.ops.Curation.lengthCap(input, maxTokens = 200)
    // audit: exactly the bomb is flagged, and its text is truncated
    val audit = capped.filter(col("capped") === 1)
      .select($"doc_id", size(split($"text", " ")).as("n"))
      .as[(Long, Int)].collect()
    assert(audit.toSeq == Seq((90001L, 200)))
    // the capped corpus still yields the natural corpus' pair set; the
    // bomb's self-similar shingles cannot dominate any verification set
    val exact = pairSet(TextDedup.jaccardPairs(docs, k = 2, tau = 0.8,
      maxShingleDf = Long.MaxValue))
    val under = pairSet(TextDedup.jaccardPairs(
      capped.select("doc_id", "text"), k = 2, tau = 0.8,
      maxShingleDf = Long.MaxValue))
    assert(exact.subsetOf(under), s"cap lost pairs: ${(exact -- under).take(3)}")
    // the RAW split size is bounded too: a separator-run bomb has few
    // tokens but a huge transient split array in every consumer — it
    // must be capped (whitespace-normalized), not passed through
    val spaceBomb = Seq((90002L, "a" + (" " * 5000) + "b"))
      .toDF("doc_id", "text")
    val sb = graft.ops.Curation.lengthCap(spaceBomb, maxTokens = 200)
      .select($"capped", $"n_tokens_orig", $"text").as[(Int, Long, String)]
      .collect().head
    assert(sb == ((1, 2L, "a b")), s"got $sb")
  }

  test("dedupParagraphs: keep-first rewrite, reassembly, full-dedup drop") {
    val df = Seq(
      // doc 1: unique + the shared boilerplate + a within-doc repeat
      (1L, "alpha beta\nBOILER\ngamma\ngamma"),
      // doc 2: boilerplate first again (loses to doc 1), own content,
      // doubled separator -> empty segment dropped in reassembly
      (2L, "BOILER\ndelta\n\nepsilon"),
      // doc 3: nothing but already-seen paragraphs -> drops entirely
      (3L, "BOILER\ngamma"),
      // doc 4: untouched document passes through byte-identical
      (4L, "zeta\neta")
    ).toDF("doc_id", "text")
    val out = TextDedup.dedupParagraphs(df)
      .select("doc_id", "text", "n_kept", "n_dropped")
      .as[(Long, String, Int, Int)].collect().sortBy(_._1)
    assert(out.toSeq == Seq(
      // within-doc repeat of "gamma" cut; BOILER's first home is doc 1
      (1L, "alpha beta\nBOILER\ngamma", 3, 1),
      (2L, "delta\nepsilon", 2, 1),
      (4L, "zeta\neta", 2, 0)))
    // order preservation: a kept paragraph AFTER a cut one keeps its place
    val order = TextDedup.dedupParagraphs(
      Seq((1L, "x\ny"), (2L, "a\nx\nb")).toDF("doc_id", "text"))
      .filter($"doc_id" === 2L).select("text").as[String].head()
    assert(order == "a\nb")
    // literal (non-regex) separator: '.' must not split on every char
    val dotted = TextDedup.dedupParagraphs(
      Seq((1L, "p.q"), (2L, "q.r")).toDF("doc_id", "text"), sep = ".")
      .select("doc_id", "text").as[(Long, String)].collect().toSet
    assert(dotted == Set((1L, "p.q"), (2L, "r")))
    // non-integral ids take the generic struct-min path — same keep-first
    // semantics, lexicographic over (id, pos)
    val byName = TextDedup.dedupParagraphs(
      Seq(("a", "x\ny"), ("b", "a\nx\nb")).toDF("doc_id", "text"))
      .select("doc_id", "text").as[(String, String)].collect().toSet
    assert(byName == Set(("a", "x\ny"), ("b", "a\nb")))
  }

  test("chunkedDocs normalizes pathological text; empty docs drop cleanly") {
    // the ext_dedup_paragraphs fixture builder must not let embedded
    // newlines, empty texts, or space runs produce chunks that re-split
    // differently than the oracle counts them
    val df = Seq((1L, "a b\nc"), (2L, ""), (3L, "\n \n"), (4L, "d  e"))
      .toDF("doc_id", "text")
    val ch = graft.queries.ExtQueries.chunkedDocs(df, width = 2)
      .as[(Long, String)].collect().toMap
    assert(ch(1L) == "a b\nc") // newline folded into the token stream
    assert(ch(2L) == "" && ch(3L) == "") // degenerate docs -> empty text
    assert(ch(4L) == "d e") // space run never yields an empty token
    // and the degenerate docs drop from the rewrite (nothing to keep)
    val out = TextDedup.dedupParagraphs(
      graft.queries.ExtQueries.chunkedDocs(df, width = 2))
    assert(out.select("doc_id").as[Long].collect().toSet == Set(1L, 4L))
  }
}
