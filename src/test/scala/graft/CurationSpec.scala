package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.core.Tables
import graft.ops.Curation

/** End-to-end curation semantics on the real corpus. */
class CurationSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private val dir = "/root/testdata/sf0.001"

  test("curate drops near-dup non-keepers and low-quality docs, keeps the rest") {
    val docs = Tables.documents(spark, dir)
    val kept = Curation.curate(docs).cache()
    val keptIds = kept.select("doc_id").as[Long].collect().toSet
    assert(keptIds.nonEmpty && keptIds.size < docs.count())
    // no kept doc is a non-keeper of a near-dup cluster
    val losers = graft.ops.TextDedup.clusters(
        graft.ops.TextDedup.jaccardPairs(docs, 2, 0.8, Long.MaxValue))
      .filter($"cluster_id" =!= $"id").select($"id").as[Long].collect().toSet
    assert(losers.nonEmpty, "corpus has planted near-dups")
    assert((keptIds intersect losers).isEmpty)
    // every kept doc passes the gates
    assert(kept.filter($"n_words" < 20 || $"quality_score" < 0.3).count() == 0)
    kept.unpersist()
  }

  test("default finite shingle-df cap agrees with the uncapped exact pairs here") {
    // the library default is the scale-safe finite cap; the catalog query
    // disables it for oracle identity — on this corpus (every shingle's
    // df is far below the cap) the two MUST coincide row-for-row, which
    // is what makes the default flip an optimization, not a semantic drift
    val docs = Tables.documents(spark, dir)
    val capped = Curation.curate(docs).cache()
    val uncapped = Curation.curate(docs, maxShingleDf = Long.MaxValue)
    assert(capped.count() > 0)
    assert(capped.exceptAll(uncapped).count() == 0)
    assert(uncapped.exceptAll(capped).count() == 0)
    capped.unpersist()
  }

  test("capPerDomain keeps exactly the top-N per source by (quality desc, id)") {
    val docs = Tables.documents(spark, dir)
    val capped = Curation.capPerDomain(docs, maxPerDomain = 3).cache()
    assert(capped.groupBy("source").count().filter($"count" > 3).count() == 0)
    val q = graft.ops.TextAnalysis.stats(docs)
      .select("doc_id", "quality_score").as[(Long, Double)].collect().toMap
    val expected = docs.select("doc_id", "source").as[(Long, String)].collect()
      .groupBy(_._2).values
      .flatMap(ds => ds.map(_._1).sortBy(id => (-q(id), id)).take(3)).toSet
    assert(capped.select("doc_id").as[Long].collect().toSet == expected)
    // the natural composition capPerDomain(qualityGate(...)) must not
    // produce ambiguous duplicate quality_score columns, and reuses the
    // gate's score instead of a second stats scan
    val composed = Curation.capPerDomain(
      Curation.qualityGate(docs, minWords = 1, minQuality = 0.0),
      maxPerDomain = 3)
    assert(composed.columns.count(_ == "quality_score") == 1)
    assert(composed.select("doc_id").as[Long].collect().toSet == expected)
    capped.unpersist()
  }

  test("contaminated finds exactly the train docs sharing a k-gram with test docs") {
    val train = Seq((1L, "alpha beta gamma delta epsilon zeta"),
      (2L, "totally unrelated words here indeed")).toDF("doc_id", "text")
    val test = Seq((100L, "prefix alpha beta gamma delta epsilon suffix")).toDF("doc_id", "text")
    val got = Curation.contaminated(train, test, k = 5).as[Long].collect().toSet
    assert(got == Set(1L))
  }

  test("resampleToMixture hits target token shares within one doc's tokens") {
    val docs = Tables.documents(spark, dir).select("doc_id", "source", "text")
    val shares = Map("src0" -> 0.3, "src1" -> 0.15, "src2" -> 0.05)
    val out = Curation.resampleToMixture(docs, shares).cache()
    val total = docs.select(size(split($"text", " "))).as[Int].collect().map(_.toLong).sum
    val gotTokens = out.groupBy("source").agg(sum("n_tok").as("t"))
      .as[(String, Long)].collect().toMap
    // every resampled domain's token mass lands near its target; the
    // fractional copy is all-or-nothing per doc, so the deviation is a
    // hash-keyed sum over docs — bounded here at 5% relative
    shares.foreach { case (src, w) =>
      val want = w * total
      assert(math.abs(gotTokens(src) - want) / want <= 0.05,
        s"$src: got ${gotTokens(src)} want $want")
    }
    // zero-share domains are dropped entirely
    assert(gotTokens.keySet == shares.keySet)
    // copies are dense 0..n_copies-1 per doc
    val badCopies = out.groupBy("doc_id").agg(
      count(lit(1)).as("n"), max("copy").as("mx"), min("copy").as("mn"),
      first("n_copies").as("nc"))
      .filter($"mx" =!= $"n" - 1 || $"mn" =!= 0 || $"nc" =!= $"n").count()
    assert(badCopies == 0)
    // deterministic: a second run is row-identical
    val again = Curation.resampleToMixture(docs, shares)
    assert(out.exceptAll(again).count() == 0 && again.exceptAll(out).count() == 0)
    out.unpersist()
  }

  test("blockFilter drops blocklisted domains and pattern matches, broadcast-anti") {
    val docs = Tables.documents(spark, dir)
    val blocked = Seq("src1", "src3").toDF("source")
    val kept = Curation.blockFilter(docs, blocked, Seq("slow +small"))
    kept.collect()
    val keptRows = kept.select("source").as[String].collect()
    assert(!keptRows.contains("src1") && !keptRows.contains("src3"))
    assert(kept.filter($"text".rlike("slow +small")).count() == 0)
    // non-vacuous: the pattern removed docs beyond the domain filter
    val domainOnly = docs.filter(!$"source".isin("src1", "src3")).count()
    assert(kept.count() < domainOnly)
    // the blocklist must never shuffle the corpus: broadcast anti join
    val plan = kept.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin") && plan.contains("LeftAnti"),
      s"expected broadcast anti join:\n$plan")
  }

  test("importanceWeights: closed-form DSIR log-ratios on a toy corpus") {
    // raw: d1 = {a:2, b:1}, d2 = {b:1, c:1}; target = d1.
    // cfr = a:2,b:2,c:1 (nr=5); cft = a:2,b:1 (nt=3); V=3, alpha=1.
    // pT(a)=3/6, pT(b)=2/6, pT(c)=1/6; pR(a)=3/8, pR(b)=3/8, pR(c)=2/8.
    // d1: 2*ln(4/3)+ln(8/9) = 0.4575811..; d2: ln(8/9)+ln(2/3) = -0.5232481..
    val raw = Seq((1L, "a a b"), (2L, "b c")).toDF("doc_id", "text")
    val target = raw.filter($"doc_id" === 1L)
    val got = Curation.importanceWeights(raw, target, n = 1, buckets = None)
      .as[(Long, Long, Double, Double)].collect().sortBy(_._1).toSeq
    assert(got == Seq(
      (1L, 3L, 0.457581, 0.152527),
      (2L, 2L, -0.523248, -0.261624)))
  }

  test("dsirSelect: deterministic Gumbel-top-k, keys recomputed closed-form, hashed weights rank-track exact") {
    val docs = Tables.documents(spark, dir)
    val target = docs.filter($"lang" === "en")
    val exact = Curation.importanceWeights(docs, target, buckets = None).cache()
    val hashed = Curation.importanceWeights(docs, target, buckets = Some(4096)).cache()
    // bucketing re-keys features, never re-counts: per-doc totals identical
    assert(exact.select($"doc_id", $"n_feats".as("e"))
      .join(hashed.select($"doc_id", $"n_feats".as("h")), "doc_id")
      .filter($"e" =!= $"h").count() == 0)
    // hashed weights rank-track the exact (oracle-checked) weights
    val pairs = exact.select($"doc_id", $"log_w".as("we"))
      .join(hashed.select($"doc_id", $"log_w".as("wh")), "doc_id")
      .as[(Long, Double, Double)].collect()
    assert(pairs.length > 10)
    def ranks(v: Array[Double]): Array[Double] = {
      val idx = v.zipWithIndex.sortBy(_._1).map(_._2)
      val r = new Array[Double](v.length)
      idx.zipWithIndex.foreach { case (orig, rank) => r(orig) = rank.toDouble }
      r
    }
    def corr(a: Array[Double], b: Array[Double]): Double = {
      val n = a.length; val ma = a.sum / n; val mb = b.sum / n
      val cov = a.zip(b).map { case (x, y) => (x - ma) * (y - mb) }.sum
      val sa = math.sqrt(a.map(x => (x - ma) * (x - ma)).sum)
      val sb = math.sqrt(b.map(y => (y - mb) * (y - mb)).sum)
      cov / (sa * sb)
    }
    val rho = corr(ranks(pairs.map(_._2)), ranks(pairs.map(_._3)))
    info(f"spearman(exact, hashed-4096) = $rho%.4f")
    assert(rho >= 0.8, f"hashed weights lost the exact ranking: rho=$rho%.4f")
    // target-like docs score higher under the target model (the point
    // of DSIR): mean exact log_w of en docs above the non-en mean
    val byLang = exact.join(docs.select("doc_id", "lang"), "doc_id")
      .groupBy($"lang" === "en").agg(avg("log_w")).as[(Boolean, Double)]
      .collect().toMap
    assert(byLang(true) > byLang(false),
      s"en mean ${byLang(true)} should exceed non-en ${byLang(false)}")
    // the draw: exactly k, and equal to an independent local top-k
    // recomputation of log_w + inverse-Gumbel(seeded doc-id hash)
    val k = 20
    val sel = Curation.dsirSelectFromWeights(docs,
      Curation.importanceWeights(docs, target, buckets = Some(4096)), k)
    val got = sel.select("doc_id").as[Long].collect().toSet
    assert(got.size == k)
    val g = docs.select($"doc_id",
        -log(-log((pmod(xxhash64(concat($"doc_id".cast("string"), lit("dsir"))),
          lit(1L << 40)).cast("double") + lit(0.5)) / lit((1L << 40).toDouble))))
      .as[(Long, Double)].collect().toMap
    val logw = hashed.select($"doc_id", $"log_w").as[(Long, Double)].collect().toMap
    val expect = logw.toSeq
      .map { case (id, w) =>
        val key = BigDecimal(w + g(id))
          .setScale(6, scala.math.BigDecimal.RoundingMode.HALF_UP).toDouble
        (id, key)
      }
      .sortBy { case (id, key) => (-key, id) }
      .take(k).map(_._1).toSet
    assert(got == expect)
    // draw invariant under repartitioning
    val docs7 = docs.repartition(7)
    val again = Curation.dsirSelectFromWeights(docs7,
        Curation.importanceWeights(docs7, target, buckets = Some(4096)), k)
      .select("doc_id").as[Long].collect().toSet
    assert(again == got)
    // the 100 TB contract of the hashed mode: the bounded model table
    // BROADCASTS onto the raw tf table — scoring never exchanges the
    // corpus on the feature key
    val hashedPlan = Curation.importanceWeights(docs, target,
      buckets = Some(4096)).queryExecution.executedPlan.toString
    assert(hashedPlan.contains("BroadcastHashJoin"),
      s"hashed model join must broadcast:\n$hashedPlan")
    exact.unpersist(); hashed.unpersist()
  }

  test("blockFilter keeps null-text docs (rlike(null) must not eat them)") {
    val docsN = Seq((1L, "srcA", "fine text"), (2L, "srcA", null), (3L, "srcB", "bad stuff"))
      .toDF("doc_id", "source", "text")
    val kept = Curation.blockFilter(docsN, Seq("srcZ").toDF("source"), Seq("bad"))
      .select("doc_id").as[Long].collect().toSet
    // doc 2 matches no rule — null text is not a blocklist hit
    assert(kept == Set(1L, 2L))
  }
}
