package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.core.Tables
import graft.ops.Similarity

/** ANN variants vs the brute-force baseline on the real embeddings. */
class SimilaritySpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private val dir = "/root/testdata/sf0.001"
  private lazy val emb = Tables.embeddings(spark, dir).cache()

  test("codegen vector_dot is bit-identical to the higher-order-function dot") {
    val diff = emb.select(
      (Similarity.dot(spark)(col("embedding"), col("embedding")) -
        ReferenceForms.dotHof(col("embedding"), col("embedding"))).as("d"))
      .agg(max(abs(col("d")))).as[Double].collect().head
    assert(diff == 0.0)
  }

  test("spreadForVectorWork spreads a one-split corpus and no-ops below the floor") {
    // r20: the n² bruteForcePairs kernel is map-side in a broadcast
    // nested-loop join, so its parallelism IS the streamed side's
    // partition count; the spread must (a) fan a big single-split frame
    // out, (b) leave a micro-batch alone (below the 512 KB floor the
    // exchange costs more than the serial kernel), (c) never exceed
    // defaultParallelism
    val par = spark.sparkContext.defaultParallelism
    // 200k rows clears the 512 KB floor even under catalyst's MINIMUM
    // width estimate for this projection (the stats estimator prices an
    // array column near its element default, not its real 64·8 B); only
    // getNumPartitions is read — the n² kernel never runs here
    val big = spark.range(0, 200000, 1, numPartitions = 1)
      .select($"id".as("vec_id"),
        array((0 until 64).map(i => ($"id" + i).cast("double")): _*).as("embedding"))
    val nBig = Similarity.spreadForVectorWork(big).rdd.getNumPartitions
    assert(nBig > 1 && nBig <= par, s"expected 1 < n <= $par, got $nBig")
    val small = spark.range(0, 50, 1, numPartitions = 1)
      .select($"id".as("vec_id"),
        array((0 until 64).map(i => ($"id" + i).cast("double")): _*).as("embedding"))
    assert(Similarity.spreadForVectorWork(small).rdd.getNumPartitions == 1)
    // results are partition-independent: same verified pair set from the
    // single-split fixture and a manually spread twin
    val a = Similarity.bruteForcePairs(emb.coalesce(1), tau = 0.45)
      .select("a_id", "b_id").as[(Long, Long)].collect().toSet
    val b = Similarity.bruteForcePairs(emb.repartition(3), tau = 0.45)
      .select("a_id", "b_id").as[(Long, Long)].collect().toSet
    assert(a == b && a.nonEmpty)
  }

  test("topK returns exactly k deterministic neighbors per query") {
    val out = Similarity.topK(emb, emb.filter($"vec_id" < 3), k = 5).cache()
    val counts = out.groupBy("q_id").count().as[(Long, Long)].collect().toMap
    assert(counts == Map(0L -> 5L, 1L -> 5L, 2L -> 5L))
    // deterministic across runs
    val again = Similarity.topK(emb, emb.filter($"vec_id" < 3), k = 5)
    assert(out.exceptAll(again).count() == 0)
  }

  test("LSH pairs are a verified subset of brute force, with measured recall") {
    val tau = 0.4
    val brute = Similarity.bruteForcePairs(emb, tau)
      .select("a_id", "b_id").as[(Long, Long)].collect().toSet
    val plain = Similarity.lshPairs(emb, tau, numPlanes = 4, numTables = 8)
      .select("a_id", "b_id").as[(Long, Long)].collect().toSet
    assert(brute.nonEmpty)
    assert(plain.subsetOf(brute),
      "cosine-verified candidates can never exceed brute force")
    val recallPlain = (brute intersect plain).size.toDouble / brute.size
    // p=4, L=8: P[collide | cos=0.4] ≈ 0.75
    assert(recallPlain >= 0.5, s"plain recall $recallPlain of ${brute.size}")
  }

  test("lshPairs with a reliable checkpoint dir equals the default path") {
    val dir = java.nio.file.Files.createTempDirectory("graft_lsh_ckpt").toString
    val default = Similarity.lshPairs(emb, 0.4)
      .select("a_id", "b_id").as[(Long, Long)].collect().toSet
    val reliable = Similarity.lshPairs(emb, 0.4, checkpointDir = Some(dir))
      .select("a_id", "b_id").as[(Long, Long)].collect().toSet
    assert(default.nonEmpty && reliable == default)
  }

  test("IVF top-k recall@10 vs exact top-k") {
    val queries = emb.filter($"vec_id" < 10)
    val exact = Similarity.topK(emb, queries, k = 10)
      .select("q_id", "n_id").as[(Long, Long)].collect().toSet
    val ivf = Similarity.ivfTopK(emb, queries, k = 10, centroidStride = 50L, nProbe = 3)
      .select("q_id", "n_id").as[(Long, Long)].collect().toSet
    val recall = (exact intersect ivf).size.toDouble / exact.size
    assert(recall >= 0.3, s"ivf recall@10 $recall")
  }

  test("persisted IVF index: probe results equal in-memory IVF; lists are partition dirs") {
    val queries = emb.filter($"vec_id" < 10)
    val idx = java.nio.file.Files.createTempDirectory("graft_ivf").toString
    Similarity.writeIvfIndex(emb, idx, centroidStride = 50L)
    val indexed = Similarity.ivfTopKIndexed(spark, idx, queries, k = 10, nProbe = 3)
    val inMemory = Similarity.ivfTopK(emb, queries, k = 10, centroidStride = 50L, nProbe = 3)
    assert(indexed.count() == inMemory.count())
    // the probe join dynamically prunes the partitioned list scan — only
    // the probed list directories are read
    assert(indexed.queryExecution.executedPlan.toString.contains("dynamicpruning"),
      "indexed probe must trigger dynamic partition pruning on list_id")
    assert(inMemory.exceptAll(indexed).count() == 0)
    assert(indexed.exceptAll(inMemory).count() == 0)
    // the on-disk layout is one directory per inverted list inside each
    // batch slice — the unit of partition pruning a probe reads
    val listDirs = new java.io.File(s"$idx/lists/batch=base").listFiles()
      .filter(_.getName.startsWith("list_id=")).map(_.getName).toSeq
    assert(listDirs.nonEmpty)
    val nCentroids = spark.read.parquet(s"$idx/centroids").count()
    assert(listDirs.size <= nCentroids)
  }

  test("appendIvfIndex: grown index equals frozen-centroid in-memory IVF; replay idempotent") {
    val half1 = emb.filter($"vec_id" % 2 === 0)
    val half2 = emb.filter($"vec_id" % 2 =!= 0)
    val queries = emb.filter($"vec_id" < 10)
    val idx = java.nio.file.Files.createTempDirectory("graft_ivf_app").toString
    Similarity.writeIvfIndex(half1, idx, centroidStride = 50L)
    Similarity.appendIvfIndex(spark, half2, idx, "b0")
    // materialize before any slice rewrite: a replay swaps the slice's
    // files, so a pre-replay lazy plan must not be re-evaluated after it
    def rows(df: org.apache.spark.sql.DataFrame): Set[(Long, Long, Int)] =
      df.select("q_id", "n_id", "rk").as[(Long, Long, Int)].collect().toSet
    val grown = rows(
      Similarity.ivfTopKIndexed(spark, idx, queries, k = 10, nProbe = 3))
    // reference: the whole corpus assigned in memory under the index's
    // FROZEN centroids (appends never retrain)
    val centroids = spark.read.parquet(s"$idx/centroids")
    val ref = rows(Similarity.ivfTopKWithCentroids(
      emb, centroids, queries, k = 10, nProbe = 3))
    assert(grown == ref)
    // replaying the same tag overwrites its slice — identical results,
    // identical list-stat profile
    val statsBefore = Similarity.ivfListStats(spark, idx)
      .as[(String, Long, Long)].collect().sortBy(r => (r._1, r._2)).toSeq
    Similarity.appendIvfIndex(spark, half2, idx, "b0")
    spark.catalog.refreshByPath(s"$idx/lists")
    val statsAfter = Similarity.ivfListStats(spark, idx)
      .as[(String, Long, Long)].collect().sortBy(r => (r._1, r._2)).toSeq
    assert(statsAfter == statsBefore)
    val replayed = rows(
      Similarity.ivfTopKIndexed(spark, idx, queries, k = 10, nProbe = 3))
    assert(replayed == grown)
  }

  test("appendIvfPqIndex: grown IVFPQ serves appended vectors; codes consistent with lists") {
    val half1 = emb.filter($"vec_id" % 2 === 0)
    val half2 = emb.filter($"vec_id" % 2 =!= 0)
    val queries = emb.filter($"vec_id" < 10)
    val idx = java.nio.file.Files.createTempDirectory("graft_ivfpq_app").toString
    Similarity.writeIvfPqIndex(half1, idx, centroidStride = 50L, m = 8, ks = 16, maxIter = 3)
    IndexSetup.appendIvfPqIndex(spark, half2, idx, "b0")
    // every appended vector is servable: codes and lists slices agree row-for-row
    val lists = spark.read.parquet(s"$idx/lists").select($"n_id".as("vec_id"), $"list_id", $"batch")
    val codes = spark.read.parquet(s"$idx/codes").select($"vec_id", $"list_id", $"batch")
    assert(lists.count() == emb.count())
    assert(codes.count() == emb.count())
    assert(lists.exceptAll(codes.select($"vec_id".as("n_id"), $"list_id", $"batch")
      .withColumnRenamed("n_id", "vec_id")).count() == 0)
    // grown-index ADC search returns k rows per query including odd
    // (appended) neighbors — the appended slice is really probed
    val res = Similarity.ivfPqTopKIndexed(spark, idx, queries, k = 10, nProbe = 3)
    val perQ = res.groupBy("q_id").count().as[(Long, Long)].collect()
    assert(perQ.length == 10 && perQ.forall(_._2 == 10L))
    assert(res.filter($"n_id" % 2 =!= 0).count() > 0,
      "appended (odd-id) vectors must be reachable through the grown index")
  }

  test("PQ codes: m codes per vector, all inside [0, ks), stable under repartitioning") {
    val cb = Similarity.pqCodebooks(emb, m = 8, ks = 16, maxIter = 3)
    val codes = Similarity.pqEncode(emb, cb)
      .select($"vec_id", $"codes").as[(Long, Seq[Int])].collect().toMap
    assert(codes.size == emb.count())
    codes.values.foreach { cs =>
      assert(cs.length == 8)
      assert(cs.forall(c => c >= 0 && c < 16))
    }
    // decimal-summed means + hash-seeded init: bit-identical codebooks and
    // codes at any input partitioning (the repo-wide determinism contract)
    val cb7 = Similarity.pqCodebooks(emb.repartition(7), m = 8, ks = 16, maxIter = 3)
    val codes7 = Similarity.pqEncode(emb.repartition(5), cb7)
      .select($"vec_id", $"codes").as[(Long, Seq[Int])].collect().toMap
    assert(codes7 == codes)
  }

  test("PQ ADC top-k with exact re-rank: recall@10 vs brute force") {
    val queries = emb.filter($"vec_id" < 10)
    val exact = Similarity.topK(emb, queries, k = 10)
      .select("q_id", "n_id").as[(Long, Long)].collect().toSet
    val pq = Similarity.pqTopK(emb, queries, k = 10, m = 8, ks = 16,
      maxIter = 3, rerank = 8)
      .select("q_id", "n_id").as[(Long, Long)].collect().toSet
    assert(pq.size == exact.size, "PQ must return exactly k per query")
    val recall = (exact intersect pq).size.toDouble / exact.size
    assert(recall >= 0.6, s"pq recall@10 $recall")
    // re-rank is exact cosine, so every returned (q, n) that IS a true
    // top-k member must carry the same rank brute force gives it only if
    // all better candidates survived ADC; weaker but always-true pin:
    // returned cosines are genuine (match brute-force scores)
    // k = corpus size makes the brute lookup exhaustive regardless of
    // fixture growth; a missing key would otherwise crash the test
    // instead of failing with the intended drift message
    val bruteScores = Similarity.topK(emb, queries, k = emb.count().toInt)
      .select("q_id", "n_id", "cosine").as[(Long, Long, Double)].collect()
      .map { case (q, n, c) => (q, n) -> c }.toMap
    Similarity.pqTopK(emb, queries, k = 10, m = 8, ks = 16, maxIter = 3, rerank = 8)
      .select("q_id", "n_id", "cosine").as[(Long, Long, Double)].collect()
      .foreach { case (q, n, c) =>
        assert(math.abs(bruteScores((q, n)) - c) < 1e-12, s"($q,$n) score drift")
      }
  }

  test("IVFPQ: probed-list ADC + exact re-rank — recall pinned, both scans pruned") {
    val queries = emb.filter($"vec_id" < 10)
    val idx = java.nio.file.Files.createTempDirectory("graft_ivfpq").toString
    Similarity.writeIvfPqIndex(emb, idx, centroidStride = 50L,
      m = 8, ks = 16, maxIter = 3)
    val out = Similarity.ivfPqTopKIndexed(spark, idx, queries,
      k = 10, nProbe = 3, rerank = 8).cache()
    // exactly k rows per query, dense ranks
    val counts = out.groupBy("q_id").count().as[(Long, Long)].collect()
    assert(counts.nonEmpty && counts.forall(_._2 == 10L))
    // recall vs EXACT top-k: losses come only from unprobed lists (IVF)
    // or ADC misses (PQ) — composition must not be worse than the
    // weaker of its parts by much; measured on this corpus
    val exact = Similarity.topK(emb, queries, k = 10)
      .select("q_id", "n_id").as[(Long, Long)].collect().toSet
    val got = out.select("q_id", "n_id").as[(Long, Long)].collect().toSet
    val recall = (exact intersect got).size.toDouble / exact.size
    assert(recall >= 0.3, s"ivfpq recall@10 $recall")
    // re-rank cosines are genuine: every returned score equals the
    // brute-force cosine for that (q, n)
    // k = corpus size makes the brute lookup exhaustive regardless of
    // fixture growth; a missing key would otherwise crash the test
    // instead of failing with the intended drift message
    val bruteScores = Similarity.topK(emb, queries, k = emb.count().toInt)
      .select("q_id", "n_id", "cosine").as[(Long, Long, Double)].collect()
      .map { case (q, n, c) => (q, n) -> c }.toMap
    out.select("q_id", "n_id", "cosine").as[(Long, Long, Double)].collect()
      .foreach { case (q, n, c) =>
        assert(math.abs(bruteScores((q, n)) - c) < 1e-12, s"($q,$n) score drift")
      }
    // the 100 TB claim: BOTH the code scan and the raw-list re-rank read
    // prune on list_id via the broadcast probe/survivor joins
    val plan = out.queryExecution.executedPlan.toString
    assert("dynamicpruning".r.findAllIn(plan).length >= 2,
      s"expected dynamic partition pruning on codes AND lists:\n$plan")
    out.unpersist()
  }

  test("ext_ann_ivf_pq_probe equals the build-included IVFPQ catalog query") {
    // The probe-only serving entry must be indistinguishable from the
    // build-included one: the cached prebuilt index is bit-identical to a
    // fresh build (deterministic k-means/codebooks), so the SAME rows come
    // back. Run the probe twice — the second call must serve the cache
    // (same result, no rebuild divergence).
    val dir = "/root/testdata/sf0.001"
    def rows(name: String): Seq[String] =
      SparkEntry.queries(name)(spark, dir).collect().map(_.toString).sorted.toSeq
    val full = rows("ext_ann_ivf_pq")
    val probe = rows("ext_ann_ivf_pq_probe")
    val probeAgain = rows("ext_ann_ivf_pq_probe")
    assert(probe == full,
      "probe over the prebuilt cached index diverged from the build-included query")
    assert(probeAgain == probe, "second (cache-served) probe diverged")
  }

  test("IVFPQ property: recall floor and exact re-rank hold on adversarial geometry") {
    // The fixture-corpus pins above measure ONE geometry. This property
    // samples adversarial ones — tight clusters (thin Voronoi margins),
    // far outliers (quantizer range abuse), and EXACT duplicate vectors
    // (cosine ties; the case where id-based recall is ill-defined) — and
    // asserts the two invariants that must hold on every corpus:
    //  1. re-rank exactness: every returned cosine equals the brute-force
    //     cosine for that (q, n) pair — ADC error can cost recall, never
    //     score fidelity;
    //  2. with ALL lists probed (isolating PQ+re-rank from IVF misses),
    //     tie-tolerant recall@10 >= 0.6: a returned neighbor counts if its
    //     true cosine reaches the exact k-th-best cosine (duplicates make
    //     id-set recall ill-posed, so recall is defined on scores).
    import org.scalacheck.Gen
    import org.scalacheck.rng.Seed

    val dim = 16
    def vecGen(lo: Double, hi: Double): Gen[Array[Float]] =
      Gen.listOfN(dim, Gen.choose(lo, hi)).map(_.map(_.toFloat).toArray)
    val corpusGen: Gen[Seq[Array[Float]]] = for {
      nClusters <- Gen.choose(2, 4)
      centers <- Gen.listOfN(nClusters, vecGen(-1.0, 1.0)
        .retryUntil(v => math.sqrt(v.map(x => x * x.toDouble).sum) > 0.5))
      sizes <- Gen.listOfN(nClusters, Gen.choose(25, 40))
      jitters <- Gen.listOfN(sizes.sum, vecGen(-0.05, 0.05))
      outliers <- Gen.listOfN(5, vecGen(-100.0, 100.0)
        .retryUntil(v => math.sqrt(v.map(x => x * x.toDouble).sum) > 1.0))
      nDups <- Gen.choose(5, 10)
    } yield {
      val members = centers.zip(sizes).flatMap { case (c, n) =>
        (0 until n).map(_ => c) // jitter applied below, index-aligned
      }.zip(jitters).map { case (c, j) =>
        c.zip(j).map { case (a, b) => a + b }
      }
      val base = members ++ outliers
      // exact duplicates of evenly-spaced base members: float-identical
      val dups = (0 until nDups).map(i => base((i * 13) % base.size).clone())
      base ++ dups
    }

    for (seed <- Seq(11L, 42L, 2026L)) {
      val corpus = corpusGen.pureApply(Gen.Parameters.default, Seed(seed))
        .zipWithIndex.map { case (v, i) => (i.toLong, v) }
      val df = corpus.toDF("vec_id", "embedding").cache()
      val n = corpus.size
      val stride = 40L
      val nLists = ((n + stride - 1) / stride).toInt
      val idx = java.nio.file.Files.createTempDirectory(s"ivfpq_prop_$seed").toString
      Similarity.writeIvfPqIndex(df, idx, centroidStride = stride,
        m = 4, ks = 8, maxIter = 2)
      // queries: a cluster member, a duplicate (last id), an outlier-ish
      // tail member — ids are stable under the generator's layout
      val qIds = Set(0L, (n - 1).toLong, (n / 2).toLong)
      val queries = df.filter(col("vec_id").isin(qIds.toSeq: _*))
      val out = Similarity.ivfPqTopKIndexed(spark, idx, queries,
        k = 10, nProbe = nLists, rerank = 8)
        .select("q_id", "n_id", "cosine").as[(Long, Long, Double)].collect()
      withClue(s"seed $seed: ") {
        assert(out.nonEmpty)
        // 1. exactness: genuine cosines for every returned pair
        val brute = Similarity.topK(df, queries, k = n - 1)
          .select("q_id", "n_id", "cosine").as[(Long, Long, Double)].collect()
        val bruteScore = brute.map { case (q, nn, c) => (q, nn) -> c }.toMap
        out.foreach { case (q, nn, c) =>
          assert(math.abs(bruteScore((q, nn)) - c) < 1e-12,
            s"($q,$nn) re-rank score drift")
        }
        // 2. tie-tolerant recall with all lists probed
        val kthBest = brute.groupBy(_._1).map { case (q, rows) =>
          q -> rows.map(_._3).sorted(Ordering[Double].reverse)
            .take(10).lastOption.getOrElse(Double.MinValue)
        }
        qIds.foreach { q =>
          val returned = out.filter(_._1 == q)
          val hits = returned.count(_._3 >= kthBest(q) - 1e-9)
          val recall = hits.toDouble / math.min(10, returned.length.max(1))
          assert(recall >= 0.6,
            s"query $q recall $recall (${returned.length} returned)")
        }
      }
      df.unpersist()
    }
  }

  test("dedupByEmbedding: near-dup pairs share a cluster, keeper is the component min") {
    val dd = Similarity.dedupByEmbedding(emb, tau = 0.45).cache()
    assert(dd.count() == emb.count())
    val label = dd.select("vec_id", "cluster_id").as[(Long, Long)].collect().toMap
    val pairs = Similarity.bruteForcePairs(emb, tau = 0.45)
      .select("a_id", "b_id").as[(Long, Long)].collect()
    assert(pairs.nonEmpty, "corpus has near-dup embeddings at tau=0.45")
    pairs.foreach { case (a, b) => assert(label(a) == label(b), s"pair ($a,$b) split") }
    // cluster ids are component minima; keeper flag marks exactly them
    val keepers = dd.filter($"is_keeper" === 1).select("vec_id").as[Long].collect().toSet
    label.groupBy(_._2).foreach { case (cl, members) =>
      assert(cl == members.keys.min)
      assert(keepers.contains(cl))
    }
    // vectors in no pair keep themselves
    val paired = pairs.flatMap(p => Seq(p._1, p._2)).toSet
    label.filter(kv => !paired.contains(kv._1)).foreach { case (id, cl) =>
      assert(id == cl)
    }
    dd.unpersist()
  }

  test("randomProject: deterministic JL cut preserves neighborhood structure") {
    val dIn = 64; val dOut = 16
    // deterministic: the sign matrix is a pure function of the seed, so
    // two independent projections (and a repartitioned input) agree
    val p1 = Similarity.randomProject(emb, dIn, dOut).cache()
    val p2 = Similarity.randomProject(emb.repartition(7), dIn, dOut)
    assert(p1.exceptAll(p2).count() == 0 && p2.exceptAll(p1).count() == 0)
    // JL distance preservation: squared L2 distances between projected
    // vectors track the originals. Collect both spaces and measure the
    // median relative distortion over the all-pairs set of 40 vectors.
    val origs = emb.filter($"vec_id" < 40)
      .select($"vec_id", $"embedding").as[(Long, Seq[Float])].collect()
      .map { case (id, v) => id -> v.map(_.toDouble).toArray }.toMap
    val projCols = (0 until dOut).map(j => col(s"proj_$j"))
    val projs = p1.filter($"vec_id" < 40)
      .select($"vec_id" +: projCols: _*)
      .collect().map(r => r.getLong(0) ->
        (1 to dOut).map(r.getDouble).toArray).toMap
    def d2(a: Array[Double], b: Array[Double]): Double =
      a.zip(b).map { case (x, y) => (x - y) * (x - y) }.sum
    val ids = origs.keys.toSeq.sorted
    val ratios = for {
      i <- ids.indices; j <- (i + 1) until ids.size
      o = d2(origs(ids(i)), origs(ids(j))) if o > 0
    } yield d2(projs(ids(i)), projs(ids(j))) / o
    val sortedR = ratios.sorted
    val medR = sortedR(sortedR.size / 2)
    info(f"median d2 ratio = $medR%.3f; p10 = ${sortedR(sortedR.size / 10)}%.3f; " +
      f"p90 = ${sortedR(sortedR.size * 9 / 10)}%.3f")
    // E[ratio] = 1 under JL; at dOut=16 the spread is wide but the bulk
    // must bracket 1 — measured on this corpus/matrix: median 1.089,
    // p10 0.631, p90 1.702 (deterministic: fixed data, fixed signs)
    assert(medR > 0.6 && medR < 1.5, f"median distortion off: $medR%.3f")
    assert(sortedR(sortedR.size / 10) > 0.3 &&
      sortedR(sortedR.size * 9 / 10) < 2.0)
    // neighborhood utility: a 4x width cut is aggressive, so projected
    // top-10 is a candidate GENERATOR, not the final ranking — the scale
    // recipe is project -> wide candidate set -> exact re-rank in the
    // original space (the PQ/ADC re-rank pattern). Measured mean recall
    // 0.42 here (deterministic); pinned at its floor
    val recalls = ids.take(5).map { q =>
      def top10(space: Map[Long, Array[Double]]): Set[Long] =
        ids.filter(_ != q).sortBy(n => d2(space(q), space(n))).take(10).toSet
      (top10(origs) intersect top10(projs)).size / 10.0
    }
    info(s"projected top-10 recalls: ${recalls.mkString(", ")}")
    assert(recalls.sum / recalls.size >= 0.4,
      s"mean projected recall below measured floor: $recalls")
    // widened candidates recover: true top-10 inside projected top-20
    val recall20 = ids.take(5).map { q =>
      def top(space: Map[Long, Array[Double]], k: Int): Set[Long] =
        ids.filter(_ != q).sortBy(n => d2(space(q), space(n))).take(k).toSet
      (top(origs, 10) intersect top(projs, 20)).size / 10.0
    }
    info(s"top-10-in-projected-top-20 recalls: ${recall20.mkString(", ")}")
    assert(recall20.sum / recall20.size >= recalls.sum / recalls.size,
      "widening candidates must not lose recall")
    p1.unpersist()
  }
}
