package graft

import java.sql.Timestamp

import scala.util.Random

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.model.{EventRule, Threshold}
import graft.ops.{CycleDetection, ErrorRules, TextDedup}

/** Property-style invariants of the core operators over seeded random
  * event streams (SURVEY §5 item 4) — 10 deterministic trials each.
  */
class PropertySpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private val base = 1729036800000L

  /** Random (machine, offsetMs, isMarker) stream; unique (machine, offset)
    * so ordering is total.
    */
  private def randomStream(seed: Int): List[(String, Long, Boolean)] = {
    val rnd = new Random(seed)
    val n = 1 + rnd.nextInt(60)
    List.fill(n)((
      s"M${1 + rnd.nextInt(3)}",
      rnd.nextLong(5000L),
      rnd.nextDouble() < 0.25))
      .groupBy(r => (r._1, r._2)).values.map(_.head).toList
  }

  private def toDf(rows: List[(String, Long, Boolean)]) =
    rows.map { case (m, off, marker) =>
      (new Timestamp(base + off), m, if (marker) "Cycle_Start" else "Reading")
    }.toDF("event_timestamp", "machine_id", "event_name")

  test("cycle_seq equals the number of preceding-or-current markers, per machine") {
    (1 to 10).foreach { seed =>
      val rows = randomStream(seed)
      val out = CycleDetection.sessionizeByMarker(
        toDf(rows), Seq("machine_id"),
        Seq(col("event_timestamp")), col("event_name") === "Cycle_Start")
        .select("machine_id", "event_timestamp", "cycle_seq")
        .as[(String, Timestamp, Long)].collect()
      val expected = rows.groupBy(_._1).flatMap { case (m, rs) =>
        var seq = 0L
        rs.sortBy(_._2).map { case (_, off, marker) =>
          if (marker) seq += 1
          (m, base + off) -> seq
        }
      }
      out.foreach { case (m, ts, seq) =>
        assert(seq == expected((m, ts.getTime)), s"seed=$seed row ($m, $ts)")
      }
    }
  }

  test("scalable prefix-sum sessionization ≡ single window on random streams") {
    (1 to 6).foreach { seed =>
      val df = toDf(randomStream(100 + seed))
      val oc = Seq(col("event_timestamp"))
      val marker = col("event_name") === "Cycle_Start"
      val single = CycleDetection.sessionizeByMarker(df, Seq("machine_id"), oc, marker)
      val scalable = CycleDetection.sessionizeByMarkerScalable(
        df, Seq("machine_id"), oc, marker,
        bucketCol = floor(unix_micros(col("event_timestamp")) / lit(1000L * 1000000)))
      assert(single.exceptAll(scalable).count() == 0, s"seed=$seed")
      assert(scalable.exceptAll(single).count() == 0, s"seed=$seed")
    }
  }

  test("rule disjunction: flag(r1 ++ r2) == flag(r1) OR flag(r2) row-wise") {
    val r1 = Seq(EventRule("P", "E", Threshold.Above(100.0)))
    val r2 = Seq(EventRule("P", "E", Threshold.Below(0.0)))
    (1 to 6).foreach { seed =>
      val rnd = new Random(200 + seed)
      val vs = List.fill(40)(
        if (rnd.nextDouble() < 0.15) None else Some(rnd.between(-50.0f, 200.0f)))
      val df = vs.zipWithIndex.map { case (v, i) => (i, "P", "E", v) }
        .toDF("id", "parameter_name", "event_name", "value")
      def flags(rules: Seq[EventRule]) =
        ErrorRules.flag(df, rules).orderBy("id").select("is_error").as[Int].collect().toSeq
      val combined = flags(r1 ++ r2)
      val orOfParts = flags(r1).zip(flags(r2)).map { case (a, b) => math.max(a, b) }
      assert(combined == orOfParts, s"seed=$seed")
    }
  }

  test("in-cycle event count equals the sum of per-cycle group sizes") {
    (1 to 6).foreach { seed =>
      val seq = CycleDetection.sessionizeByMarker(
        toDf(randomStream(300 + seed)), Seq("machine_id"),
        Seq(col("event_timestamp")), col("event_name") === "Cycle_Start")
      val inCycle = seq.filter($"cycle_seq" > 0).count()
      val groupSum = seq.filter($"cycle_seq" > 0)
        .groupBy("machine_id", "cycle_seq").count()
        .agg(coalesce(sum("count"), lit(0L))).as[Long].collect().head
      assert(inCycle == groupSum, s"seed=$seed")
    }
  }

  test("missing config file tolerated: no rules, all clean (reference parity)") {
    assert(graft.model.Rules.loadFileOrEmpty("/no/such/config.json") == Seq.empty)
  }

  /** Random (key, timeMs, id) rows — duplicate times across AND within
    * keys on purpose, so tie semantics get exercised.
    */
  private def randomTimed(seed: Int, n: Int): List[(Int, Long, Long)] = {
    val rnd = new Random(seed)
    List.tabulate(n)(i => (1 + rnd.nextInt(3), rnd.nextLong(40L) * 1000L, i.toLong))
  }

  test("asOf equals the naive per-row argmax join") {
    (1 to 8).foreach { seed =>
      val lRows = randomTimed(seed, 25)
      val rRows = randomTimed(1000 + seed, 25)
      val left = lRows.map { case (k, t, i) => (k, new Timestamp(base + t), i) }
        .toDF("k", "t", "l_id")
      val right = rRows.map { case (k, t, i) => (k, new Timestamp(base + t), i) }
        .toDF("k", "rt", "r_id")
      val got = graft.ops.AsOfJoin.asOf(left, right, Seq("k"), "t", "rt",
        rightCols = Seq("r_id"), rightTiebreak = "r_id")
        .select("l_id", "r_r_id").as[(Long, Option[Long])].collect().toMap
      // naive reference: for each left row, argmax over all right rows
      // of the same key with rt <= t, latest time then largest id
      val expected = lRows.map { case (k, t, i) =>
        val ms = rRows.filter(r => r._1 == k && r._2 <= t)
        i -> (if (ms.isEmpty) None
              else Some(ms.maxBy(r => (r._2, r._3))._3))
      }.toMap
      assert(got == expected, s"seed=$seed")
    }
  }

  test("pointInInterval equals the naive containment filter join") {
    (1 to 8).foreach { seed =>
      val rnd = new Random(2000 + seed)
      val pRows = randomTimed(seed, 30)
      val iRows = List.tabulate(15) { i =>
        val k = 1 + rnd.nextInt(3)
        val lo = rnd.nextLong(40L) * 1000L
        (k, lo, lo + rnd.nextLong(15L) * 1000L, i.toLong)
      }
      val points = pRows.map { case (k, t, i) => (k, new Timestamp(base + t), i) }
        .toDF("k", "t", "p_id")
      val intervals = iRows.map { case (k, lo, hi, i) =>
        (k, new Timestamp(base + lo), new Timestamp(base + hi), i)
      }.toDF("k", "lo", "hi", "i_id")
      // bin width deliberately NOT aligned to the data's 1 s grid
      val got = graft.ops.RangeJoin.pointInInterval(points, intervals,
        Seq("k"), "t", "lo", "hi", binWidthMicros = 700000L)
        .select("p_id", "i_id").as[(Long, Long)].collect().toSet
      val expected = (for {
        (pk, pt, pid) <- pRows
        (ik, lo, hi, iid) <- iRows
        if pk == ik && pt >= lo && pt <= hi
      } yield (pid, iid)).toSet
      assert(got == expected, s"seed=$seed")
    }
  }

  test("chunk: every token appears in ceil-coverage windows on random docs") {
    (1 to 6).foreach { seed =>
      val rnd = new Random(3000 + seed)
      val docs = List.tabulate(8) { i =>
        (i.toLong, List.fill(1 + rnd.nextInt(40))(s"t${rnd.nextInt(9)}")
          .zipWithIndex.map { case (w, p) => s"$w$p" }.mkString(" "))
      }
      val win = 1 + rnd.nextInt(8)
      val st = 1 + rnd.nextInt(win) // stride in [1, win]
      val df = docs.toDF("doc_id", "text")
      val got = graft.ops.Packing.chunk(df, win, st)
        .select("doc_id", "chunk_idx", "chunk_text")
        .as[(Long, Int, String)].collect()
        .groupBy(_._1).view.mapValues(_.sortBy(_._2).map(_._3).toList).toMap
      docs.foreach { case (id, text) =>
        val toks = text.split(" ").toList
        val chunks = got(id)
        // driver-side replay of the slice arithmetic
        val expected =
          if (toks.length <= win) List(toks)
          else {
            val n = math.ceil((toks.length - win).toDouble / st).toInt + 1
            List.tabulate(n)(i => toks.slice(i * st, i * st + win))
          }
        assert(chunks == expected.map(_.mkString(" ")), s"seed=$seed doc=$id")
        // total coverage: concatenating stride-heads + last-chunk tail
        // reconstructs the doc
        assert(chunks.flatMap(_.split(" ")).toSet == toks.toSet, s"seed=$seed doc=$id")
      }
    }
  }

  test("funnel summary equals the naive sequential replay on random streams") {
    (1 to 8).foreach { seed =>
      val rnd = new Random(4000 + seed)
      val types = Vector("view", "click", "purchase", "other")
      // unique (user, time) so ordering is total and ties don't obscure
      // the strictly-after semantics under test
      val rows = List.fill(80)((1L + rnd.nextInt(6), rnd.nextLong(10000L),
        types(rnd.nextInt(types.length))))
        .groupBy(r => (r._1, r._2)).values.map(_.head).toList
      val df = rows.map { case (u, off, t) => (u, t, new Timestamp(base + off)) }
        .toDF("user_id", "event_type", "t")
      val got = graft.ops.Funnel.conversionSummary(
        df, "user_id", "event_type", "t", Seq("view", "click", "purchase"))
        .select("step_idx", "n_users").as[(Int, Long)].collect().toMap
      // driver replay: earliest view, earliest click strictly after it,
      // earliest purchase strictly after that
      val perUser = rows.groupBy(_._1).values.map { es =>
        def nextAfter(tpe: String, after: Option[Long]): Option[Long] =
          es.filter(e => e._3 == tpe && after.forall(e._2 > _))
            .map(_._2).minOption
        val t1 = nextAfter("view", None)
        val t2 = if (t1.isDefined) nextAfter("click", t1) else None
        val t3 = if (t2.isDefined) nextAfter("purchase", t2) else None
        (t1.isDefined, t2.isDefined, t3.isDefined)
      }.toList
      assert(got(1) == perUser.count(_._1), s"seed=$seed step1")
      assert(got(2) == perUser.count(_._2), s"seed=$seed step2")
      assert(got(3) == perUser.count(_._3), s"seed=$seed step3")
    }
  }

  test("bloom filter never rejects an inserted key, over random unicode-ish keys") {
    (1 to 4).foreach { seed =>
      val rnd = new Random(5000 + seed)
      val keys = List.fill(200)(
        List.fill(1 + rnd.nextInt(12))((rnd.nextInt(0xD7FF) + 1).toChar).mkString)
        .distinct
      val df = keys.toDF("key")
      val bloom = graft.functions.BloomFilter.build(df, col("key"), 1 << 13, 5)
      val kept = df.filter(
        graft.functions.BloomFilter.mightContain(bloom, col("key"), 1 << 13, 5)).count()
      assert(kept == keys.length, s"seed=$seed")
    }
  }

  test("bpe round-trip: tokens concatenate back to the source words on random corpora") {
    (1 to 4).foreach { seed =>
      val rnd = new Random(6000 + seed)
      val lexicon = List.fill(12)(
        List.fill(1 + rnd.nextInt(8))(('a' + rnd.nextInt(5)).toChar).mkString)
      val docs = List.tabulate(10) { i =>
        (i.toLong, List.fill(1 + rnd.nextInt(20))(lexicon(rnd.nextInt(lexicon.length)))
          .mkString(" "))
      }.toDF("doc_id", "text")
      val merges = graft.ops.TextAnalysis.bpeMerges(docs, numMerges = 8, minPairCount = 1L)
      val enc = graft.ops.TextAnalysis.bpeEncode(docs, merges)
        .select("doc_id", "tokens").as[(Long, Seq[String])].collect().toMap
      docs.select("doc_id", "text").as[(Long, String)].collect().foreach {
        case (id, text) =>
          assert(enc(id).mkString == text.replace(" ", ""), s"seed=$seed doc=$id")
          // every token is a contiguous substring of some source word
          enc(id).foreach(tok =>
            assert(text.split(" ").exists(_.contains(tok)), s"seed=$seed tok=$tok"))
      }
    }
  }

  test("rollingActiveUsers equals the naive trailing-window replay on random streams") {
    (1 to 6).foreach { seed =>
      val rnd = new Random(8000 + seed)
      val rows = List.fill(120)((1L + rnd.nextInt(8),
        new Timestamp(base + rnd.nextLong(20L) * 86400000L + rnd.nextLong(86400000L))))
      val win = 1 + rnd.nextInt(9)
      val got = graft.ops.Cohort.rollingActiveUsers(
        rows.toDF("user_id", "t"), "user_id", "t", windowDays = win)
        .collect().map(r => r.getDate(0).toString -> r.getLong(1)).toMap
      // toInstant, not toLocalDateTime: the latter is the JVM-default-TZ
      // wall clock, which under a non-UTC host disagrees with the
      // engine's session-TZ (UTC) day bucketing
      val dayOf = (ts: Timestamp) =>
        ts.toInstant.atZone(java.time.ZoneOffset.UTC).toLocalDate
      val byDay = rows.map { case (u, ts) => (dayOf(ts), u) }.distinct
      val days = byDay.map(_._1).distinct
      val expected = days.map { d =>
        d.toString -> byDay.filter { case (ed, _) =>
          !ed.isAfter(d) && ed.isAfter(d.minusDays(win))
        }.map(_._2).distinct.size.toLong
      }.toMap
      assert(got == expected, s"seed=$seed win=$win")
    }
  }

  test("transitionMatrix rows are stochastic: per-context probabilities sum to ~1") {
    (1 to 4).foreach { seed =>
      val rnd = new Random(9000 + seed)
      val types = Vector("a", "b", "c")
      val rows = List.fill(100)((1L + rnd.nextInt(5), rnd.nextLong(100000L),
        types(rnd.nextInt(3))))
        .groupBy(r => (r._1, r._2)).values.map(_.head).toList
        .zipWithIndex.map { case ((u, off, t), i) =>
          (u, i.toLong, t, new Timestamp(base + off))
        }
      val m = graft.ops.Funnel.transitionMatrix(
        rows.toDF("user_id", "event_id", "event_type", "t"),
        "user_id", "event_type", "t", "event_id")
        .select("prev_type", "p").as[(String, Double)].collect()
      m.groupBy(_._1).foreach { case (prev, ps) =>
        val sum = ps.map(_._2).sum
        // each p is individually rounded to 6dp, so the row sum is 1
        // within the accumulated rounding slack
        assert(math.abs(sum - 1.0) < 1e-5, s"seed=$seed prev=$prev sum=$sum")
      }
    }
  }

  test("profile invariants: nulls + non-nulls = rows, distinct <= non-nulls, min <= max") {
    (1 to 4).foreach { seed =>
      val rnd = new Random(9500 + seed)
      val rows = List.fill(80)((
        if (rnd.nextDouble() < 0.2) None else Some(rnd.nextInt(10).toDouble),
        if (rnd.nextDouble() < 0.2) None else Some(s"s${rnd.nextInt(6)}")))
      val prof = graft.ops.Profile.table(rows.toDF("v", "s"),
        numericCols = Seq("v"), stringCols = Seq("s")).collect()
      prof.foreach { r =>
        val (n, nulls, distinct) = (r.getLong(1), r.getLong(2), r.getLong(3))
        assert(n == 80L && nulls + distinct <= n && distinct <= n - nulls,
          s"seed=$seed ${r.getString(0)}")
      }
      val v = prof.find(_.getString(0) == "v").get
      if (!v.isNullAt(4)) assert(v.getDouble(4) <= v.getDouble(5))
    }
  }

  test("resampleToMixture: raising one share only ever ADDS copies (monotone)") {
    val docs = graft.core.Tables.documents(spark, "/root/testdata/sf0.001")
      .select("doc_id", "source", "text")
    def copies(share: Double): Map[Long, Int] =
      graft.ops.Curation.resampleToMixture(docs, Map("src0" -> share, "src1" -> 0.1))
        .filter($"source" === "src0")
        .groupBy("doc_id").agg(count(lit(1)).as("n"))
        .as[(Long, Long)].collect().map { case (d, n) => d -> n.toInt }.toMap
    val lo = copies(0.10)
    val hi = copies(0.25)
    assert(lo.nonEmpty)
    // monotone per doc: the content coin is fixed, the threshold only rises
    lo.foreach { case (d, n) => assert(hi(d) >= n, s"doc $d lost copies") }
    assert(hi.values.sum > lo.values.sum)
  }

  test("graph invariants: triangle counts and k-cores over random graphs") {
    (1 to 5).foreach { seed =>
      val rnd = new Random(seed)
      val nodes = (0 until 10).map(i => s"n$i")
      val edges = List.fill(25)((
        nodes(rnd.nextInt(nodes.size)), nodes(rnd.nextInt(nodes.size))))
      val tri = graft.ops.Graph.triangleCounts(edges.toDF("src", "dst"))
        .as[(String, Long, Long)].collect()
      // every triangle contributes to exactly 3 nodes
      assert(tri.map(_._3).sum % 3 == 0, s"seed $seed: sum divisible by 3")
      // a node's triangles fit inside its neighborhood's pair count
      tri.foreach { case (n, d, t) =>
        assert(t <= d * (d - 1) / 2, s"seed $seed node $n: $t > C($d,2)") }
      // k-cores are nested: (k+1)-core nodes ⊆ k-core nodes, and every
      // surviving in-core degree honors k
      val cores = (2 to 4).map(k =>
        k -> graft.ops.Graph.kCore(edges.toDF("src", "dst"), k)
          .as[(String, Long)].collect().toMap)
      cores.foreach { case (k, m) =>
        m.values.foreach(d => assert(d >= k, s"seed $seed k=$k: deg $d < k")) }
      cores.sliding(2).foreach {
        case Seq((_, outer), (_, inner)) =>
          assert(inner.keySet.subsetOf(outer.keySet), s"seed $seed: nesting")
        case _ =>
      }
    }
  }

  test("ewma equals the naive truncated adjust=True replay on random null-bearing series") {
    // The closed-form ResampleSpec checks pin fixed interleavings; this
    // replays the kernel contract on random series: take the last
    // `window` ROWS, drop nulls, weight the surviving values by recency
    // among themselves (a null row does NOT decay its neighbors extra).
    val decay = 0.5
    val window = 3
    (1 to 8).foreach { seed =>
      val rnd = new Random(900 + seed)
      val rows = (0 until 40).map { i =>
        (s"u${1 + rnd.nextInt(3)}", i.toLong,
          if (rnd.nextDouble() < 0.15) None else Some(rnd.nextDouble() * 10))
      }
      val df = rows.toDF("user_id", "event_id", "value")
      val got = graft.ops.Resample.ewma(df, keys = Seq("user_id"),
        orderCols = Seq("event_id"), valueCol = "value",
        decay = decay, window = window)
        .select("user_id", "event_id", "ewma")
        .as[(String, Long, Option[Double])].collect()
        .map { case (u, i, e) => (u, i) -> e }.toMap
      val expected = rows.groupBy(_._1).flatMap { case (u, rs) =>
        val ordered = rs.sortBy(_._2)
        ordered.indices.map { j =>
          val frame = ordered.slice(math.max(0, j - window + 1), j + 1)
            .flatMap(_._3)
          val n = frame.size
          // same fold order as the aggregate() expression: list order,
          // weight decay^(n-i) — bit-compatible up to libm pow ulps.
          // An all-null frame has no observations: the operator yields
          // null there, not NaN.
          val e = if (n == 0) None else {
            val num = frame.zipWithIndex.foldLeft(0.0) {
              case (acc, (v, i)) => acc + v * math.pow(decay, n - i - 1)
            }
            Some(num / ((1.0 - math.pow(decay, n.toDouble)) / (1.0 - decay)))
          }
          (u, ordered(j)._2) -> e
        }
      }
      rows.foreach { case (u, i, _) =>
        (got((u, i)), expected((u, i))) match {
          case (None, None) =>
          case (Some(g), Some(e)) =>
            assert(math.abs(g - e) <= 1e-12, s"seed=$seed ($u, $i): got $g expected $e")
          case (g, e) => fail(s"seed=$seed ($u, $i): got $g expected $e")
        }
      }
    }
  }

  test("dedupPipeline invariants: survivor minimality and keeper partition on random corpora") {
    // Over random dup-heavy corpora (half the docs are exact replicas of
    // the other half), the composed exact-first pipeline must satisfy:
    //   1. survivors = exactly one doc per distinct text, the MIN id;
    //   2. near-dup pair endpoints are drawn from the survivor set only;
    //   3. keepers = survivors minus near-dup cluster losers — a clean
    //      partition, no doc dropped or kept twice.
    (1 to 5).foreach { seed =>
      val rnd = new Random(100 + seed)
      val vocab = Vector("alpha", "beta", "gamma", "delta", "epsilon", "zeta")
      val nBase = 5 + rnd.nextInt(10)
      val baseTexts = List.fill(nBase)(
        List.fill(3 + rnd.nextInt(6))(vocab(rnd.nextInt(vocab.size))).mkString(" "))
      val texts = baseTexts ++ List.fill(nBase)(baseTexts(rnd.nextInt(nBase)))
      val docs = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
        .toDF("doc_id", "text")
      val pipe = TextDedup.dedupPipeline(docs, k = 2, tau = 0.8)

      val surv = pipe.survivors.select("doc_id", "text")
        .as[(Long, String)].collect()
      val byText = texts.zipWithIndex.groupBy(_._1)
      assert(surv.length == byText.size, s"seed=$seed: one survivor per distinct text")
      surv.foreach { case (id, t) =>
        assert(id == byText(t).map(_._2).min.toLong, s"seed=$seed: min-id keeper for '$t'")
      }

      val survIds = surv.map(_._1).toSet
      val ends = pipe.nearDupPairs.select("d1", "d2").as[(Long, Long)].collect()
      ends.foreach { case (a, b) =>
        assert(survIds(a) && survIds(b), s"seed=$seed: pair ($a,$b) outside survivors")
      }

      val keepIds = pipe.keepers.select("doc_id").as[Long].collect().toSet
      val losers = TextDedup.clusters(pipe.nearDupPairs)
        .filter(col("cluster_id") =!= col("id"))
        .select(col("id").cast("long")).as[Long].collect().toSet
      assert(keepIds.subsetOf(survIds), s"seed=$seed: keepers must be survivors")
      assert(keepIds == survIds -- losers, s"seed=$seed: keeper partition")
    }
  }

  test("randomProject is linear: proj(a + b) == proj(a) + proj(b), exactly") {
    // the projection is a fixed ±1 matrix-vector product, so it must be
    // EXACTLY linear on inputs where every float op is exact: small-int
    // components, dOut=4 so the √dOut divisor is exactly 2, results are
    // half-integers on which the 6-dp round is the identity. Any
    // inequality would mean the implementation is not the claimed
    // plan-side constant matrix
    val dIn = 8; val dOut = 4
    (1 to 10).foreach { seed =>
      val rnd = new Random(seed)
      def vec(): Seq[Float] = Seq.fill(dIn)((rnd.nextInt(7) - 3).toFloat)
      val a = vec(); val b = vec()
      val rows = Seq(
        (0L, a), (1L, b), (2L, a.zip(b).map { case (x, y) => x + y }))
        .toDF("vec_id", "embedding")
      val p = graft.ops.Similarity.randomProject(rows, dIn, dOut)
        .orderBy("vec_id").collect()
        .map(r => (1 to dOut).map(r.getDouble))
      (0 until dOut).foreach { j =>
        assert(p(2)(j) == p(0)(j) + p(1)(j),
          s"seed=$seed dim=$j: ${p(2)(j)} != ${p(0)(j)} + ${p(1)(j)}")
      }
    }
  }

  test("parseImageHeader never throws: random bytes, magic-prefixed garbage, truncations") {
    // the 100 TB robustness claim, fuzzed: any byte garbage must return
    // None or Some, never throw — including buffers that START like a
    // real container (magic bytes) and then dissolve into noise, the
    // shape real crawled corpora produce (truncated downloads, content
    // sniffed by extension, HTML error pages saved as .jpg)
    val magics: Seq[Array[Byte]] = Seq(
      Array(0x89, 'P', 'N', 'G', 0x0d, 0x0a, 0x1a, 0x0a).map(_.toByte),
      Array(0xff, 0xd8).map(_.toByte), // JPEG SOI
      "GIF89a".getBytes("US-ASCII"), "GIF87a".getBytes("US-ASCII"),
      "BM".getBytes("US-ASCII"),
      "RIFF????WEBP".getBytes("US-ASCII"),
      "RIFF????WEBPVP8 ".getBytes("US-ASCII"),
      "RIFF????WEBPVP8L".getBytes("US-ASCII"),
      "RIFF????WEBPVP8X".getBytes("US-ASCII"),
      Array[Byte]('I', 'I', 42, 0), Array[Byte]('M', 'M', 0, 42),
      Array[Byte]('I', 'I', 43, 0), Array[Byte]('M', 'M', 0, 43))
    (1 to 50).foreach { seed =>
      val rnd = new Random(seed)
      val noise = new Array[Byte](rnd.nextInt(200))
      rnd.nextBytes(noise)
      // pure noise — the pixel tier shares the never-throw contract:
      // whatever garbage the header parse lets through must still fail
      // CLEANLY in the chunk walk / zlib / pixel-array bounds
      graft.ops.Multimodal.parseImageHeader(noise): Unit
      graft.ops.Multimodal.decodePixels(noise): Unit
      // every magic + noise tail, at every truncation point
      magics.foreach { m =>
        val b = m ++ noise
        (0 to b.length).foreach { k =>
          val prefix = java.util.Arrays.copyOf(b, k)
          graft.ops.Multimodal.parseImageHeader(prefix): Unit
          graft.ops.Multimodal.decodePixels(prefix): Unit
        }
      }
    }
    // adversarial TIFF: IFD offset walking to the very edge, entry count
    // claiming more entries than the buffer holds, offsets at u32 max
    def le32b(v: Long): Array[Byte] = Array(
      (v & 0xff).toByte, ((v >> 8) & 0xff).toByte,
      ((v >> 16) & 0xff).toByte, ((v >> 24) & 0xff).toByte)
    val hostileTiffs = Seq(
      Array[Byte]('I', 'I', 42, 0) ++ le32b(0xffffffffL),
      Array[Byte]('I', 'I', 42, 0) ++ le32b(8L) ++ Array[Byte](-1, -1), // 65535 entries
      Array[Byte]('M', 'M', 0, 42) ++ Array[Byte](0, 0, 0, 8, 0, 3))
    hostileTiffs.foreach(b =>
      assert(graft.ops.Multimodal.parseImageHeader(b).isEmpty))
  }
}
