package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.ops.Graph

/** PageRank semantics: symmetry, rank conservation (incl. dangling
  * mass), and exact agreement with a driver-side reference iteration. */
class GraphSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  /** Driver-side reference power iteration, same arithmetic. */
  private def reference(
      edges: Seq[(String, String, Double)], iters: Int, d: Double,
      sources: Option[Seq[String]] = None): Map[String, Double] = {
    val nodes = (edges.map(_._1) ++ edges.map(_._2)).distinct.sorted
    val n = nodes.length
    val t = (v: String) => sources match {
      case Some(s) => if (s.contains(v)) 1.0 / s.size else 0.0
      case None => 1.0 / n
    }
    val outW = edges.groupBy(_._1).view.mapValues(_.map(_._3).sum).toMap
    var r = nodes.map(v => v -> t(v)).toMap
    (1 to iters).foreach { _ =>
      val dangling = nodes.filterNot(outW.contains).map(r).sum
      val inc = edges.groupBy(_._2).view.mapValues(
        _.map { case (s, _, w) => r(s) * (w / outW(s)) }.sum).toMap
      r = nodes.map(v =>
        v -> (t(v) * ((1 - d) + d * dangling) + d * inc.getOrElse(v, 0.0))).toMap
    }
    r
  }

  private def run(edges: Seq[(String, String, Double)], iters: Int): Map[String, Double] =
    Graph.pageRank(edges.toDF("src", "dst", "weight"), iters)
      .as[(String, Double)].collect().toMap

  test("edge cases: empty graph, self-loops, zero/null weights dropped") {
    assert(run(Seq.empty, iters = 3).isEmpty)
    // self-loop only: the single node keeps all rank
    val self = run(Seq(("a", "a", 1.0)), iters = 5)
    assert(self == Map("a" -> 1.0))
    // zero-weight edges are ignored entirely (b appears only via a real edge)
    val z = run(Seq(("a", "b", 1.0), ("b", "c", 0.0)), iters = 3)
    assert(z.keySet == Set("a", "b"))
  }

  test("two-node cycle: perfectly symmetric ranks") {
    val got = run(Seq(("a", "b", 1.0), ("b", "a", 1.0)), iters = 7)
    assert(got("a") == 0.5 && got("b") == 0.5)
  }

  test("ranks sum to 1 even with dangling nodes (mass is redistributed, not leaked)") {
    val edges = Seq(
      ("a", "b", 2.0), ("a", "c", 1.0), ("b", "c", 1.0),
      ("c", "d", 1.0)) // d is dangling
    val got = run(edges, iters = 12)
    assert(math.abs(got.values.sum - 1.0) < 1e-9, s"sum=${got.values.sum}")
    assert(got.size == 4)
  }

  test("personalized PageRank: mass localizes near the seed, sums to 1, matches reference") {
    // a chain a->b->c->d plus a far node e->d: seeding at 'a' must rank
    // b above d, and e (unreachable from a) gets rank only via teleport
    val edges = Seq(
      ("a", "b", 1.0), ("b", "c", 1.0), ("c", "d", 1.0), ("e", "d", 1.0))
    val got = Graph.personalizedPageRank(edges.toDF("src", "dst", "weight"),
      sources = Seq("a"), iters = 12)
      .as[(String, Double)].collect().toMap
    assert(math.abs(got.values.sum - 1.0) < 1e-9)
    val exp = reference(edges, iters = 12, d = 0.85, sources = Some(Seq("a")))
    got.foreach { case (v, r) =>
      assert(math.abs(r - exp(v)) < 1e-9, s"node $v: $r vs ${exp(v)}")
    }
    assert(got("a") > got("b") && got("b") > got("c"),
      "rank decays with distance from the seed")
    assert(got("e") == 0.0, "a node unreachable from the seed set gets nothing")
  }

  test("matches the driver-side reference iteration exactly (weighted, dangling, hub)") {
    val edges = Seq(
      ("a", "b", 3.0), ("a", "c", 1.0), ("b", "a", 1.0),
      ("c", "d", 2.0), ("d", "a", 1.0), ("e", "a", 5.0)) // e gets only teleport
    val got = run(edges, iters = 10)
    val exp = reference(edges, iters = 10, d = 0.85)
    assert(got.keySet == exp.keySet)
    got.foreach { case (v, r) =>
      assert(math.abs(r - exp(v)) < 1e-9, s"node $v: $r vs ${exp(v)}")
    }
    // the hub (everyone points at a) outranks everything
    assert(got("a") == got.values.max)
  }

  /** Driver-side brute-force triangle reference: all node triples. */
  private def refTriangles(edges: Seq[(String, String)]): Map[String, Long] = {
    val e = edges.collect { case (a, b) if a != b =>
      if (a < b) (a, b) else (b, a) }.toSet
    val nodes = e.flatMap(p => Seq(p._1, p._2)).toSeq.sorted
    val tris = nodes.combinations(3).filter { case Seq(x, y, z) =>
      e((x, y)) && e((x, z)) && e((y, z)) }.toSeq
    nodes.map(n => n -> tris.count(_.contains(n)).toLong).toMap
  }

  private def runTriangles(edges: Seq[(String, String)]): Map[String, (Long, Long)] =
    Graph.triangleCounts(edges.toDF("src", "dst"))
      .as[(String, Long, Long)].collect()
      .map { case (n, d, t) => n -> (d, t) }.toMap

  test("triangles: K4 minus an edge, duplicates/reverses/self-loops collapse") {
    // {a,b,c,d} complete minus (c,d): triangles abc and abd only
    val edges = Seq(
      ("a", "b"), ("b", "a"), ("a", "a"),            // dup + reverse + loop
      ("a", "c"), ("b", "c"), ("a", "d"), ("d", "b"))
    val got = runTriangles(edges)
    assert(got == Map(
      "a" -> (3L, 2L), "b" -> (3L, 2L), "c" -> (2L, 1L), "d" -> (2L, 1L)))
  }

  test("triangles: triangle-free graphs count zero everywhere") {
    // a 4-cycle and a star have no triangles
    val cyc = runTriangles(Seq(("a", "b"), ("b", "c"), ("c", "d"), ("d", "a")))
    assert(cyc.values.forall(_._2 == 0L))
    val star = runTriangles(Seq(("h", "x"), ("h", "y"), ("h", "z")))
    assert(star("h") == (3L, 0L) && star("x") == (1L, 0L))
  }

  /** Driver-side reference peel. */
  private def refKCore(edges: Seq[(String, String)], k: Int): Map[String, Int] = {
    var e = edges.collect { case (a, b) if a != b =>
      if (a < b) (a, b) else (b, a) }.toSet
    var changed = true
    while (changed) {
      val deg = (e.toSeq.map(_._1) ++ e.toSeq.map(_._2))
        .groupBy(identity).view.mapValues(_.size).toMap
      val keep = deg.filter(_._2 >= k).keySet
      val e2 = e.filter(p => keep(p._1) && keep(p._2))
      changed = e2 != e; e = e2
    }
    (e.toSeq.map(_._1) ++ e.toSeq.map(_._2))
      .groupBy(identity).view.mapValues(_.size).toMap
  }

  private def runKCore(edges: Seq[(String, String)], k: Int): Map[String, Long] =
    Graph.kCore(edges.toDF("src", "dst"), k)
      .as[(String, Long)].collect().toMap

  test("kCore: cascading peel strips the tail, keeps the triangle") {
    // triangle abc with tail c-d-e: dropping e (deg 1) drops d, two rounds
    val edges = Seq(("a", "b"), ("b", "c"), ("c", "a"), ("c", "d"), ("d", "e"))
    assert(runKCore(edges, 2) == Map("a" -> 2L, "b" -> 2L, "c" -> 2L))
    // a star has no 2-core at all
    assert(runKCore(Seq(("h", "x"), ("h", "y"), ("h", "z")), 2).isEmpty)
    // K5 at k=4: everything survives with in-core degree 4
    val k5 = for { a <- 'a' to 'e'; b <- 'a' to 'e' if a < b }
      yield (a.toString, b.toString)
    assert(runKCore(k5, 4).values.toSet == Set(4L))
  }

  test("kCore: refuses to present a partially-peeled graph at maxRounds") {
    // a path peels only its two endpoints per round — O(diameter)
    // rounds — so a tight maxRounds must FAIL, not return nodes with
    // deg < k as the "core"
    val path = (1 to 12).sliding(2).map(s => (s"n${s(0)}", s"n${s(1)}")).toSeq
    val e = intercept[IllegalArgumentException] {
      Graph.kCore(path.toDF("src", "dst"), k = 2, maxRounds = 3)
    }
    assert(e.getMessage.contains("did not converge"))
    // with the default budget the true (empty) 2-core comes back
    assert(runKCore(path, 2).isEmpty)
  }

  test("kCore: matches the reference peel on a random graph across k") {
    val rnd = new scala.util.Random(7)
    val nodes = (0 until 12).map(i => f"n$i%02d")
    val edges = for {
      _ <- 0 until 30
      a = nodes(rnd.nextInt(nodes.size)); b = nodes(rnd.nextInt(nodes.size))
    } yield (a, b)
    for (k <- Seq(2, 3, 4)) {
      val exp = refKCore(edges, k).map { case (n, d) => n -> d.toLong }
      assert(runKCore(edges, k) == exp, s"k=$k")
    }
  }

  test("triangles: matches brute-force reference on a random graph (hub included)") {
    val rnd = new scala.util.Random(42)
    val nodes = (0 until 14).map(i => f"n$i%02d")
    // random edges plus a deliberate hub connected to everyone —
    // exercises the degree-orientation tie-breaks
    val edges = (for {
      _ <- 0 until 40
      a = nodes(rnd.nextInt(nodes.size)); b = nodes(rnd.nextInt(nodes.size))
    } yield (a, b)) ++ nodes.tail.map(("hub", _))
    val got = runTriangles(edges)
    val exp = refTriangles(edges)
    assert(got.view.mapValues(_._2).toMap == exp)
  }
}
