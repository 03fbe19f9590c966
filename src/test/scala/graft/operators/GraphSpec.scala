package graft.operators

import graft.TestSpark
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class GraphSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  /** Driver-side reference: the same recurrence over an adjacency map. */
  private def refPageRank(edges: Seq[(String, String, Double)],
      iterations: Int, damping: Double): Map[String, Double] = {
    val nodes = (edges.map(_._1) ++ edges.map(_._2)).distinct.sorted
    val n = nodes.size.toDouble
    val outW = edges.groupBy(_._1).map { case (s, es) => s -> es.map(_._3).sum }
    var r = nodes.map(_ -> 1.0 / n).toMap
    for (_ <- 1 to iterations) {
      val contrib = edges.groupBy(_._2).map { case (dst, es) =>
        dst -> es.map { case (s, _, w) => r(s) * w / outW(s) }.sum
      }
      val dangling = nodes.filterNot(outW.contains).map(r).sum
      r = nodes.map { v =>
        v -> BigDecimal((1.0 - damping) / n + damping *
            (contrib.getOrElse(v, 0.0) + dangling / n))
          .setScale(12, BigDecimal.RoundingMode.HALF_UP).toDouble
      }.toMap
    }
    r
  }

  test("pageRank matches the reference recurrence, conserves mass, floors the uncited node") {
    // a → hub, b → hub, hub → a, sink has only inbound (dangling node)
    val edges = Seq(
      ("a", "hub", 1.0), ("b", "hub", 3.0), ("hub", "a", 1.0),
      ("a", "sink", 1.0))
      .toDF("src", "dst", "weight")
    val out = Graph.pageRank(edges, iterations = 8).collect()
      .map(r => r.getString(0) -> r.getDouble(1)).toMap
    val ref = refPageRank(Seq(("a", "hub", 1.0), ("b", "hub", 3.0),
      ("hub", "a", 1.0), ("a", "sink", 1.0)), 8, 0.85)
    assert(out.keySet === ref.keySet)
    out.foreach { case (node, r) =>
      assert(math.abs(r - ref(node)) < 1e-9, s"$node: $r vs ${ref(node)}")
    }
    // rank mass is conserved (dangling redistribution keeps it stochastic)
    assert(math.abs(out.values.sum - 1.0) < 1e-6)
    // b has no inbound edges at all → it holds the minimum rank
    assert(out("b") === out.values.min)
  }

  test("personalizedPageRank matches the reference recurrence, conserves mass, gives non-seeds no restart mass") {
    // a → hub, b → hub, hub → a, sink has only inbound (dangling node)
    val es = Seq(("a", "hub", 1.0), ("b", "hub", 3.0), ("hub", "a", 1.0),
      ("a", "sink", 1.0))
    val out = Graph.personalizedPageRank(es.toDF("src", "dst", "weight"),
        Seq("a"), iterations = 8).collect()
      .map(r => r.getString(0) -> r.getDouble(1)).toMap
    // the recurrence by hand: teleport p = 1 on the seed, 0 elsewhere,
    // for both the restart term and the dangling mass; r₀ = p
    val d = 0.85
    val nodes = Seq("a", "b", "hub", "sink")
    val outW = es.groupBy(_._1).map { case (s, xs) => s -> xs.map(_._3).sum }
    def p(v: String) = if (v == "a") 1.0 else 0.0
    var ref = nodes.map(v => v -> p(v)).toMap
    for (_ <- 1 to 8) {
      val contrib = es.groupBy(_._2).map { case (dst, xs) =>
        dst -> xs.map { case (s, _, w) => ref(s) * w / outW(s) }.sum
      }
      val mass = ref("sink")
      ref = nodes.map { v =>
        v -> BigDecimal((1.0 - d) * p(v) + d *
            (contrib.getOrElse(v, 0.0) + mass * p(v)))
          .setScale(12, BigDecimal.RoundingMode.HALF_UP).toDouble
      }.toMap
    }
    assert(out.keySet === ref.keySet)
    out.foreach { case (node, r) =>
      assert(math.abs(r - ref(node)) < 1e-9, s"$node: $r vs ${ref(node)}")
    }
    assert(math.abs(out.values.sum - 1.0) < 1e-6)
    // b is no seed and nothing links to it: restart and dangling mass
    // both return to the seed only, so b holds exactly nothing
    assert(out("b") === 0.0)
    assert(out("hub") > 0.0 && out("sink") > 0.0)
  }

  test("pageRank is deterministic across input repartitioning") {
    val edges = (1L to 200L).map(i =>
        (s"n${i % 23}", s"n${(i * 7) % 23}", (i % 5 + 1).toDouble))
      .toDF("src", "dst", "weight")
    val a = Graph.pageRank(edges, iterations = 5)
      .orderBy("node").collect().map(r => (r.getString(0), r.getDouble(1)))
    val b = Graph.pageRank(edges.repartition(13), iterations = 5)
      .orderBy("node").collect().map(r => (r.getString(0), r.getDouble(1)))
    assert(a.toSeq === b.toSeq)
  }

  private def triples(df: org.apache.spark.sql.DataFrame): (Long, Long, Long) = {
    val r = df.collect().head
    (r.getLong(0), r.getLong(1), r.getLong(2))
  }

  test("triangleCount: K4, star, and a messy graph with loops/reverses/dups") {
    val k4 = (for { a <- 1 to 4; b <- 1 to 4 if a != b }
      yield (a.toLong, b.toLong)).toDF("src", "dst")
    assert(triples(Graph.triangleCount(k4)) === ((4L, 6L, 4L)))

    val star = (2L to 9L).map(i => (1L, i)).toDF("src", "dst")
    assert(triples(Graph.triangleCount(star)) === ((9L, 8L, 0L)))

    // one triangle 1-2-3, plus self-loops and reverse duplicates that
    // normalization must fold away
    val messy = Seq((1L, 1L), (1L, 2L), (2L, 1L), (2L, 3L), (3L, 1L),
      (1L, 3L), (3L, 3L)).toDF("src", "dst")
    assert(triples(Graph.triangleCount(messy)) === ((3L, 3L, 1L)))
  }

  test("triangleCount matches brute force on a pseudo-random graph") {
    val raw = (1 to 300).map(i => ((i * 17 % 37).toLong, (i * 31 % 37).toLong))
    val und = raw.map { case (a, b) => (math.min(a, b), math.max(a, b)) }
      .filter(e => e._1 != e._2).distinct
    val es = und.toSet
    val ns = und.flatMap(e => Seq(e._1, e._2)).distinct.sorted
    var expected = 0L
    for {
      i <- ns.indices; j <- i + 1 until ns.size; k <- j + 1 until ns.size
      if es((ns(i), ns(j))) && es((ns(j), ns(k))) && es((ns(i), ns(k)))
    } expected += 1
    val (nn, ne, nt) = triples(Graph.triangleCount(raw.toDF("src", "dst")))
    assert(nn === ns.size.toLong)
    assert(ne === und.size.toLong)
    assert(nt === expected)
  }

  test("kCore peels a tail off a triangle, survives dups/loops, empties a tree") {
    // triangle 1-2-3 with a pendant chain 3-4-5: the chain peels over two
    // rounds, the triangle is the 2-core; loops/reverse dups normalize away
    val g = Seq((1L, 2L), (2L, 3L), (3L, 1L), (1L, 3L), (3L, 4L), (4L, 5L),
      (5L, 5L)).toDF("src", "dst")
    val core = Graph.kCore(g, k = 2).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(core === Map(1L -> 2L, 2L -> 2L, 3L -> 2L))
    // a star is a tree: its 2-core is empty
    val star = (2L to 6L).map(i => (1L, i)).toDF("src", "dst")
    assert(Graph.kCore(star, k = 2).count() === 0L)
  }

  test("kCore diagnoses non-convergence within maxRounds instead of under-peeling") {
    // a 12-node path peels one node per end per round — needs ~6 rounds
    val path = (1L to 11L).map(i => (i, i + 1)).toDF("src", "dst")
    val e = intercept[RuntimeException] {
      Graph.kCore(path, k = 2, maxRounds = 2).count()
    }
    assert(e.getMessage.contains("no fixpoint"))
    assert(Graph.kCore(path, k = 2, maxRounds = 8).count() === 0L)
  }

  test("ssspRounds: cheaper long path overtakes the direct edge as rounds grow") {
    // 1-3 direct w=100; 1-2-3 costs 20 (2 hops); 1-4-5-3 costs 3 (3 hops)
    val e = Seq((1L, 2L, 10L), (2L, 3L, 10L), (1L, 3L, 100L),
      (1L, 4L, 1L), (4L, 5L, 1L), (5L, 3L, 1L)).toDF("src", "dst", "w")
    def distTo3(rounds: Int): Long =
      Graph.ssspRounds(e, 1L, rounds).filter($"node" === 3L)
        .head.getLong(1)
    assert(distTo3(1) === 100L, "one round sees only the direct edge")
    assert(distTo3(2) === 20L, "two rounds find the 2-hop path")
    assert(distTo3(3) === 3L, "three rounds find the cheapest path")
    assert(distTo3(6) === 3L, "extra rounds past the fixpoint are identity")
    // undirected: the source is reachable back at twice the min edge
    assert(Graph.ssspRounds(e, 3L, 6).filter($"node" === 1L)
      .head.getLong(1) === 3L)
  }

  test("labelPropagation: majority wins, ties go low, isolated keep their label") {
    // star: center 1 (label 9) with leaves 2,3,4 labeled 5,5,7 → center
    // adopts 5 in round 1; leaves all adopt the center's CURRENT label 9
    // (synchronous update). Node 99 is isolated and keeps label 42.
    val edges = Seq((1L, 2L), (1L, 3L), (1L, 4L)).toDF("src", "dst")
    val labels = Seq((1L, 9L), (2L, 5L), (3L, 5L), (4L, 7L), (99L, 42L))
      .toDF("node", "label")
    val r1 = Graph.labelPropagation(edges, labels, rounds = 1).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(r1 === Map(1L -> 5L, 2L -> 9L, 3L -> 9L, 4L -> 9L, 99L -> 42L))
    // tie case: two neighbors with labels 3 and 8 → the smaller wins
    val tie = Graph.labelPropagation(
      Seq((1L, 2L), (1L, 3L)).toDF("src", "dst"),
      Seq((1L, 0L), (2L, 8L), (3L, 3L)).toDF("node", "label"),
      rounds = 1).collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(tie(1L) === 3L)
  }

  test("linkPrediction scores distance-2 pairs, excludes edges, caps hubs") {
    // square 1-2-3-4-1: diagonals (1,3) and (2,4) have cn=2, jaccard
    // 2/(2+2-2) = 1.0; adjacent pairs never appear
    val square = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 1L)).toDF("src", "dst")
    val got = Graph.linkPrediction(square, maxDegree = 8, topK = 10).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    assert(got.toSet === Set((1L, 3L, 2L, 1.0), (2L, 4L, 2L, 1.0)))

    // add a hub adjacent to everything: with the cap at 4 the hub (degree
    // 8) is dropped and the square's scores are unchanged; without the
    // cap the hub inflates every cn and joins the candidates
    val hub = square.union(
      (1L to 8L).map(i => (99L, i)).toDF("src", "dst"))
    val capped = Graph.linkPrediction(hub, maxDegree = 4, topK = 10).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    assert(capped.toSet === Set((1L, 3L, 2L, 1.0), (2L, 4L, 2L, 1.0)))
    val uncapped = Graph.linkPrediction(hub, maxDegree = 64, topK = 100)
    assert(uncapped.filter(col("a") === 5L || col("b") === 5L).count() > 0)
  }

  /** Driver-side HITS reference: the identical L1-normalized coupled
    * recurrence with 12-d.p. HALF_UP rounding at every half-step. */
  private def refHits(edges: Seq[(String, String, Double)], iterations: Int)
      : Map[String, (Double, Double)] = {
    def rnd(x: Double): Double =
      BigDecimal(x).setScale(12, BigDecimal.RoundingMode.HALF_UP).toDouble
    val nodes = (edges.map(_._1) ++ edges.map(_._2)).distinct.sorted
    var h = nodes.map(_ -> 1.0 / nodes.size).toMap
    var a = Map.empty[String, Double]
    for (_ <- 1 to iterations) {
      val ar = nodes.map { v =>
        v -> rnd(edges.filter(_._2 == v).map { case (s, _, w) => w * h(s) }
          .foldLeft(0.0)(_ + _))
      }.toMap
      val at = rnd(ar.values.sum)
      a = nodes.map(v => v -> rnd(ar(v) / at)).toMap
      val hr = nodes.map { v =>
        v -> rnd(edges.filter(_._1 == v).map { case (_, d, w) => w * a(d) }
          .foldLeft(0.0)(_ + _))
      }.toMap
      val ht = rnd(hr.values.sum)
      h = nodes.map(v => v -> rnd(hr(v) / ht)).toMap
    }
    nodes.map(v => v -> (a(v), h(v))).toMap
  }

  test("hits matches the reference recurrence; mass normalizes; pure-source has auth 0") {
    val edges = Seq(
      ("a", "x", 2.0), ("b", "x", 1.0), ("c", "x", 1.0),
      ("a", "y", 1.0), ("x", "y", 1.0))
      .toDF("src", "dst", "weight")
    val out = Graph.hits(edges, iterations = 4).collect()
      .map(r => r.getString(0) -> (r.getDouble(1), r.getDouble(2))).toMap
    val ref = refHits(Seq(("a", "x", 2.0), ("b", "x", 1.0), ("c", "x", 1.0),
      ("a", "y", 1.0), ("x", "y", 1.0)), 4)
    assert(out.keySet === ref.keySet)
    out.foreach { case (n, (av, hv)) =>
      assert(math.abs(av - ref(n)._1) < 1e-9, s"auth $n: $av vs ${ref(n)._1}")
      assert(math.abs(hv - ref(n)._2) < 1e-9, s"hub $n: $hv vs ${ref(n)._2}")
    }
    // each score vector is L1-normalized
    assert(math.abs(out.values.map(_._1).sum - 1.0) < 1e-6)
    assert(math.abs(out.values.map(_._2).sum - 1.0) < 1e-6)
    // x receives every hub's endorsement → top authority; b and c have
    // no in-edges → authority exactly 0; y never links out → hub 0
    assert(out.maxBy(_._2._1)._1 === "x")
    assert(out("b")._1 === 0.0 && out("c")._1 === 0.0)
    assert(out("y")._2 === 0.0)
  }
}
