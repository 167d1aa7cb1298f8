package graft

import org.scalatest.concurrent.Eventually._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.time.{Seconds, Span}
import org.apache.spark.graphx.{Edge, Graph}
import graft.graph.{CommunityDetection, PubGraph}

class GraphSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  test("G1 builder: vertices and edges of a 2-publication fixture") {
    val pubs = Seq(
      ("paper one", Seq("ann", "bob"), Some("icml"), None: Option[String]),
      ("paper two", Seq("ann"), None: Option[String], Some("acm"))
    ).toDF("title", "authors", "venue", "publisher")

    val v = PubGraph.vertices(pubs).as[(String, Int)].collect().toMap
    assert(v == Map(
      "paper one" -> PubGraph.VTypePaper, "paper two" -> PubGraph.VTypePaper,
      "ann" -> PubGraph.VTypeAuthor, "bob" -> PubGraph.VTypeAuthor,
      "icml" -> PubGraph.VTypeVenue, "acm" -> PubGraph.VTypePublisher))

    val e = PubGraph.edges(pubs).select("src", "dst").as[(String, String)].collect().toSet
    assert(e == Set(
      ("paper one", "icml"),          // PAPER -> VENUE
      ("paper two", "acm"),           // PAPER -> PUBLISHER
      ("ann", "paper one"), ("bob", "paper one"),  // WRITTEN: every author
      ("ann", "paper two"),
      ("ann", "bob")))                // COAUTHOR i<j once
  }

  test("G1 clique cap: star topology for hyper papers") {
    val pubs = Seq(("big", (1 to 5).map(i => s"a$i"), Some("v"), None: Option[String]))
      .toDF("title", "authors", "venue", "publisher")
    val e = PubGraph.edges(pubs, maxCliqueAuthors = 3)
      .select("src", "dst").as[(String, String)].collect()
    assert(!e.exists { case (s, d) => s.startsWith("a") && d.startsWith("a") })
    assert(e.count { case (_, d) => d == "big" } == 5) // WRITTEN edges kept
  }

  test("G3 Pregel: two disconnected triangles converge to two communities") {
    val sc = spark.sparkContext
    val edges = sc.parallelize(Seq(
      Edge(1L, 2L, 1.0), Edge(2L, 3L, 1.0), Edge(1L, 3L, 1.0),
      Edge(4L, 5L, 1.0), Edge(5L, 6L, 1.0), Edge(4L, 6L, 1.0)))
    val g = Graph.fromEdges(edges, 0L)
    val labeled = CommunityDetection.run(g, iterations = 10, delta = 0.5)
    val labels = labeled.vertices.collect().toMap
    assert(Set(1L, 2L, 3L).map(labels) .size == 1, "triangle 1 should share a label")
    assert(Set(4L, 5L, 6L).map(labels).size == 1, "triangle 2 should share a label")
    assert(labels(1L) != labels(4L), "triangles should differ")
  }

  /** Plain-Scala replay of ExactPageRank's integer iteration — an
    * implementation-independent reference for the Spark version. */
  private def referenceRanks(edges: Seq[(Long, Long)], iters: Int): Map[Long, Long] = {
    import graft.graph.ExactPageRank._
    val und = edges ++ edges.map { case (a, b) => (b, a) }
    val nbrs = und.groupBy(_._1).view.mapValues(_.map(_._2)).toMap
    val deg = nbrs.view.mapValues(_.size.toLong).toMap
    var rank = deg.keys.map(_ -> Scale).toMap
    for (_ <- 1 to iters) {
      val contrib = rank.map { case (v, r) => v -> r / deg(v) }
      rank = nbrs.map { case (v, ns) =>
        v -> (Reset + (DampNum * ns.map(contrib).sum) / DampDen)
      }
    }
    rank
  }

  test("ExactPageRank matches a plain-Scala replay bit-for-bit") {
    val fixture = Seq((1L, 2L), (2L, 3L), (1L, 3L), (3L, 4L))
    val edges = fixture.toDF("src", "dst")
    val got = graft.graph.ExactPageRank.run(edges, iters = 10)
      .as[(Long, Long)].collect().toMap
    assert(got == referenceRanks(fixture, 10))
    // the degree-3 hub of the triangle+pendant must outrank everyone
    assert(got(3L) == got.values.max)
    SparkEntry.releaseCaches()
  }

  /** Plain-Scala replay of the PERSONALIZED iteration (seeded restart). */
  private def referencePpr(edges: Seq[(Long, Long)], seed: Long, iters: Int): Map[Long, Long] = {
    import graft.graph.ExactPageRank._
    val und = edges ++ edges.map { case (a, b) => (b, a) }
    val nbrs = und.groupBy(_._1).view.mapValues(_.map(_._2)).toMap
    val deg = nbrs.view.mapValues(_.size.toLong).toMap
    var rank = deg.keys.map(v => v -> (if (v == seed) Scale else 0L)).toMap
    for (_ <- 1 to iters) {
      val contrib = rank.map { case (v, r) => v -> r / deg(v) }
      rank = nbrs.map { case (v, ns) =>
        v -> ((if (v == seed) Reset else 0L) +
          (DampNum * ns.map(contrib).sum) / DampDen)
      }
    }
    rank
  }

  test("personalized PageRank: bit-exact vs replay; mass decays with distance from the seed") {
    import graft.graph.ExactPageRank.Scale
    // path 1-2-3-4 plus a triangle 1-5-6: seed mass should order by
    // graph proximity, which GLOBAL PageRank (degree-driven) does not
    val fixture = Seq((1L, 2L), (2L, 3L), (3L, 4L), (1L, 5L), (1L, 6L), (5L, 6L))
    val got = graft.graph.ExactPageRank
      .personalizedRun(fixture.toDF("src", "dst"), seed = 1L, iters = 10)
      .as[(Long, Long)].collect().toMap
    assert(got == referencePpr(fixture, 1L, 10))
    assert(got(1L) == got.values.max, "the seed holds the most mass")
    assert(got(2L) > got(3L) && got(3L) > got(4L), "mass decays along the path")
    assert(got(5L) > got(4L), "seed-adjacent beats 3-hops-away")
    // personalized mass is bounded by the seed's unit, never V·Scale
    assert(got.values.sum <= Scale)
    SparkEntry.releaseCaches()
  }

  test("ExactPageRank is invariant under repartitioning (integer determinism)") {
    val fixture = (1L to 40L).flatMap(i => Seq((i, i % 20 + 41L), (i, (i * 7) % 20 + 41L)))
      .distinct
    val a = graft.graph.ExactPageRank.run(fixture.toDF("src", "dst"), iters = 10)
      .as[(Long, Long)].collect().toMap
    SparkEntry.releaseCaches()
    val b = graft.graph.ExactPageRank.run(
        fixture.toDF("src", "dst").repartition(13), iters = 10)
      .as[(Long, Long)].collect().toMap
    SparkEntry.releaseCaches()
    assert(a == b)
    // floor division only ever loses mass: total stays within (V*Scale] and
    // the leak across 10 iterations is bounded (sanity on the fixed point)
    val v = a.size.toLong
    import graft.graph.ExactPageRank.Scale
    assert(a.values.sum <= v * Scale)
    assert(a.values.sum >= (v * Scale * 97L) / 100L)
  }

  /** Plain-Scala replay of ExactCommunities' integer superstep — an
    * implementation-independent reference for the Spark version. */
  private def referenceLabels(edges: Seq[(Long, Long, Long)], iters: Int): Map[Long, Long] = {
    import graft.graph.ExactCommunities._
    val und = edges ++ edges.map { case (a, b, w) => (b, a, w) }
    val nbrs = und.groupBy(_._1).view.mapValues(_.map(e => (e._2, e._3))).toMap
    var state: Map[Long, (Long, Long)] = nbrs.keys.map(v => v -> (v, Scale)).toMap
    for (_ <- 1 to iters) {
      state = nbrs.map { case (v, ns) =>
        val sums = ns.groupBy { case (u, _) => state(u)._1 }
          .map { case (lbl, es) => lbl -> es.map { case (u, w) => state(u)._2 * w }.sum }
        val (bestLbl, bestSum) = sums.minBy { case (lbl, s) => (-s, lbl) }
        v -> (bestLbl, math.min(bestSum - DeltaHalf, Cap))
      }
    }
    state.view.mapValues(_._1).toMap
  }

  test("ExactCommunities matches a plain-Scala replay bit-for-bit") {
    // weighted, asymmetric: a heavy pair bridged to a light triangle
    val fixture = Seq((1L, 2L, 5L), (2L, 3L, 1L), (3L, 4L, 2L), (4L, 5L, 2L), (3L, 5L, 2L))
    val got = graft.graph.ExactCommunities.run(fixture.toDF("src", "dst", "w"), iters = 10)
      .as[(Long, Long)].collect().toMap
    SparkEntry.releaseCaches()
    assert(got == referenceLabels(fixture, 10))
  }

  test("ExactCommunities: two disconnected triangles, invariant under repartitioning") {
    val fixture = Seq(
      (1L, 2L, 1L), (2L, 3L, 1L), (1L, 3L, 1L),
      (4L, 5L, 1L), (5L, 6L, 1L), (4L, 6L, 1L))
    val a = graft.graph.ExactCommunities.run(fixture.toDF("src", "dst", "w"), iters = 10)
      .as[(Long, Long)].collect().toMap
    SparkEntry.releaseCaches()
    val b = graft.graph.ExactCommunities.run(
        fixture.toDF("src", "dst", "w").repartition(13), iters = 10)
      .as[(Long, Long)].collect().toMap
    SparkEntry.releaseCaches()
    assert(a == b, "labels must be partitioning-invariant")
    assert(Set(1L, 2L, 3L).map(a).size == 1, "triangle 1 should share a label")
    assert(Set(4L, 5L, 6L).map(a).size == 1, "triangle 2 should share a label")
    assert(a(1L) != a(4L), "triangles should differ")
    // while under the cap the integer tier IS the float tier ×Scale:
    // the Pregel/GraphX implementation must adopt identical labels here
    val sc = spark.sparkContext
    val g = Graph.fromEdges(sc.parallelize(fixture.map { case (s, d, w) =>
      Edge(s, d, w.toDouble) }), 0L)
    val float = CommunityDetection.run(g, iterations = 10, delta = 0.5)
      .vertices.collect().toMap
    assert(float == a, "integer and float tiers must agree under the cap")
  }

  test("GraphOps.kcoreRounds: K4 survives k=3, support collapse peels in cascade") {
    // K4 on {1,2,3,4} (the 3-core) plus vertex 5 tied to 4, 6, 7 and
    // leaves 6, 7 tied only to 5. Round 1 peels the degree-1 leaves
    // 6 and 7 SIMULTANEOUSLY; that collapses 5 (initial degree 3,
    // survives round 1) to degree 1, so it peels in round 2 — the
    // cascade that distinguishes round-by-round peeling from a simple
    // degree filter.
    val k4 = Seq((1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L), (3L, 4L))
    val support = Seq((4L, 5L), (5L, 6L), (5L, 7L))
    val edges = (k4 ++ support).toDF("src", "dst")
    val got = graft.graph.GraphOps.kcoreRounds(edges, k = 3, rounds = 6)
      .as[(Long, Long)].collect().toMap
    SparkEntry.releaseCaches()
    assert(got == Map(1L -> 0L, 2L -> 0L, 3L -> 0L, 4L -> 0L,
      5L -> 2L, 6L -> 1L, 7L -> 1L))
  }

  test("checkpointTracked: releaseCaches frees k-core's per-round checkpoint blocks") {
    def persisted = spark.sparkContext.getPersistentRDDs.keySet.toSet
    val before = persisted
    val edges = Seq((1L, 2L), (2L, 3L), (1L, 3L), (3L, 4L)).toDF("src", "dst")
    graft.graph.GraphOps.kcoreRounds(edges, k = 2, rounds = 3).collect()
    val cut = CacheRegistry.checkpointTracked(spark.range(100).toDF("v"))
    assert(cut.count() == 100)
    assert((persisted -- before).nonEmpty)
    SparkEntry.releaseCaches()
    assert((persisted -- before).isEmpty,
      "every persist pin and checkpointed RDD is unregistered")
    // the blocks themselves go asynchronously; once gone, the cut
    // relation can no longer be read
    eventually(timeout(Span(30, Seconds))) {
      val e = intercept[org.apache.spark.SparkException](cut.count())
      assert(Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
        .exists(t => String.valueOf(t.getMessage).contains("Checkpoint block")), e)
    }
  }

  test("GraphOps.ssspRounds: later rounds refine shortcut distances; disconnected is -1") {
    // Path 1 -2- 2 -3- 3 -4- 4 -5- 5 plus heavy shortcut 1 -10- 4 and a
    // disconnected pair {6,7}. The shortcut reaches 4 at cost 10 in
    // round 1; the path refines it to 2+3+4 = 9 in round 3 and pulls 5
    // down to 14 in round 4 — the refinement that distinguishes
    // min-plus relaxation from BFS. 6 and 7 are never reached.
    val edges = Seq(
      (1L, 2L, 2L), (2L, 3L, 3L), (3L, 4L, 4L), (4L, 5L, 5L),
      (1L, 4L, 10L), (6L, 7L, 1L)).toDF("src", "dst", "w")
    val got = graft.graph.GraphOps.ssspRounds(edges, rounds = 4)
      .as[(Long, Long)].collect().toMap
    SparkEntry.releaseCaches()
    assert(got == Map(1L -> 0L, 2L -> 2L, 3L -> 5L, 4L -> 9L, 5L -> 14L,
      6L -> -1L, 7L -> -1L))
  }

  test("GraphOps.clusteringCoeff: triangle + pendant, by hand") {
    // Triangle {1,2,3} plus pendant 3—4: deg(1)=deg(2)=2, deg(3)=3,
    // deg(4)=1; each triangle vertex closes 1 triangle, 4 closes none.
    // coeff(1)=coeff(2)=2·1/(2·1)=1, coeff(3)=2·1/(3·2)=1/3,
    // coeff(4)=0 (degree below 2 — no pair to close).
    val edges = Seq((1L, 2L), (1L, 3L), (2L, 3L), (3L, 4L)).toDF("src", "dst")
    val got = graft.graph.GraphOps.clusteringCoeff(edges)
      .as[(Long, Long, Long, Double)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    SparkEntry.releaseCaches()
    assert(got == Map(
      1L -> ((2L, 1L, 1.0)), 2L -> ((2L, 1L, 1.0)),
      3L -> ((3L, 1L, 1.0 / 3)), 4L -> ((1L, 0L, 0.0))))
  }

  test("GraphOps.commonNeighbors: path pair surfaces; hub cap amputates the star's wedges") {
    // Path 1—2—3 (so the non-edge (1,3) shares neighbor 2) plus a
    // degree-4 hub 10 serving leaves 4..7. Uncapped, the hub alone
    // contributes C(4,2)=6 candidate pairs; with hubCap=3 it is
    // excluded from wedge service and only (1,3) remains.
    val edges = Seq((1L, 2L), (2L, 3L), (4L, 10L), (5L, 10L), (6L, 10L), (7L, 10L))
      .toDF("src", "dst")
    val capped = graft.graph.GraphOps.commonNeighbors(edges, hubCap = 3, topK = 20)
      .as[(Long, Long, Long)].collect().toSeq
    val open = graft.graph.GraphOps.commonNeighbors(edges, hubCap = 1000, topK = 20)
      .as[(Long, Long, Long)].collect().toSeq
    SparkEntry.releaseCaches()
    assert(capped == Seq((1L, 3L, 1L)))
    assert(open == Seq((1L, 3L, 1L), (4L, 5L, 1L), (4L, 6L, 1L), (4L, 7L, 1L),
      (5L, 6L, 1L), (5L, 7L, 1L), (6L, 7L, 1L)))
  }

  test("GraphOps wedge family: folded hub audit fails loudly past the cap, passes under it") {
    // Planted degree-4 hub with audit cap 3 → the audit (which rides
    // the operator's own degree table — no separate degree job) must
    // throw BEFORE any wedge enumeration; the same graph under cap 4
    // grades clean and returns the uncapped board. All three wedge
    // operators share auditHubs, so one loud + one clean case each.
    val star = Seq((4L, 10L), (5L, 10L), (6L, 10L), (7L, 10L)).toDF("src", "dst")
    def loud(f: => org.apache.spark.sql.DataFrame): Unit = {
      val e = intercept[IllegalArgumentException](f.collect())
      assert(e.getMessage.contains("exceeds hubCap"), e.getMessage)
      SparkEntry.releaseCaches()
    }
    loud(graft.graph.GraphOps.commonNeighbors(star, hubCap = 3, topK = 20,
      audit = Some("cn_test")))
    loud(graft.graph.GraphOps.neighborJaccard(star, hubCap = 3, topK = 20,
      audit = Some("nj_test")))
    loud(graft.graph.GraphOps.twoHopReach(star, hubCap = 3,
      audit = Some("th_test")))
    val clean = graft.graph.GraphOps.commonNeighbors(star, hubCap = 4, topK = 20,
      audit = Some("cn_test")).as[(Long, Long, Long)].collect().toSeq
    SparkEntry.releaseCaches()
    assert(clean == Seq((4L, 5L, 1L), (4L, 6L, 1L), (4L, 7L, 1L),
      (5L, 6L, 1L), (5L, 7L, 1L), (6L, 7L, 1L)))
  }

  test("GraphOps.neighborJaccard: normalization inverts the raw-count ranking") {
    // Hub 10 serves leaves 1..4; pair (1,2) also shares private
    // neighbor 20, so cn(1,2)=2 — but deg(1)=deg(2)=2 gives
    // J = 2/(2+2-2) = 1.0. Pair (3,4) has cn=1 through the hub with
    // deg 1 each → J = 1/(1+1-1) = 1.0 too; tiny twin pair (30,31)
    // through private neighbor 40 → J = 1.0. The discriminating case:
    // (1,3) shares the hub (cn=1) with degs 2,1 → J = 1/2 — raw
    // common-neighbor counts rank (1,2) [cn=2] above everything, and
    // J agrees here, but every J=1.0 pair ties ABOVE J=0.5 regardless
    // of its raw count, which is the normalization this operator adds.
    val edges = Seq((1L, 10L), (2L, 10L), (3L, 10L), (4L, 10L),
      (1L, 20L), (2L, 20L), (30L, 40L), (31L, 40L)).toDF("src", "dst")
    val got = graft.graph.GraphOps.neighborJaccard(edges, hubCap = 1000, topK = 20)
      .as[(Long, Long, Long, Long, Long, Double)].collect().toSeq
    SparkEntry.releaseCaches()
    // J=1.0 tier first (full-tuple tie-break), then the 0.5 tier:
    // (1,3),(1,4),(2,3),(2,4) through the hub, plus (10,20) — the
    // centers themselves share leaves 1 and 2.
    assert(got.takeWhile(_._6 == 1.0).map(g => (g._1, g._2)) ==
      Seq((1L, 2L), (3L, 4L), (30L, 31L)), s"unit-J tier drifted: $got")
    assert(got.find(g => (g._1, g._2) == ((1L, 3L))).get._6 == 0.5)
    assert(got.find(g => (g._1, g._2) == ((1L, 4L))).get._6 == 0.5)
    // raw-count champion (1,2) does NOT outrank the tiny twins once
    // normalized: same J, decided by tie-break, not by cn=2
    assert(got.head._3 == 2L && got(1)._3 == 1L && got(1)._6 == 1.0)
  }

  test("GraphOps.twoHopReach: path by hand; hub cap suppresses wedge expansion only") {
    // Path 1—2—3—4: ends reach 2 vertices, middles reach 3.
    val path = Seq((1L, 2L), (2L, 3L), (3L, 4L)).toDF("src", "dst")
    val got = graft.graph.GraphOps.twoHopReach(path, hubCap = 1000)
      .as[(Long, Long)].collect().toMap
    SparkEntry.releaseCaches()
    assert(got == Map(1L -> 2L, 2L -> 3L, 3L -> 3L, 4L -> 2L))
    // Star: hub 10 serves leaves 20..23. Capped at 3, the hub cannot
    // serve as an intermediate (no leaf-to-leaf 2-hop pairs), but the
    // direct hub—leaf edges still count — nothing disconnects.
    val star = Seq((20L, 10L), (21L, 10L), (22L, 10L), (23L, 10L)).toDF("src", "dst")
    val capped = graft.graph.GraphOps.twoHopReach(star, hubCap = 3)
      .as[(Long, Long)].collect().toMap
    val open = graft.graph.GraphOps.twoHopReach(star, hubCap = 1000)
      .as[(Long, Long)].collect().toMap
    SparkEntry.releaseCaches()
    assert(capped == Map(10L -> 4L, 20L -> 1L, 21L -> 1L, 22L -> 1L, 23L -> 1L))
    assert(open == Map(10L -> 4L, 20L -> 4L, 21L -> 4L, 22L -> 4L, 23L -> 4L))
  }

  test("GraphOps.assortativity: triangle + pendant, by hand; regular graph guards to 0") {
    // Triangle {1,2,3} + pendant 3—4: directed degree pairs over the 8
    // orientations give n=8, Σj=18, Σjk=38, Σj²=44 → r = (8·38−18²)
    // / (8·44−18²) = −20/28 (the pendant drags r negative).
    val edges = Seq((1L, 2L), (1L, 3L), (2L, 3L), (3L, 4L)).toDF("src", "dst")
    val got = graft.graph.GraphOps.assortativity(edges)
      .as[(Long, Long, Double)].head()
    SparkEntry.releaseCaches()
    assert(got == ((8L, 18L, -20.0 / 28)))
    // 4-cycle: every degree 2 → zero variance → guarded 0.0, not NaN/null
    val cyc = Seq((1L, 2L), (2L, 3L), (3L, 4L), (1L, 4L)).toDF("src", "dst")
    val r = graft.graph.GraphOps.assortativity(cyc)
      .as[(Long, Long, Double)].head()
    SparkEntry.releaseCaches()
    assert(r._3 == 0.0)
  }
}
