package graft

import org.apache.spark.sql.functions._
import graft.graph.GraphOps

/** Round-5 guards: the SimRank hub cap, the WL pair-signature
  * equivalence, and the ballSizes2 wedge-budget guard (VERDICT r4 tasks
  * 2-4).
  */
class SimRankCapSpec extends GraftSuite {
  import spark.implicits._
  import graft.algo.SimRank

  // planted hub: vertex 100 cites 20 pages (fan-out 20); two ordinary
  // citers each cite {1, 2}
  private val hubEdges: Seq[(Long, Long)] =
    (1L to 20L).map(v => (100L, v)) ++ Seq((200L, 1L), (200L, 2L),
      (201L, 1L), (201L, 2L))

  test("maxOutDeg prunes the planted hub's pair population") {
    val e = hubEdges.toDF("src", "dst")
    val uncapped = SimRank.simRankT2(e)
    // the hub alone mints C(20,2) canonical pairs
    assert(uncapped.count() >= 190L)
    val capped = SimRank.simRankT2(e, maxOutDeg = 5L)
    // capped semantics == uncapped SimRank on the pre-filtered graph
    val prefiltered = SimRank.simRankT2(
      hubEdges.filterNot(_._1 == 100L).toDF("src", "dst"))
    assert(capped.collect().toSet === prefiltered.collect().toSet)
    // only the ordinary citers' one co-citation pair survives
    assert(capped.count() === 1L)
    val row = capped.first()
    assert((row.getLong(0), row.getLong(1)) === (1L, 2L))
  }

  test("a cap at or above the max out-degree is the identity") {
    val e = hubEdges.toDF("src", "dst")
    assert(SimRank.simRankT2(e, maxOutDeg = 20L).collect().toSet ===
      SimRank.simRankT2(e).collect().toSet)
  }
}

class WlPairSignatureSpec extends GraftSuite {
  import graft.algo.WlRefinement

  /** Group vertex ids by color — the partition is what 1-WL defines;
    * the color STRINGS legitimately differ between signature forms.
    */
  private def partition(df: org.apache.spark.sql.DataFrame): Set[Set[Long]] =
    df.collect().map(r => (r.getLong(0), r.getString(1)))
      .groupBy(_._2).values.map(_.map(_._1).toSet).toSet

  test("pair signature and multiset signature induce identical partitions") {
    val e = edgesDf(undirected(Fixtures.karatePairs))
    for (rounds <- Seq(1, 2, 3)) {
      val pair = partition(WlRefinement.refine(e, rounds))
      val multi = partition(WlRefinement.refine(e, rounds, pairSig = false))
      assert(pair === multi, s"partitions diverge at rounds=$rounds")
    }
  }
}

class BallBudgetSpec extends GraftSuite {

  test("the wedge-budget guard fires on a planted hub before any 2-hop work") {
    // symmetrized 100-leaf star: sum deg^2 = 100^2 + 100 = 10100 wedges
    val star = edgesDf(undirected((1L to 100L).map(v => (0L, v))))
    val ex = intercept[IllegalArgumentException] {
      GraphOps.ballSizes2(star, wedgeBudget = 1000L)
    }
    assert(ex.getMessage.contains("neighborhoodFunctionApprox"))
  }

  test("under budget the exact 2-hop balls are computed") {
    val star = edgesDf(undirected((1L to 100L).map(v => (0L, v))))
    val b = GraphOps.ballSizes2(star, wedgeBudget = 20000L)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // every vertex reaches all 101 vertices within 2 hops of a star
    assert(b.size === 101)
    assert(b.values.forall(_ == 101L))
  }
}

class UrlCanonSpec extends GraftSuite {
  import spark.implicits._
  import graft.text.UrlCanon

  private def canonOf(url: String): String =
    Seq(url).toDF("url").select(UrlCanon.canonical(col("url")).as("c"))
      .first().getString(0)

  test("each canonicalization rule") {
    assert(canonOf("HTTP://WWW.Ex.EXAMPLE.com:80/A/b?utm_source=x#f") ===
      "http://ex.example.com/A/b")
    assert(canonOf("https://ex.example.com:443/a/index.html") === "https://ex.example.com/a")
    assert(canonOf("http://ex.example.com") === "http://ex.example.com/")
    assert(canonOf("http://ex.example.com/a/?b=2&utm_campaign=z&a=1") ===
      "http://ex.example.com/a?b=2&a=1")
    assert(canonOf("http://ex.example.com/a/b/") === "http://ex.example.com/a/b")
    assert(canonOf("http://ex.example.com:8080/x") === "http://ex.example.com:8080/x")
  }

  test("dedup groups collapse syntactic variants") {
    val urls = Seq(
      (1L, "http://ex.example.com/a"),
      (2L, "HTTP://WWW.EX.example.com:80/a?utm_medium=m"),
      (3L, "http://ex.example.com/a/index.html"),
      (4L, "http://ex.example.com/b")).toDF("doc_id", "url")
    val g = UrlCanon.dedupGroups(urls).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(g("http://ex.example.com/a") === (3L, 1L))
    assert(g("http://ex.example.com/b") === (1L, 4L))
  }
}

class SketchSpec extends GraftSuite {
  import spark.implicits._
  import graft.text.Sketch

  private val docs = Seq(
    (1L, "a a a a b b c"), (2L, "a b d e"), (3L, "a c c f"))
    .toDF("doc_id", "text")

  test("CMS estimates dominate exact counts and match at large width") {
    val out = Sketch.cmsTopK(docs, width = 4096, k = 10).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    assert(out.nonEmpty)
    out.foreach { case (t, exact, est) =>
      assert(est >= exact, s"CMS underestimated $t: $est < $exact")
    }
    // width 4096 over 6 distinct terms: collisions are possible only if
    // two md5 buckets coincide in all 3 rows — astronomically unlikely;
    // assert exact recovery for the heaviest term
    val a = out.find(_._1 == "a").get
    assert(a._2 === 6L && a._3 === 6L)
  }

  test("narrow sketch still dominates (collisions inflate, never deflate)") {
    Sketch.cmsTopK(docs, width = 2, k = 10).collect().foreach { r =>
      assert(r.getLong(2) >= r.getLong(1))
    }
  }
}

class VocabGrowthSpec extends GraftSuite {
  import spark.implicits._

  test("checkpoints count cumulative docs, tokens, and first-seen types") {
    val docs = Seq((0L, "a b"), (4L, "a c"), (8L, "d d")).toDF("doc_id", "text")
    val rows = graft.text.TextIndex.vocabularyGrowth(docs)
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))).toMap
    // max doc 8: caps 1, 2, 4, 8
    assert(rows(125L) === (1L, 1L, 2L, 2L))   // doc 0: 2 tokens, types a,b
    assert(rows(500L) === (4L, 2L, 4L, 3L))   // +doc 4: type c first seen
    assert(rows(1000L) === (8L, 3L, 6L, 4L))  // +doc 8: type d
  }
}

class DoubleSweepSpec extends GraftSuite {

  test("path graph: second sweep finds the true diameter") {
    // path 0-1-2-3-4: sweep 1 from 0 reaches 4; sweep 2 from 4 → lb 4
    val p = edgesDf(undirected(Seq((0L, 1L), (1L, 2L), (2L, 3L), (3L, 4L))))
    val r = graft.algo.Centrality.doubleSweep(p).first()
    assert(r.getLong(0) === 0L)
    assert(r.getLong(1) === 4L)
    assert(r.getLong(2) === 4L)
  }

  test("star graph: lb 2 from any leaf") {
    val st = edgesDf(undirected((1L to 5L).map(v => (0L, v))))
    val r = graft.algo.Centrality.doubleSweep(st).first()
    assert(r.getLong(2) === 2L)
  }
}

class EdgeBetweennessSpec extends GraftSuite {

  test("path graph, all sources: edge BC equals pair counts through the edge") {
    // path 0-1-2-3: directed-slot score of (u,v) = #ordered (s,t) pairs
    // whose unique shortest path crosses u→v = left(u) * right(v) counts
    val p = edgesDf(undirected(Seq((0L, 1L), (1L, 2L), (2L, 3L))))
    val all = graft.graph.GraphOps.vertices(p)
    val eb = graft.algo.Betweenness.runEdges(p, all)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    assert(eb((0L, 1L)) === 3.0) // paths 0→1, 0→2, 0→3
    assert(eb((1L, 0L)) === 3.0)
    assert(eb((1L, 2L)) === 4.0) // 0→2, 0→3, 1→2, 1→3
    assert(eb((2L, 1L)) === 4.0)
  }

  test("vertex BC is recoverable as (in-edge sum − non-source deltas)") {
    // sanity cross-check on karate: bc(v) = Σ_{(u,v)} eb(u,v) − (pairs
    // ending AT v contribute to in-edges but not to bc) — here just check
    // totals: Σ eb over slots = Σ over (s,t) pairs of path length =
    // Σ_v bc(v) + reached ordered pairs (each path of length L crosses L
    // edges and L−1 interior vertices)
    val e = edgesDf(undirected(Fixtures.karatePairs))
    val all = graft.graph.GraphOps.vertices(e)
    val ebSum = graft.algo.Betweenness.runEdges(e, all)
      .agg(sum(col("eb"))).first().getDouble(0)
    val bcSum = graft.algo.Betweenness.run(e, all)
      .agg(sum(col("bc"))).first().getDouble(0)
    val lv = graft.algo.Betweenness.bfsLevels(e, all)
    val pairs = lv.filter(col("dist") > 0).count()
    assert(math.abs(ebSum - (bcSum + pairs)) < 1e-6,
      s"ebSum=$ebSum bcSum=$bcSum pairs=$pairs")
  }

  test("edge BC bits do not depend on broadcast joins") {
    // the join strategies set the order rows reach each sum; the scores
    // must not follow it
    val e = edgesDf(undirected(Fixtures.karatePairs))
    val all = graft.graph.GraphOps.vertices(e)
    def bits(): Map[(Long, Long), Long] = graft.algo.Betweenness.runEdges(e, all)
      .collect().map(r => (r.getLong(0), r.getLong(1)) ->
        java.lang.Double.doubleToRawLongBits(r.getDouble(2))).toMap
    val withBroadcasts = bits()
    val key = "spark.sql.autoBroadcastJoinThreshold"
    val saved = spark.conf.getOption(key)
    spark.conf.set(key, "-1")
    val without = try bits() finally saved.fold(spark.conf.unset(key))(spark.conf.set(key, _))
    assert(without.size === 156)
    assert(without === withBroadcasts)
  }
}

class TopicPprSpec extends GraftSuite {
  import spark.implicits._

  test("batch topics match per-topic personalized runs") {
    val e = edgesDf(undirected(Fixtures.karatePairs))
    val v = graft.graph.GraphOps.vertices(e)
    val s0 = v.filter(col("id") % 10 === 1)
    val s1 = v.filter(col("id") % 10 === 2)
    val seeds = s0.select(lit(0L).as("topic"), col("id"))
      .union(s1.select(lit(1L).as("topic"), col("id")))
    val batch = graft.algo.PageRank.runTopicsFixed(e, seeds, iterations = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    val single0 = graft.algo.PageRank
      .runPersonalizedFixed(e, s0, iterations = 4)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val single1 = graft.algo.PageRank
      .runPersonalizedFixed(e, s1, iterations = 4)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    single0.foreach { case (id, r) =>
      assert(math.abs(batch((0L, id)) - r) < 1e-12) }
    single1.foreach { case (id, r) =>
      assert(math.abs(batch((1L, id)) - r) < 1e-12) }
  }
}

class WarmCcSpec extends GraftSuite {
  import graft.algo.ConnectedComponents

  test("warm-start CC from old labels equals from-scratch on the delta") {
    // old: two paths {0..4} and {10..14}; delta ADDS a bridge 4-10 and a
    // new vertex 20 attached to 0
    val oldE = edgesDf(undirected(Seq((0L, 1L), (1L, 2L), (2L, 3L), (3L, 4L),
      (10L, 11L), (11L, 12L), (12L, 13L), (13L, 14L))))
    val newE = edgesDf(undirected(Seq((0L, 1L), (1L, 2L), (2L, 3L), (3L, 4L),
      (10L, 11L), (11L, 12L), (12L, 13L), (13L, 14L),
      (4L, 10L), (0L, 20L))))
    val old = ConnectedComponents.runAlternating(oldE)
    val vNew = graft.graph.GraphOps.vertices(newE)
    val init = vNew.join(old.withColumnRenamed("label", "ol"), Seq("id"), "left")
      .select(col("id"), coalesce(col("ol"), col("id")).as("label"))
    val warm = ConnectedComponents.run(newE, vNew.count(),
      initLabels = Some(init))
    val scratch = ConnectedComponents.run(newE, vNew.count())
    assert(labelsMap(warm.labels) === labelsMap(scratch.labels))
    // everything merged into the 0-component
    assert(labelsMap(warm.labels).values.toSet === Set(0L))
    // warm start converges in fewer supersteps than the scratch run
    assert(warm.iterations <= scratch.iterations)
  }
}

class DeltaTrianglesSpec extends GraftSuite {
  import graft.algo.TriangleCount

  test("incremental delta count equals census difference on planted deltas") {
    // old: square 0-1-2-3 (no triangles) plus the bare pair 10-11
    val oldE = edgesDf(undirected(Seq((0L, 1L), (1L, 2L), (2L, 3L), (3L, 0L),
      (10L, 11L))))
    // delta adds: diagonal 0-2 (closes TWO triangles, each with 1 new
    // edge), 10-12 + 11-12 (one triangle with 2 new edges), and the fully
    // new triangle 20-21-22 (3 new edges) — all three 1/k weights fire
    val newE = edgesDf(undirected(Seq((0L, 1L), (1L, 2L), (2L, 3L), (3L, 0L),
      (10L, 11L), (0L, 2L), (10L, 12L), (11L, 12L),
      (20L, 21L), (21L, 22L), (20L, 22L))))
    val row = TriangleCount.deltaTriangles(newE, oldE).collect().head
    assert(row.getLong(0) === 6L, "canonical delta pairs")
    assert(row.getLong(1) === 4L, "new triangles")
    val diff = TriangleCount.countTriangles(newE) -
      TriangleCount.countTriangles(oldE)
    assert(row.getLong(1) === diff)
  }

  test("empty delta reports zero without a census") {
    val e = edgesDf(undirected(Seq((0L, 1L), (1L, 2L), (0L, 2L))))
    val row = TriangleCount.deltaTriangles(e, e).collect().head
    assert(row.getLong(0) === 0L && row.getLong(1) === 0L)
  }
}

class SpearmanSpec extends GraftSuite {
  import spark.implicits._
  import graft.measures.Measures

  test("perfect agreement is rho 1, perfect reversal is rho -1") {
    val ids = (1L to 10L)
    val up = ids.map(i => (i, i * 10)).toDF("id", "score")
    val down = ids.map(i => (i, 1000 - i * 10)).toDF("id", "score")
    val same = Measures.spearman(up, up).collect().head
    assert(same.getLong(0) === 10L && same.getLong(1) === 0L)
    assert(same.getDouble(2) === 1.0)
    val rev = Measures.spearman(up, down).collect().head
    // reversal: sum d^2 = n(n^2-1)/3 = 330 -> rho exactly -1
    assert(rev.getLong(1) === 330L)
    assert(rev.getDouble(2) === -1.0)
  }

  test("rank ties break by id ascending") {
    val tied = Seq((5L, 7L), (2L, 7L), (9L, 3L)).toDF("id", "score")
    val ranks = Measures.rankByScore(tied).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(ranks === Map(2L -> 1L, 5L -> 2L, 9L -> 3L))
  }
}

class DocNllSpec extends GraftSuite {
  import spark.implicits._

  test("identical documents score identically; common text scores lower") {
    val docs = Seq(
      (1L, "the quick brown fox"),
      (2L, "the quick brown fox"),
      (3L, "the quick brown fox"),
      (4L, "zp qx vw kj")).toDF("doc_id", "text")
    val out = graft.text.NgramLm.docNll(docs).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    // every doc has 3 bigrams
    assert(out.values.forall(_._1 == 3L))
    assert(out(1L) === out(2L) && out(2L) === out(3L))
    // the thrice-repeated text is higher-probability under the corpus LM
    // than the singleton gibberish — lower NLL
    assert(out(1L)._2 < out(4L)._2,
      s"common ${out(1L)._2} should score below rare ${out(4L)._2}")
  }
}

class BipartiteCoverageSpec extends GraftSuite {

  test("n_layered reports full coverage on a shallow bipartite component") {
    // 6-cycle: bipartite, one component, everything within the depth cap
    val cyc = edgesDf(undirected(Seq((0L, 1L), (1L, 2L), (2L, 3L),
      (3L, 4L), (4L, 5L), (5L, 0L))))
    val row = graft.algo.Bipartite.check(cyc).first()
    assert(row.getAs[Long]("n_vertices") === 6L)
    assert(row.getAs[Long]("n_layered") === 6L)
    assert(row.getAs[Long]("n_odd_edges") === 0L)
    assert(row.getAs[Long]("bipartite") === 1L)
  }

  test("an odd cycle is flagged with full layer coverage") {
    val tri = edgesDf(undirected(Seq((0L, 1L), (1L, 2L), (2L, 0L))))
    val row = graft.algo.Bipartite.check(tri).first()
    assert(row.getAs[Long]("bipartite") === 0L)
    assert(row.getAs[Long]("n_layered") === 3L)
  }
}

class AbsorbingSpec extends GraftSuite {
  import graft.algo.Absorbing
  import spark.implicits._

  private def probs(df: org.apache.spark.sql.DataFrame): Map[Long, Double] =
    df.collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap

  test("path graph matches the hand-unrolled chain") {
    // 0 - 1 - 2, target {0}: h1 = (1, .5, 0), h2 = (1, .5, .5),
    // h3 = (1, .75, .5)
    val e = edgesDf(undirected(Seq((0L, 1L), (1L, 2L))))
    val t = Seq(Tuple1(0L)).toDF("id")
    assert(probs(Absorbing.hitProbabilityFixed(e, t, 1)) ===
      Map(0L -> 1.0, 1L -> 0.5, 2L -> 0.0))
    assert(probs(Absorbing.hitProbabilityFixed(e, t, 2)) ===
      Map(0L -> 1.0, 1L -> 0.5, 2L -> 0.5))
    assert(probs(Absorbing.hitProbabilityFixed(e, t, 3)) ===
      Map(0L -> 1.0, 1L -> 0.75, 2L -> 0.5))
  }

  test("steps=0 is the target indicator; horizon is monotone") {
    val e = edgesDf(undirected(Fixtures.karatePairs))
    val t = Seq(Tuple1(1L), Tuple1(34L)).toDF("id")
    val h0 = probs(Absorbing.hitProbabilityFixed(e, t, 0))
    assert(h0(1L) === 1.0 && h0(34L) === 1.0)
    assert(h0.count(_._2 == 0.0) === h0.size - 2)
    val h2 = probs(Absorbing.hitProbabilityFixed(e, t, 2))
    val h4 = probs(Absorbing.hitProbabilityFixed(e, t, 4))
    h2.foreach { case (id, p) =>
      assert(p >= h0(id) - 1e-12 && h4(id) >= p - 1e-12,
        s"non-monotone at $id: ${h0(id)} / $p / ${h4(id)}")
    }
    // karate is connected with diameter 5: by t=8 everything hits
    val h8 = probs(Absorbing.hitProbabilityFixed(e, t, 8))
    assert(h8.values.forall(_ > 0.0))
  }

  test("a sink vertex outside the target set stays at 0 on directed input") {
    // 1 -> 2 (sink), 3 -> 1; target {9} unreachable from all of them
    val e = Seq((1L, 2L), (3L, 1L), (9L, 1L)).toDF("src", "dst")
    val t = Seq(Tuple1(9L)).toDF("id")
    val h = probs(Absorbing.hitProbabilityFixed(e, t, 6))
    assert(h(2L) === 0.0 && h(1L) === 0.0 && h(3L) === 0.0 && h(9L) === 1.0)
  }
}

class AntiTrustSpec extends GraftSuite {
  import graft.algo.PageRank
  import spark.implicits._

  test("pages linking into the spam set inherit anti-trust; clean pages get 0") {
    // a -> s (spam), b -> c (clean chain); anti-trust flows s -> a only
    val e = Seq((1L, 9L), (2L, 3L)).toDF("src", "dst")
    val spam = Seq(Tuple1(9L)).toDF("id")
    val at = PageRank.antiTrust(e, spam, iterations = 4).collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(at(9L) > at(1L) && at(1L) > 0.0,
      s"spam seed should dominate its citer: $at")
    assert(at(2L) === 0.0 && at(3L) === 0.0)
  }

  test("every page upstream of spam scores positive; the farthest scores least") {
    // 1 -> 2 -> 3 -> spam(4): the seed pulse travels the reversed chain
    // (so per-hop ordering oscillates), but reach and the far-end minimum
    // are invariant
    val e = Seq((1L, 2L), (2L, 3L), (3L, 4L)).toDF("src", "dst")
    val spam = Seq(Tuple1(4L)).toDF("id")
    val at = PageRank.antiTrust(e, spam, iterations = 6).collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(at.values.forall(_ > 0.0), s"all upstream pages reachable: $at")
    assert(at(1L) === at.values.min, s"farthest citer scores least: $at")
  }
}

class EgonetDensitySpec extends GraftSuite {
  import graft.algo.TriangleCount

  private def rows(df: org.apache.spark.sql.DataFrame) =
    df.collect().map(r => r.getLong(0) ->
      ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))).toMap

  test("clique egonets are density 1; star centers are sparse") {
    // triangle {1,2,3} plus star center 10 with leaves {11,12,13}
    val e = edgesDf(undirected(Seq((1L, 2L), (2L, 3L), (1L, 3L),
      (10L, 11L), (10L, 12L), (10L, 13L))))
    val m = rows(TriangleCount.egonetDensity(e))
    // triangle members: deg 2, 1 triangle, 3 ego edges over C(3,2)=3
    Seq(1L, 2L, 3L).foreach(v => assert(m(v) === ((2L, 1L, 3L, 1000000L))))
    // star center: deg 3, no triangles, 3 of C(4,2)=6 edges
    assert(m(10L) === ((3L, 0L, 3L, 500000L)))
    // leaves: the 1-edge egonet is complete
    Seq(11L, 12L, 13L).foreach(v => assert(m(v) === ((1L, 0L, 1L, 1000000L))))
  }

  test("4-clique egonets are complete") {
    val e = edgesDf(undirected(Seq((1L, 2L), (1L, 3L), (1L, 4L),
      (2L, 3L), (2L, 4L), (3L, 4L))))
    rows(TriangleCount.egonetDensity(e)).values.foreach { v =>
      assert(v === ((3L, 3L, 6L, 1000000L)))
    }
  }
}

class CorpusStatsSpec extends GraftSuite {
  import spark.implicits._

  test("type-token ratio: exact values, repetition lowers it") {
    val docs = Seq(
      (1L, "a b c d"),            // 4 types / 4 tokens
      (2L, "a a a a"),            // 1 / 4
      (3L, "a b a b"),            // 2 / 4
      (4L, "")).toDF("doc_id", "text")
    val m = graft.text.CorpusClean.typeTokenRatio(docs).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3))))
      .toMap
    assert(m(1L) === ((4L, 4L, 1000000L)))
    assert(m(2L) === ((4L, 1L, 250000L)))
    assert(m(3L) === ((4L, 2L, 500000L)))
    assert(m(4L) === ((0L, 0L, 0L)))
  }

  test("zipf fit recovers the slope of an exact power law") {
    // counts = floor(1e6 / rank): ln(count) ~ ln(1e6) - ln(rank),
    // slope -1, intercept ln(1e6)
    val docs = (1 to 50).flatMap { r =>
      val cnt = 1000000 / r
      Seq((r.toLong, (s"t$r " * cnt).trim))
    }.toDF("doc_id", "text")
    val row = graft.text.TextIndex.zipfFit(docs, topN = 50).first()
    assert(row.getLong(0) === 50L)
    val slope = row.getLong(1) / 1e6
    val icept = row.getLong(2) / 1e6
    assert(math.abs(slope - (-1.0)) < 0.001, s"slope $slope")
    assert(math.abs(icept - math.log(1e6)) < 0.01, s"intercept $icept")
  }

  test("KL from corpus: representative docs score 0, outliers positive") {
    val docs = Seq(
      (1L, "a b c d"),
      (2L, "a b c d"),
      (3L, "a b c d"),
      (4L, "zz zz zz zz")).toDF("doc_id", "text")
    val m = graft.text.TextIndex.klFromCorpus(docs).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(m.values.forall(_._1 == 4L))
    // docs 1-3 share the majority distribution: small positive KL
    // (corpus includes doc 4's mass); doc 4 is far off-distribution
    assert(m(4L)._2 > m(1L)._2, s"outlier should dominate: $m")
    assert(m(1L) === m(2L) && m(2L) === m(3L))
    assert(m.values.forall(_._2 >= 0L), s"KL must be non-negative: $m")
  }
}

class HostLeakageSpec extends GraftSuite {
  import spark.implicits._

  test("intra/inter split and ratio per host") {
    val pairs = Seq(
      ("http://a.example/1", "http://a.example/2"),   // intra
      ("http://a.example/1", "http://b.example/x"),   // inter
      ("http://a.example/3", "http://a.example/4"),   // intra
      ("http://a.example/3", "http://c.example/y"),   // inter
      ("http://f.example/1", "http://b.example/z")    // farm: all outward
    ).toDF("src_url", "dst_url")
    val m = graft.sources.HostGraph.leakage(pairs).collect()
      .map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))).toMap
    assert(m("a.example") === ((4L, 2L, 2L, 500000L)))
    assert(m("f.example") === ((1L, 0L, 1L, 1000000L)))
    assert(!m.contains("b.example")) // link target only: no outlinks
  }
}

class SpectralRadiusSpec extends GraftSuite {

  test("2-regular cycle: lambda exactly 2 at any horizon") {
    val cyc = edgesDf(undirected(Seq((0L, 1L), (1L, 2L), (2L, 3L),
      (3L, 4L), (4L, 0L))))
    for (k <- Seq(1, 3, 6)) {
      val r = graft.algo.Spectral.spectralRadius(cyc, iterations = k).first()
      assert(r.getDouble(2) === 2.0, s"k=$k")
    }
  }

  test("complete graph K4: lambda exactly 3") {
    val k4 = edgesDf(undirected(Seq((0L, 1L), (0L, 2L), (0L, 3L),
      (1L, 2L), (1L, 3L), (2L, 3L))))
    val r = graft.algo.Spectral.spectralRadius(k4, iterations = 4).first()
    assert(r.getLong(0) * 3L === r.getLong(1))
    assert(r.getDouble(2) === 3.0)
  }
}

class BehavioralSignalsSpec extends GraftSuite {
  import spark.implicits._
  import org.apache.spark.sql.functions._

  private def ev(rows: Seq[(Long, Long, Long)]) = // (event_id, user, epoch)
    rows.toDF("event_id", "user_id", "es")
      .select(col("event_id"), col("user_id"),
        col("es").cast("timestamp").as("ts"))

  test("bot signals: gaps, bursts, span, smoothed rate") {
    val events = ev(Seq((1L, 1L, 0L), (2L, 1L, 1L), (3L, 1L, 100L),
      (4L, 2L, 50L)))
    val m = graft.streaming.Funnel.botSignals(events).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5)))).toMap
    // user 1: gaps 1 and 99 -> min 1, one burst; 3 ev / 160 smoothed secs
    assert(m(1L) === ((3L, 100L, 1L, 1L, 1125L)))
    // singleton user: no gaps, -1 sentinel, rate = 1 ev / 60 s = 1000 e3
    assert(m(2L) === ((1L, 0L, -1L, 0L, 1000L)))
  }

  test("simultaneous events count as a zero-second burst") {
    val events = ev(Seq((1L, 7L, 10L), (2L, 7L, 10L)))
    val r = graft.streaming.Funnel.botSignals(events).first()
    assert(r.getLong(3) === 0L && r.getLong(4) === 1L) // min_gap 0, 1 burst
  }

  test("DAU / trailing-7-day WAU / stickiness") {
    val events = ev(Seq(
      (1L, 1L, 0L),            // user 1, day 0
      (2L, 2L, 3600L),         // user 2, day 0
      (3L, 1L, 3L * 86400L)))  // user 1, day 3
    val m = graft.streaming.Funnel.activeUsers(events).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3))))
      .toMap
    assert(m(0L) === ((2L, 2L, 1000000L)))
    // day 3 window [−3, 3] still covers both users
    assert(m(3L) === ((1L, 2L, 500000L)))
    assert(m.size === 2) // only days with activity are reported
  }
}

class WeightedCoreSpec extends GraftSuite {
  import spark.implicits._

  // weighted triangle: strong edge (1,2,w5), weak spokes to 3
  private def wtri = {
    val half = Seq((1L, 2L, 5L), (2L, 3L, 1L), (1L, 3L, 1L))
    (half ++ half.map { case (a, b, w) => (b, a, w) })
      .toDF("src", "dst", "weight")
  }

  test("peeling at s=3 drops the weak vertex, then stabilizes") {
    val alive = graft.algo.KCore.weightedCoreFixed(wtri, s = 3L, rounds = 3)
      .collect().map(_.getLong(0)).toSet
    assert(alive === Set(1L, 2L)) // vertex 3 has strength 2 < 3
  }

  test("a threshold above every strength empties the core") {
    assert(graft.algo.KCore.weightedCoreFixed(wtri, s = 7L, rounds = 2)
      .count() === 0L)
  }

  test("s=1 keeps everything") {
    assert(graft.algo.KCore.weightedCoreFixed(wtri, s = 1L, rounds = 3)
      .count() === 3L)
  }
}

class IvfCellsSpec extends GraftSuite {
  import spark.implicits._

  test("occupancy and integer inertia per cell") {
    // three well-separated clusters; centroids = even ids (stride 2)
    val vecs = Seq(
      (0L, Seq(0.0f, 0.0f)), (1L, Seq(0.1f, 0.0f)),
      (2L, Seq(10.0f, 0.0f)), (3L, Seq(10.1f, 0.0f)),
      (4L, Seq(20.0f, 0.0f)), (5L, Seq(20.2f, 0.0f)))
      .toDF("vec_id", "embedding")
    val m = graft.functions.Similarity.ivfCells(vecs, centStride = 2)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    assert(m.keySet === Set(0L, 2L, 4L))
    assert(m(0L)._1 === 2L && m(2L)._1 === 2L && m(4L)._1 === 2L)
    // scatter = the one off-centroid member's rounded e6 distance
    assert(m(0L)._2 === 10000L && m(0L)._3 === 5000L)
    assert(m(4L)._2 === 40000L && m(4L)._3 === 20000L)
  }
}
