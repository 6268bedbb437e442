package graft

import graft.algo.{ConnectedComponents, LabelPropagation, PageRank, TriangleCount}
import graft.graph.GraphOps

class LabelPropagationSpec extends GraftSuite {

  private def runLp(pairs: Seq[(Long, Long)]): Map[Long, Long] = {
    val slots = undirected(pairs)
    val edges = edgesDf(slots)
    val n = GraphOps.vertices(edges).count()
    labelsMap(LabelPropagation.run(edges, n, earlyStop = false).labels)
  }

  test("two cliques with a bridge: exact match vs sequential oracle") {
    val got = runLp(Fixtures.twoCliquesBridge)
    val want = Oracles.labelPropagation(undirected(Fixtures.twoCliquesBridge))
    assert(got === want)
    assert(got.values.toSet.size === 2)
  }

  test("karate: exact label match vs sequential oracle") {
    val got = runLp(Fixtures.karatePairs)
    val want = Oracles.labelPropagation(undirected(Fixtures.karatePairs))
    assert(got === want)
  }

  test("karate accounting matches the reference: 34 nodes / 156 slots") {
    val edges = edgesDf(undirected(Fixtures.karatePairs))
    assert(GraphOps.vertices(edges).count() === 34)
    assert(edges.count() === 156)
  }

  test("triangle graph collapses to one label") {
    val got = runLp(Seq((0L, 1L), (1L, 2L), (0L, 2L)))
    assert(got.values.toSet.size === 1)
  }

  test("symmetric fast path equals general superstep on symmetrized graphs") {
    val slots = undirected(Fixtures.karatePairs)
    val edges = edgesDf(slots)
    val n = GraphOps.vertices(edges).count()
    val a = labelsMap(LabelPropagation.run(edges, n, earlyStop = false).labels)
    val b = labelsMap(LabelPropagation.run(edges, n, earlyStop = false,
      symmetric = true).labels)
    assert(a === b)
  }

  test("CSR-blocked superstep equals COO superstep") {
    val slots = undirected(Fixtures.karatePairs)
    val edges = edgesDf(slots)
    val blocks = GraphOps.csrBlocks(edges)
    val init = LabelPropagation.initLabels(GraphOps.vertices(edges))
    val a = labelsMap(LabelPropagation.superstep(edges, init, symmetric = true))
    val b = labelsMap(LabelPropagation.superstepCsr(blocks, init))
    assert(a === b)
  }

  test("skew-aware superstep equals plain superstep") {
    val slots = undirected(Fixtures.karatePairs)
    val edges = edgesDf(slots)
    val plan = GraphOps.planSkew(edges, threshold = 5, partitions = 8)
    val init = LabelPropagation.initLabels(GraphOps.vertices(edges))
    val a = labelsMap(LabelPropagation.superstep(edges, init))
    val b = labelsMap(LabelPropagation.superstepSkewAware(plan, init))
    assert(a === b)
    assert(plan.hotIds.count() > 0) // karate hubs really take the hot path
  }

  test("an empty edge table gives packed = true and no rows on every setup path") {
    import spark.implicits._
    val empty = Seq.empty[(Long, Long)].toDF("src", "dst")
    assert(LabelPropagation.packedBudgetOk(empty))
    assert(LabelPropagation.run(empty, 0L, tieBreakSeed = Some(1L)).labels.count() === 0L)
    assert(LabelPropagation.runFixed(empty, 2, symmetric = true).count() === 0L)
    assert(LabelPropagation.run(empty, 0L).labels.count() === 0L)
  }

  test("random graphs: engine matches oracle exactly") {
    val rnd = new scala.util.Random(42)
    for (_ <- 1 to 5) {
      val n = 5 + rnd.nextInt(25)
      val pairs = (for {
        i <- 0L until n
        j <- (i + 1) until n
        if rnd.nextDouble() < 0.2
      } yield (i, j)).toSeq
      if (pairs.nonEmpty) {
        val got = runLp(pairs)
        val want = Oracles.labelPropagation(undirected(pairs))
        assert(got === want, s"divergence on n=$n pairs=$pairs")
      }
    }
  }
}

class ConnectedComponentsSpec extends GraftSuite {

  private def runCc(slots: Seq[(Long, Long)]): Map[Long, Long] = {
    val edges = edgesDf(slots)
    val n = GraphOps.vertices(edges).count()
    labelsMap(ConnectedComponents.run(edges, n).labels)
  }

  test("two disjoint paths: labels = min id per component") {
    val slots = undirected(Seq((0L, 1L), (1L, 2L), (10L, 11L), (11L, 12L)))
    val got = runCc(slots)
    assert(got === Map(0L -> 0L, 1L -> 0L, 2L -> 0L, 10L -> 10L, 11L -> 10L, 12L -> 10L))
  }

  test("random graphs match union-find oracle") {
    val rnd = new scala.util.Random(7)
    for (_ <- 1 to 5) {
      val n = 5 + rnd.nextInt(40)
      val pairs = (0 until n).map { _ =>
        (rnd.nextInt(n).toLong, rnd.nextInt(n).toLong)
      }.filter(p => p._1 != p._2)
      if (pairs.nonEmpty) {
        val slots = undirected(pairs)
        assert(runCc(slots) === Oracles.connectedComponents(slots))
      }
    }
  }
}

class PageRankSpec extends GraftSuite {

  test("triangle: uniform 1/3") {
    val slots = undirected(Seq((0L, 1L), (1L, 2L), (0L, 2L)))
    val r = PageRank.run(edgesDf(slots), maxIter = 50).ranks.collect()
      .map(x => x.getLong(0) -> x.getDouble(1)).toMap
    r.values.foreach(v => assert(math.abs(v - 1.0 / 3) < 1e-9))
  }

  test("directed graph with dangling vertex matches dense oracle (1e-6)") {
    val slots = Seq((0L, 1L), (0L, 2L), (1L, 2L), (2L, 3L), (3L, 0L), (4L, 0L), (0L, 5L))
    // 5 is dangling (no out-edges)
    val got = PageRank.runFixed(edgesDf(slots), iterations = 30).collect()
      .map(x => x.getLong(0) -> x.getDouble(1)).toMap
    val want = Oracles.pageRank(slots, iterations = 30)
    assert(got.keySet === want.keySet)
    got.foreach { case (k, v) => assert(math.abs(v - want(k)) < 1e-6, s"node $k") }
    assert(math.abs(got.values.sum - 1.0) < 1e-9) // probability mass preserved
  }

  test("karate fixed-iteration matches dense oracle (1e-6)") {
    val slots = undirected(Fixtures.karatePairs)
    val got = PageRank.runFixed(edgesDf(slots), iterations = 20).collect()
      .map(x => x.getLong(0) -> x.getDouble(1)).toMap
    val want = Oracles.pageRank(slots, iterations = 20)
    got.foreach { case (k, v) => assert(math.abs(v - want(k)) < 1e-6) }
  }
}

class TriangleCountSpec extends GraftSuite {

  test("two 4-cliques + bridge = 8 triangles") {
    val slots = undirected(Fixtures.twoCliquesBridge)
    assert(TriangleCount.countTriangles(edgesDf(slots)) === 8L)
  }

  test("karate has 45 triangles") {
    val slots = undirected(Fixtures.karatePairs)
    val brute = Oracles.triangles(slots)
    assert(TriangleCount.countTriangles(edgesDf(slots)) === brute)
    assert(brute === 45L) // published value for Zachary karate
  }

  test("per-vertex counts sum to 3× global") {
    val slots = undirected(Fixtures.karatePairs)
    val per = TriangleCount.perVertex(edgesDf(slots)).collect()
      .map(r => r.getLong(1)).sum
    assert(per === 3 * 45L)
  }

  test("random graphs match brute force") {
    val rnd = new scala.util.Random(11)
    for (_ <- 1 to 5) {
      val n = 4 + rnd.nextInt(20)
      val pairs = (for {
        i <- 0L until n; j <- (i + 1) until n
        if rnd.nextDouble() < 0.3
      } yield (i, j)).toSeq
      val slots = undirected(pairs)
      if (slots.nonEmpty)
        assert(TriangleCount.countTriangles(edgesDf(slots)) === Oracles.triangles(slots))
    }
  }
}
