package graft

import org.apache.spark.sql.functions._
import graft.algo.{Betweenness, LabelPropagation, PageRank}
import graft.engine.{Checkpointer, Superstep}
import graft.graph.GraphOps

/** Round-3 additions: storage-footprint bound for fixed-iteration
  * PageRank, Hadoop-FS checkpointer (file:-scheme paths + validated resume
  * point), weighted packed-argmax budget fallback, and the shared BFS
  * depth cap.
  */
class PageRankFootprintSpec extends GraftSuite {

  test("runFixed frees superseded rank tables (stable persistent-RDD count)") {
    val edges = GraphOps.prepareForGather(
      edgesDf(undirected(Fixtures.karatePairs)), 4)
    edges.count()
    val before = spark.sparkContext.getPersistentRDDs.size
    val ranks = PageRank.runFixed(edges, iterations = 12, partitions = 4)
    ranks.count()
    val after = spark.sparkContext.getPersistentRDDs.size
    // verts + edgesDeg + dangling + final ranks + at most one live
    // checkpoint — NOT one rank table per iteration (12 would leak here)
    assert(after - before <= 6,
      s"persistent RDDs grew by ${after - before}; superseded ranks leak")
    // and the values still match the convergent-run oracle shape
    val s = ranks.agg(sum("rank")).first().getDouble(0)
    assert(math.abs(s - 1.0) < 1e-6)
    edges.unpersist(blocking = false)
  }

  test("every read-once fixed-step operator frees its superseded states") {
    import graft.algo.{Absorbing, Spectral}
    val edges = GraphOps.prepareForGather(
      edgesDf(undirected(Fixtures.karatePairs)), 4)
    edges.count()
    val weighted = edges.withColumn("weight", (col("src") + col("dst")) % 3 + 1)
    val seeds = spark.range(1, 4).select(col("id"))
    val operators: Seq[(String, () => org.apache.spark.sql.DataFrame)] = Seq(
      "PageRank.runFixed symmetric" ->
        (() => PageRank.runFixed(edges, 12, partitions = 4, symmetric = true)),
      "PageRank.runFixedWeighted" ->
        (() => PageRank.runFixedWeighted(weighted, 12, partitions = 4)),
      "PageRank.runPersonalizedFixed" ->
        (() => PageRank.runPersonalizedFixed(edges, seeds, 12, partitions = 4)),
      "Spectral.katzFixed" -> (() => Spectral.katzFixed(edges, 12, partitions = 4)),
      "Spectral.katzWalkSums" ->
        (() => Spectral.katzWalkSums(edges, 12, invAlpha = 2L, partitions = 4)),
      "Spectral.eigenvectorWalkCounts" ->
        (() => Spectral.eigenvectorWalkCounts(edges, 12, partitions = 4)),
      "Absorbing.hitProbabilityFixed" ->
        (() => Absorbing.hitProbabilityFixed(edges, seeds, 12, partitions = 4)),
      "LabelPropagation.runFixed" ->
        (() => LabelPropagation.runFixed(edges, 12, symmetric = true)))
    operators.foreach { case (name, run) =>
      val before = spark.sparkContext.getPersistentRDDs.size
      val out = run()
      out.count()
      val grown = spark.sparkContext.getPersistentRDDs.size - before
      // setup tables + the final state + at most two live checkpoints —
      // NOT one state per step (12 would leak here)
      assert(grown <= 6, s"$name: persistent RDDs grew by $grown; superseded states leak")
      out.unpersist(blocking = false)
    }
    edges.unpersist(blocking = false)
  }
}

class CheckpointerFsSpec extends GraftSuite {

  test("checkpointer works against an explicit file:-scheme Hadoop path") {
    val local = java.nio.file.Files.createTempDirectory("graft-fs").toString
    val cp = new Checkpointer(s"file:$local", spark)
    val edges = GraphOps.prepareForGather(
      edgesDf(undirected(Fixtures.karatePairs)), 4)
    val n = GraphOps.vertices(edges).count()
    val r = LabelPropagation.run(edges, n, checkpointer = Some(cp),
      checkpointEvery = 1, maxIter = Some(2), symmetric = true)
    assert(r.iterations === 2)
    // metrics round-trip through the Hadoop FileSystem API
    val metrics = cp.readMetrics("lp")
    assert(metrics.map(_.iteration) === Seq(1, 2))
    // latest + validatedLatest agree on a clean directory
    assert(cp.latest("lp").get._1 === 2)
    assert(cp.validatedLatest("lp").get._1 === 2)
    // pruneAbove deletes through the same API
    cp.pruneAbove("lp", 1)
    assert(cp.latest("lp").get._1 === 1)
    edges.unpersist(blocking = false)
  }

  test("validatedLatest skips snapshots without a metrics entry or _SUCCESS") {
    val local = java.nio.file.Files.createTempDirectory("graft-val").toString
    val cp = new Checkpointer(local, spark)
    val edges = GraphOps.prepareForGather(
      edgesDf(undirected(Fixtures.twoCliquesBridge)), 4)
    val n = GraphOps.vertices(edges).count()
    val r = LabelPropagation.run(edges, n, checkpointer = Some(cp),
      checkpointEvery = 1, maxIter = Some(2), symmetric = true)
    // a "farther-advanced" snapshot from a crashed run: parquet is
    // complete (_SUCCESS exists) but it never reached the metrics log
    r.labels.write.mode("overwrite").parquet(s"$local/lp/labels/iter=9")
    assert(cp.latest("lp").get._1 === 9)
    assert(cp.validatedLatest("lp").get._1 === 2)
    // a torn snapshot: directory exists, no _SUCCESS — also skipped even
    // if a matching metrics entry existed
    java.nio.file.Files.createDirectories(
      java.nio.file.Paths.get(s"$local/lp/labels/iter=8"))
    assert(cp.validatedLatest("lp").get._1 === 2)
    // pruning relative to the VALIDATED point removes both stale dirs
    cp.pruneAbove("lp", cp.validatedLatest("lp").get._1)
    assert(cp.latest("lp").get._1 === 2)
    edges.unpersist(blocking = false)
  }
}

class WeightedBudgetSpec extends GraftSuite {

  private def weighted(rows: Seq[(Long, Long, Long)]) = {
    import spark.implicits._
    rows.toDF("src", "dst", "weight")
  }

  test("packedBudgetOkWeighted bounds per-vertex weight sums, not degree") {
    // degree 2 (fits 23 bits trivially) but weight sums of 2^24 — packed
    // argmax would corrupt the count field
    val heavy = weighted(Seq(
      (0L, 1L, 1L << 23), (0L, 2L, 1L << 23),
      (1L, 0L, 1L), (2L, 0L, 1L)))
    assert(!LabelPropagation.packedBudgetOkWeighted(heavy))
    val light = weighted(Seq((0L, 1L, 5L), (1L, 0L, 5L)))
    assert(LabelPropagation.packedBudgetOkWeighted(light))
  }

  test("superstepWeighted auto-falls back to the unpacked argmax and stays correct") {
    // vertex 0 hears label 1 with weight 2^23+2 and label 2 with weight
    // 2^23+1: a packed (cnt<<40 | ...) encoding overflows the count field;
    // the correct winner is label 1
    val big = (1L << 23)
    val e = weighted(Seq(
      (0L, 1L, big + 2), (0L, 2L, big + 1),
      (1L, 0L, 1L), (2L, 0L, 1L)))
    val init = LabelPropagation.initLabels(
      GraphOps.vertices(e.select(col("src"), col("dst"))))
    val out = labelsMap(LabelPropagation.superstepWeighted(e, init, symmetric = true))
    assert(out(0L) === 1L)
    // and it agrees with the explicitly-unpacked path
    val unpacked = labelsMap(LabelPropagation.superstepWeighted(e, init,
      symmetric = true, packedArgmax = Some(false)))
    assert(out === unpacked)
  }
}

class NewOperatorsSpec extends GraftSuite {
  import graft.algo.{Centrality, KCore, ShortestPaths, TriangleCount}

  private val karate = undirected(Fixtures.karatePairs)

  test("local clustering coefficient matches brute force on karate") {
    val got = TriangleCount.localClustering(edgesDf(karate))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val adj = karate.groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val expect = adj.map { case (v, nb) =>
      val d = nb.size
      val links = (for (a <- nb.toSeq; b <- nb.toSeq if a < b && adj(a)(b)) yield 1).size
      v -> (if (d < 2) 0.0 else 2.0 * links / (d.toDouble * (d - 1)))
    }
    assert(got.keySet === expect.keySet)
    expect.foreach { case (v, e) => assert(math.abs(got(v) - e) < 1e-12, s"v=$v") }
  }

  test("sampled closeness/harmonic match per-source BFS on karate") {
    val sources = Seq(1L, 34L)
    val adj = karate.groupBy(_._1).view.mapValues(_.map(_._2)).toMap
    def bfsLevels(s: Long): Map[Long, Int] = {
      var dist = Map(s -> 0); var frontier = Seq(s); var lev = 0
      while (frontier.nonEmpty) {
        lev += 1
        val next = frontier.flatMap(adj(_)).distinct.filterNot(dist.contains)
        next.foreach(v => dist += v -> lev)
        frontier = next
      }
      dist
    }
    val got = {
      import spark.implicits._
      Centrality.sampledCloseness(edgesDf(karate), sources.toDF("id"))
        .collect().map(r => r.getLong(0) ->
          ((r.getLong(1), r.getDouble(2), r.getDouble(3)))).toMap
    }
    sources.foreach { s =>
      val d = bfsLevels(s).filter(_._2 > 0)
      val (reached, harm, close) =
        (d.size.toLong, d.values.map(1.0 / _).sum, d.size.toDouble / d.values.sum)
      assert(got(s)._1 === reached)
      assert(math.abs(got(s)._2 - harm) < 1e-9)
      assert(math.abs(got(s)._3 - close) < 1e-9)
    }
  }

  test("weighted SSSP converges to Dijkstra distances") {
    import spark.implicits._
    // deterministic integer weights on karate: w(u,v) = (u+v) % 5 + 1
    val wedges = karate.map { case (u, v) => (u, v, (u + v) % 5 + 1) }
    val (distDf, _, converged) = ShortestPaths.run(
      wedges.toDF("src", "dst", "weight"), Seq(1L).toDF("id"))
    assert(converged)
    val got = distDf.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // in-memory Dijkstra
    val adj = wedges.groupBy(_._1).view.mapValues(_.map(e => (e._2, e._3))).toMap
    val dist = scala.collection.mutable.Map(1L -> 0L)
    val pq = scala.collection.mutable.PriorityQueue((0L, 1L))(
      Ordering.by[(Long, Long), Long](-_._1))
    while (pq.nonEmpty) {
      val (d, u) = pq.dequeue()
      if (d == dist(u)) adj.getOrElse(u, Nil).foreach { case (v, w) =>
        if (dist.get(v).forall(_ > d + w)) { dist(v) = d + w; pq.enqueue((d + w, v)) }
      }
    }
    assert(got === dist.toMap)
    // the fixed-round form at rounds >= convergence agrees
    val fixed = ShortestPaths.runFixed(
      wedges.toDF("src", "dst", "weight"), Seq(1L).toDF("id"), rounds = 12)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(fixed === dist.toMap)
  }

  test("k-core peel matches sequential peeling on karate") {
    def seqCore(k: Long): Set[Long] = {
      var alive = karate.flatMap(e => Seq(e._1, e._2)).toSet
      var changed = true
      while (changed) {
        val deg = karate.filter(e => alive(e._1) && alive(e._2))
          .groupBy(_._1).view.mapValues(_.size).toMap
        val next = alive.filter(v => deg.getOrElse(v, 0) >= k)
        changed = next != alive
        alive = next
      }
      alive
    }
    Seq(2L, 3L, 4L, 5L).foreach { k =>
      val (core, _, conv) = KCore.kCore(edgesDf(karate), k)
      assert(conv)
      assert(core.collect().map(_.getLong(0)).toSet === seqCore(k), s"k=$k")
    }
    // karate's max core is 4: the 5-core must be empty
    assert(KCore.kCore(edgesDf(karate), 5L)._1.count() === 0L)
  }

  test("deterministic walks replay the LCG schedule and follow real edges") {
    import spark.implicits._
    val starts = Seq(1L, 34L)
    val length = 6
    val got = graft.algo.RandomWalks.walks(
        edgesDf(karate), starts.toDF("id"), length)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    // in-memory replay: neighbors in ascending order, same LCG step choice
    val nbrs = karate.groupBy(_._1).view.mapValues(_.map(_._2).sorted).toMap
    starts.foreach { w =>
      var cur = w
      assert(got((w, 0L)) === w)
      (1 to length).foreach { t =>
        val ns = nbrs(cur)
        cur = ns(((cur * graft.algo.RandomWalks.StepMixA
          + w * graft.algo.RandomWalks.StepMixB + t) % ns.size).toInt)
        assert(got((w, t.toLong)) === cur, s"walk $w step $t")
      }
    }
    assert(got.size === starts.size * (length + 1))
    // every transition is a real edge
    val edgeSet = karate.toSet
    starts.foreach { w =>
      (1 to length).foreach { t =>
        assert(edgeSet.contains((got((w, t - 1L)), got((w, t.toLong)))))
      }
    }
  }

  test("walks reach full length for vertex ids across the 2^40 envelope " +
      "(r3 overflow fix)") {
    import spark.implicits._
    // a symmetrized ring whose ids sit at the TOP of the 40-bit envelope
    // (base ≈ 2^40 - 8): round 3's step mix (A ≈ 2^30) overflowed signed
    // 64-bit for any id ≥ ~2^33, went negative under `%`, matched no
    // neighbor, and silently ended the walk (VERDICT r3 #1)
    val base = (1L << 40) - 8L
    val n = 6
    val ring = (0 until n).flatMap { i =>
      val a = base + i
      val b = base + (i + 1) % n
      Seq((a, b), (b, a))
    }.distinct
    val length = 7
    val out = graft.algo.RandomWalks.walks(
        ring.toDF("src", "dst"), Seq(base, base + 3L).toDF("id"), length)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    // no silent truncation: every walk has ALL length+1 steps
    val byWalk = out.groupBy(_._1)
    assert(byWalk.keySet === Set(base, base + 3L))
    byWalk.foreach { case (w, rows) =>
      assert(rows.map(_._2).sorted.toSeq === (0L to length.toLong),
        s"walk $w truncated")
    }
    // and the replay still matches at these magnitudes
    val nbrs = ring.groupBy(_._1).view.mapValues(_.map(_._2).sorted).toMap
    val got = out.map(r => (r._1, r._2) -> r._3).toMap
    Seq(base, base + 3L).foreach { w =>
      var cur = w
      (1 to length).foreach { t =>
        val ns = nbrs(cur)
        cur = ns(((cur * graft.algo.RandomWalks.StepMixA
          + w * graft.algo.RandomWalks.StepMixB + t) % ns.size).toInt)
        assert(got((w, t.toLong)) === cur, s"walk $w step $t")
      }
    }
  }

  test("degree assortativity matches the direct Pearson computation on karate") {
    val got = graft.measures.Measures.degreeAssortativity(edgesDf(karate))
    val deg = karate.groupBy(_._1).view.mapValues(_.size).toMap
    val xs = karate.map(e => deg(e._1).toDouble)
    val ys = karate.map(e => deg(e._2).toDouble)
    val m = xs.size
    val (sx, sy) = (xs.sum, ys.sum)
    val num = m * (xs, ys).zipped.map(_ * _).sum - sx * sy
    val den = math.sqrt((m * xs.map(x => x * x).sum - sx * sx) *
      (m * ys.map(y => y * y).sum - sy * sy))
    assert(math.abs(got - num / den) < 1e-12)
    // Zachary's karate club is famously disassortative (~ -0.4756)
    assert(math.abs(got - (-0.4756)) < 0.001)
  }

  test("link-prediction scores match brute force on karate") {
    import spark.implicits._
    val adj = karate.groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val deg = adj.view.mapValues(_.size).toMap
    val nodes = adj.keys.toSeq.sorted
    val probe = for (u <- nodes; v <- nodes if u < v) yield (u, v)
    val got = graft.algo.LinkPrediction.scores(
        edgesDf(karate), probe.toDF("src", "dst"))
      .collect().map(r => (r.getLong(0), r.getLong(1)) ->
        ((r.getLong(2), r.getDouble(3), r.getDouble(4), r.getLong(5)))).toMap
    assert(got.size === probe.size) // every pair emitted
    probe.foreach { case (u, v) =>
      val common = adj(u) intersect adj(v)
      assert(got((u, v))._1 === common.size.toLong, s"cn ($u,$v)")
      val aa = common.toSeq.map(z => 1.0 / math.log(deg(z))).sum
      assert(math.abs(got((u, v))._2 - aa) < 1e-9, s"aa ($u,$v)")
      val jac = if (adj(u).union(adj(v)).nonEmpty)
        common.size.toDouble / adj(u).union(adj(v)).size else 0.0
      assert(math.abs(got((u, v))._3 - jac) < 1e-9, s"jaccard ($u,$v)")
      assert(got((u, v))._4 === deg(u).toLong * deg(v), s"pa ($u,$v)")
    }
    // sanity: tightly-knit hub pair scores above a cross-community pair
    assert(got((1L, 2L))._2 > got((1L, 34L))._2)
  }

  test("HITS matches the dense alternating iteration on the directed karate graph") {
    // directed: the fixture pairs as given (low id → high id)
    val directed = Fixtures.karatePairs
    val got = graft.algo.Hits.runFixed(edgesDf(directed), iterations = 10)
      .collect().map(r => r.getLong(0) -> ((r.getDouble(1), r.getDouble(2)))).toMap
    val nodes = directed.flatMap(e => Seq(e._1, e._2)).distinct.sorted
    val idx = nodes.zipWithIndex.toMap
    var auth = Array.fill(nodes.size)(1.0 / nodes.size)
    var hub = Array.fill(nodes.size)(1.0 / nodes.size)
    for (_ <- 1 to 10) {
      val a = Array.fill(nodes.size)(0.0)
      directed.foreach { case (u, v) => a(idx(v)) += hub(idx(u)) }
      val as = a.sum
      auth = a.map(_ / as)
      val h = Array.fill(nodes.size)(0.0)
      directed.foreach { case (u, v) => h(idx(u)) += auth(idx(v)) }
      val hs = h.sum
      hub = h.map(_ / hs)
    }
    nodes.foreach { v =>
      assert(math.abs(got(v)._1 - auth(idx(v))) < 1e-9, s"auth v=$v")
      assert(math.abs(got(v)._2 - hub(idx(v))) < 1e-9, s"hub v=$v")
    }
    // L1-normalized and genuinely directed: hub != auth somewhere
    assert(math.abs(got.values.map(_._1).sum - 1.0) < 1e-9)
    assert(math.abs(got.values.map(_._2).sum - 1.0) < 1e-9)
    assert(nodes.exists(v => math.abs(got(v)._1 - got(v)._2) > 1e-6))
  }

  test("weighted PageRank matches the dense weighted power iteration") {
    import spark.implicits._
    val wedges = karate.map { case (u, v) => (u, v, (u + v) % 5 + 1) }
    val got = graft.algo.PageRank.runFixedWeighted(
      wedges.toDF("src", "dst", "weight"), iterations = 15)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val nodes = karate.flatMap(e => Seq(e._1, e._2)).distinct.sorted
    val n = nodes.size
    val idx = nodes.zipWithIndex.toMap
    val wout = wedges.groupBy(_._1).view.mapValues(_.map(_._3).sum).toMap
    var rank = Array.fill(n)(1.0 / n)
    for (_ <- 1 to 15) {
      val next = Array.fill(n)(0.15 / n)
      wedges.foreach { case (u, v, w) =>
        next(idx(v)) += 0.85 * rank(idx(u)) * w / wout(u)
      }
      rank = next
    }
    nodes.foreach(v => assert(math.abs(got(v) - rank(idx(v))) < 1e-9, s"v=$v"))
    assert(math.abs(got.values.sum - 1.0) < 1e-9)
    // unit weights reduce exactly to the unweighted runFixed
    val unit = karate.map { case (u, v) => (u, v, 1L) }
    val w1 = graft.algo.PageRank.runFixedWeighted(
      unit.toDF("src", "dst", "weight"), iterations = 5)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val plain = graft.algo.PageRank.runFixed(edgesDf(karate), iterations = 5)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    nodes.foreach(v => assert(math.abs(w1(v) - plain(v)) < 1e-12, s"v=$v"))
  }

  test("personalized PageRank concentrates mass near the source set") {
    import spark.implicits._
    val sources = Seq(1L)
    val got = graft.algo.PageRank.runPersonalizedFixed(
      edgesDf(karate), sources.toDF("id"), iterations = 20)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    // dense oracle: rank' = 0.15*reset + 0.85 * M rank (no danglers here)
    val nodes = karate.flatMap(e => Seq(e._1, e._2)).distinct.sorted
    val idx = nodes.zipWithIndex.toMap
    val outDeg = karate.groupBy(_._1).view.mapValues(_.size).toMap
    val reset = nodes.map(v => if (sources.contains(v)) 1.0 / sources.size else 0.0)
    var rank = reset.toArray
    for (_ <- 1 to 20) {
      val next = nodes.map(v => 0.15 * reset(idx(v))).toArray
      karate.foreach { case (u, v) =>
        next(idx(v)) += 0.85 * rank(idx(u)) / outDeg(u)
      }
      rank = next
    }
    nodes.foreach { v =>
      assert(math.abs(got(v) - rank(idx(v))) < 1e-9, s"v=$v")
    }
    // mass sums to 1 and the source outranks everyone
    assert(math.abs(got.values.sum - 1.0) < 1e-9)
    assert(got(1L) === got.values.max)
  }
}

class EdgeStreamsSpec extends GraftSuite {
  import graft.streaming.EdgeStreams

  private val events = "/root/testdata/sf0.001/events.parquet"

  test("streaming degree maintenance equals the batch plan") {
    val streamed = EdgeStreams
      .runDegreeStreamOnce(spark, events, "edge_stream_spec")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val batch = EdgeStreams.degreeCounts(
        EdgeStreams.eventEdges(spark.read.parquet(events)))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(streamed === batch)
    assert(streamed.nonEmpty)
  }

  test("foreachBatch ingestion appends edges and maintains the degree summary") {
    val target = java.nio.file.Files.createTempDirectory("graft-ingest").toString
    val batches = EdgeStreams.ingestOnce(spark, events, target)
    assert(batches >= 1L)
    val ingested = spark.read.parquet(s"$target/edges")
    val direct = EdgeStreams.eventEdges(spark.read.parquet(events))
    assert(ingested.count() === direct.count())
    // the maintained summary equals a from-scratch recompute
    val summary = spark.read.parquet(s"$target/degrees")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val recomputed = EdgeStreams.degreeCounts(direct)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(summary === recomputed)
  }
}

/** 100 TB plan gates for the round-3 operators: every join is an
  * equi-join (no cartesian anywhere), aggregations stay in HashAggregate.
  */
class NewOperatorsPlanSpec extends GraftSuite {
  import graft.algo.{Centrality, KCore, ShortestPaths, TriangleCount}

  private val karate = undirected(Fixtures.karatePairs)

  private def assertNoCross(df: org.apache.spark.sql.DataFrame, name: String): Unit = {
    df.collect()
    val plan = df.queryExecution.executedPlan.toString()
    assert(!plan.contains("CartesianProduct"), s"$name plans a cross product:\n$plan")
  }

  test("lcc / sssp / kcore / ppr / centrality plan no cartesian products") {
    import spark.implicits._
    val e = edgesDf(karate)
    assertNoCross(TriangleCount.localClustering(e), "lcc")
    val w = karate.map { case (u, v) => (u, v, 1L) }.toDF("src", "dst", "weight")
    assertNoCross(ShortestPaths.runFixed(w, Seq(1L).toDF("id"), 3), "sssp")
    assertNoCross(KCore.peelFixed(e, 3L, 2), "kcore")
    assertNoCross(graft.algo.PageRank.runPersonalizedFixed(
      e, Seq(1L).toDF("id"), 3), "ppr")
    assertNoCross(Centrality.sampledCloseness(e, Seq(1L, 34L).toDF("id")),
      "centrality")
  }

  test("SSSP relaxation aggregates in HashAggregate (no sort in the hot loop)") {
    import spark.implicits._
    val w = ShortestPaths.weighted(
      karate.map { case (u, v) => (u, v, 1L) }.toDF("src", "dst", "weight"))
    val dist = Seq(1L).toDF("id").select(col("id"), lit(0L).as("dist"))
    // the public entry points checkpoint each round (plan shows an RDD
    // scan); gate the round's own plan via the shared relaxation unit
    val df = ShortestPaths.relaxOnce(w, dist)
    df.collect()
    val plan = df.queryExecution.executedPlan.toString()
    assert(!plan.contains("SortAggregate"), s"min relax fell to sort agg:\n$plan")
    assert(plan.contains("HashAggregate"), s"no hash agg:\n$plan")
  }
}

class DepthCapSpec extends GraftSuite {

  test("bfsLevels truncates at maxDepth (shared with the oracle bound)") {
    // path 0-1-2-3-4-5, source 0: untruncated eccentricity 5
    val path = undirected(Seq((0L, 1L), (1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L)))
    val e = edgesDf(path)
    val src = spark.range(1).select(lit(0L).as("id"))
    val full = Betweenness.bfsLevels(e, src)
    assert(full.agg(max("dist")).first().getLong(0) === 5L)
    val capped = Betweenness.bfsLevels(e, src, maxDepth = 2)
    assert(capped.agg(max("dist")).first().getLong(0) === 2L)
    assert(capped.count() === 3L) // dists 0,1,2 only
  }

  test("betweenness run honors maxDepth consistently with its forward pass") {
    val path = undirected(Seq((0L, 1L), (1L, 2L), (2L, 3L)))
    val e = edgesDf(path)
    val src = spark.range(1).select(lit(0L).as("id"))
    // depth 1: only vertex 1 is reached; no 2-hop paths ⇒ all deltas 0
    val bc = Betweenness.run(e, src, maxDepth = 1)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(bc.keySet === Set(1L))
    assert(bc(1L) === 0.0)
  }
}
