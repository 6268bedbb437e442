package graft

import org.apache.spark.sql.functions._
import graft.algo.{ConnectedComponents, Hits, KCore, LabelPropagation, LinkPrediction}
import graft.graph.GraphOps
import graft.streaming.EdgeStreams

/** Round-4 additions: automatic skew-threshold derivation, multi-batch
  * streaming ingest durability, HITS single-action iterations + zero-mass
  * guard, and the KCore / LinkPrediction input guards (ADVICE r3).
  */
class AutoSkewSpec extends GraftSuite {
  import spark.implicits._

  /** Two hot authorities (in-degree 2500 each) over a cold 2000-ring. */
  private def skewedEdges = {
    val hot = (0 until 2500).flatMap(i =>
      Seq((1000L + i, 0L), (5000L + i, 1L)))
    val ring = (0 until 2000).map(i =>
      (10000L + i, 10000L + (i + 1) % 2000))
    (hot ++ ring).toDF("src", "dst")
  }

  test("derived threshold flags the hot vertices; uniform graph derives none") {
    val e = skewedEdges
    // p99.9 of the in-degree distribution sits in the cold mass (1), so the
    // 8×mean floor (mean ≈ 3.5 ⇒ 28) is binding; both hot heads (2500)
    // clear it AND the fair-share gate (7000/8 = 875)
    val t = GraphOps.deriveSkewThreshold(e, partitions = 8)
    assert(t.isDefined)
    assert(t.get < 2500L && t.get >= 8L, s"threshold ${t.get}")
    val plan = GraphOps.planSkewAuto(e, partitions = 8)
    assert(plan.isDefined)
    assert(plan.get.hotIds.collect().map(_.getLong(0)).toSet === Set(0L, 1L))
    // every edge lands in exactly one slice
    assert(plan.get.hotEdges.count() + plan.get.coldEdges.count() === e.count())
    GraphOps.unpersistSkew(plan.get)
    // a uniform ring has no hot set: max degree 1 is below every gate
    val ring = (0 until 2000).map(i =>
      (i.toLong, ((i + 1) % 2000).toLong)).toDF("src", "dst")
    assert(GraphOps.deriveSkewThreshold(ring, partitions = 8).isEmpty)
    // and below the fair-share gate even when the quantile would flag it:
    // 16 cores over 2000 edges ⇒ fair share 125 ≫ max degree 1
    assert(GraphOps.planSkewAuto(ring, partitions = 16).isEmpty)
  }

  test("skew-aware LP and CC supersteps are label-identical to the plain plan") {
    val e = skewedEdges
    val sym = GraphOps.symmetrize(GraphOps.dropSelfLoops(e))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val plan = GraphOps.planSkewAuto(sym, partitions = 8)
    assert(plan.isDefined, "symmetrized skew graph must derive a plan")
    var plain = LabelPropagation.initLabels(GraphOps.vertices(sym))
    var skewed = plain
    (1 to 2).foreach { _ =>
      plain = LabelPropagation.superstep(sym, plain, symmetric = true)
      skewed = LabelPropagation.superstepSkewAware(plan.get, skewed)
    }
    assert(labelsMap(skewed) === labelsMap(plain))
    // CC: min-propagation through the same hot/cold routing
    var ccPlain = LabelPropagation.initLabels(GraphOps.vertices(sym))
    var ccSkewed = ccPlain
    (1 to 2).foreach { _ =>
      ccPlain = ConnectedComponents.superstep(sym, ccPlain)
      ccSkewed = ConnectedComponents.superstepSkewAware(plan.get, ccSkewed)
    }
    assert(labelsMap(ccSkewed) === labelsMap(ccPlain))
    GraphOps.unpersistSkew(plan.get)
    sym.unpersist(blocking = false)
  }

  test("LabelPropagation.run with autoSkew engaged converges to the plain labels") {
    val e = GraphOps.prepareForGather(
      GraphOps.symmetrize(GraphOps.dropSelfLoops(skewedEdges)), 8)
    val n = GraphOps.vertices(e).count()
    // force engagement by the same criterion run() uses (the test session
    // has 8 shuffle partitions, so the fair-share gate passes)
    val auto = LabelPropagation.run(e, n, maxIter = Some(3), symmetric = true)
    val plain = LabelPropagation.run(e, n, maxIter = Some(3), symmetric = true,
      autoSkew = false)
    assert(labelsMap(auto.labels) === labelsMap(plain.labels))
    e.unpersist(blocking = false)
  }
}

class HitsRound4Spec extends GraftSuite {
  import spark.implicits._

  private val directed = Fixtures.karatePairs // directed as given

  test("each HITS iteration runs one driver-blocking action (in-plan L1 norms)") {
    val e = edgesDf(directed)
    // warm up (codegen, shuffle services) so the counted run is steady-state
    Hits.runFixed(e, iterations = 1, partitions = 4).count()
    // count SQL EXECUTIONS, not jobs: AQE materializes every exchange as
    // its own job, so job counts say nothing about driver round-trips —
    // each blocking action (count / first / eager checkpoint) starts
    // exactly one SQL execution
    val execs = countActions {
      Hits.runFixed(e, iterations = 3, partitions = 4).count()
    }.sqlExecutions
    // setup (verts.count) + ONE eager checkpoint per iteration + the final
    // count = iterations + 2. The round-3 shape ran two scalar `.first()`
    // actions per iteration on top of the checkpoint (3/iteration = 11
    // here) — VERDICT r3 task 7.
    assert(execs <= 3 + 2,
      s"HITS ran $execs SQL executions for 3 iterations — " +
        "normalization actions are back on the driver path")
  }

  test("HITS normalizes to L1=1 with no NaN, and guards the zero-mass case") {
    val scores = Hits.runFixed(edgesDf(directed), iterations = 3, partitions = 4)
      .collect()
    val (aSum, hSum) = (scores.map(_.getDouble(1)).sum, scores.map(_.getDouble(2)).sum)
    assert(math.abs(aSum - 1.0) < 1e-9 && math.abs(hSum - 1.0) < 1e-9)
    assert(scores.forall(r => !r.getDouble(1).isNaN && !r.getDouble(2).isNaN))
    // empty edge set: no vertices, no rows, and — the ADVICE r3 case — no
    // NaN from a 0/0 normalization
    val empty = Seq.empty[(Long, Long)].toDF("src", "dst")
    assert(Hits.runFixed(empty, iterations = 2, partitions = 2).count() === 0L)
  }
}

class ColorFixtureSpec extends GraftSuite {
  import spark.implicits._

  test("the oracle's coloring transcription matches the real Jones–Plassmann " +
      "output on the fixture graph") {
    val pairs = graft.queries.GraphQueries.ColorFixturePairs
      .map { case (a, b) => (a.toLong, b.toLong) }.toDF("src", "dst")
    val e = GraphOps.symmetrize(GraphOps.dropSelfLoops(pairs))
    val got = graft.algo.SemiSyncLP.greedyColoring(e)
      .collect().map(r => r.getLong(0).toInt -> r.getInt(1)).toMap
    assert(got === graft.queries.GraphQueries.ColorFixtureColoring.toMap)
    // and it is a proper coloring of the fixture
    graft.queries.GraphQueries.ColorFixturePairs.foreach { case (a, b) =>
      assert(got(a) !== got(b), s"edge ($a,$b) monochromatic")
    }
  }
}

class GuardsSpec extends GraftSuite {
  import spark.implicits._

  test("k-core rejects k < 1 instead of silently returning the 1-core") {
    val e = edgesDf(undirected(Fixtures.twoCliquesBridge))
    intercept[IllegalArgumentException](KCore.kCore(e, 0L))
    intercept[IllegalArgumentException](KCore.peelFixed(e, -3L, 2))
  }

  test("PageRank runFixed symmetric fast path matches the general path exactly") {
    val e = edgesDf(undirected(Fixtures.karatePairs))
    val fast = graft.algo.PageRank.runFixed(e, iterations = 7, partitions = 4,
        symmetric = true)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val general = graft.algo.PageRank.runFixed(e, iterations = 7, partitions = 4)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(fast.keySet === general.keySet)
    fast.foreach { case (id, v) =>
      assert(math.abs(v - general(id)) < 1e-15, s"vertex $id") }
  }

  test("Adamic–Adar stays finite for degree-1 witnesses and self-pairs") {
    // DIRECTED input: z = 99's only out-edge is the common neighbor edge…
    // actually z is the common neighbor: u→z and v→z give cn(u,v) ≥ 1 with
    // deg(z) possibly 1 when the table is not symmetrized
    val e = Seq((1L, 99L), (2L, 99L), (99L, 1L)).toDF("src", "dst")
    // deg(1)=1 via (1,99); common neighbor of (1,2) is 99 with deg(99)=1
    val pairs = Seq((1L, 2L), (1L, 1L)).toDF("src", "dst")
    val rows = LinkPrediction.scores(e, pairs).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val aa = r.getDouble(3)
      assert(!aa.isNaN && !aa.isInfinite, s"aa=$aa for (${r.getLong(0)},${r.getLong(1)})")
    }
    // the degree-1 witness contributes 0, so the (1,2) pair's aa is 0
    val p12 = rows.find(r => r.getLong(0) == 1L && r.getLong(1) == 2L).get
    assert(p12.getDouble(3) === 0.0)
    assert(p12.getLong(2) === 1L) // the common neighbor is still counted
  }
}

class LouvainSpec extends GraftSuite {
  import spark.implicits._
  import graft.algo.Louvain

  private def weighted(pairs: Seq[(Long, Long)]) =
    edgesDf(undirected(pairs)).withColumn("weight", lit(1L))

  test("two cliques with a bridge resolve to the two cliques") {
    val (assign, levels) = Louvain.run(weighted(Fixtures.twoCliquesBridge))
    val m = labelsMap(assign)
    assert(Set(0L, 1L, 2L, 3L).map(m).size === 1, s"clique A split: $m")
    assert(Set(10L, 11L, 12L, 13L).map(m).size === 1, s"clique B split: $m")
    assert(m(0L) !== m(10L), s"cliques merged: $m")
    assert(levels >= 1)
  }

  test("move rounds are deterministic; full run reaches real karate modularity") {
    val e = weighted(Fixtures.karatePairs)
    assert(labelsMap(Louvain.moveFixed(e, 2)) ===
      labelsMap(Louvain.moveFixed(e, 2)))
    val (assign, _) = Louvain.run(e)
    val q = graft.measures.Measures.modularity(
      edgesDf(undirected(Fixtures.karatePairs)),
      assign.withColumnRenamed("com", "label"))
    // published Louvain karate modularity is ~0.41-0.42; the deterministic
    // synchronous relaxation should land in the same neighborhood
    assert(q > 0.3, s"karate Louvain modularity $q")
  }

  test("contraction preserves total weight and shrinks the vertex set") {
    val e = weighted(Fixtures.karatePairs)
    val assign = Louvain.moveFixed(e, 3)
    val agg = Louvain.aggregateGraph(e, assign)
    assert(agg.agg(sum("weight")).first().getLong(0) ===
      e.agg(sum("weight")).first().getLong(0))
    assert(GraphOps.vertices(agg.select("src", "dst")).count() <
      GraphOps.vertices(e.select("src", "dst")).count())
  }
}

class SccSpec extends GraftSuite {
  import spark.implicits._
  import graft.algo.StronglyConnected

  /** Recursive Tarjan oracle (fine at test depths). */
  private def tarjan(edges: Seq[(Long, Long)]): Map[Long, Long] = {
    val nodes = (edges.map(_._1) ++ edges.map(_._2)).distinct
    val adj = edges.groupBy(_._1).view.mapValues(_.map(_._2)).toMap
    var counter = 0
    val index = scala.collection.mutable.Map.empty[Long, Int]
    val low = scala.collection.mutable.Map.empty[Long, Int]
    val onStack = scala.collection.mutable.Set.empty[Long]
    val stack = scala.collection.mutable.Stack.empty[Long]
    val comp = scala.collection.mutable.Map.empty[Long, Long]
    def strong(v: Long): Unit = {
      index(v) = counter; low(v) = counter; counter += 1
      stack.push(v); onStack += v
      adj.getOrElse(v, Nil).foreach { w =>
        if (!index.contains(w)) { strong(w); low(v) = math.min(low(v), low(w)) }
        else if (onStack(w)) low(v) = math.min(low(v), index(w))
      }
      if (low(v) == index(v)) {
        val members = scala.collection.mutable.ArrayBuffer.empty[Long]
        var w = -1L
        while ({ w = stack.pop(); onStack -= w; members += w; w != v }) ()
        val label = members.min
        members.foreach(comp(_) = label)
      }
    }
    nodes.foreach(v => if (!index.contains(v)) strong(v))
    comp.toMap
  }

  test("three cycles with tendrils resolve to the exact SCCs") {
    val edges = Seq(
      (0L, 1L), (1L, 2L), (2L, 0L),           // cycle A
      (2L, 3L),                                // bridge A→B
      (3L, 4L), (4L, 5L), (5L, 3L),            // cycle B
      (5L, 6L),                                // tendril → trivial SCC
      (7L, 8L), (8L, 9L), (9L, 7L), (9L, 0L))  // cycle C → A
    val (scc, rounds) = StronglyConnected.run(edges.toDF("src", "dst"))
    val got = labelsMap(scc)
    assert(got === Map(0L -> 0L, 1L -> 0L, 2L -> 0L,
      3L -> 3L, 4L -> 3L, 5L -> 3L, 6L -> 6L,
      7L -> 7L, 8L -> 7L, 9L -> 7L))
    assert(rounds >= 1)
  }

  test("SCC labels match the Tarjan oracle on a dense pseudo-random digraph") {
    // deterministic digraph: 40 vertices, hash-selected edges (~15% density)
    val edges = (for {
      i <- 0L until 40L; j <- 0L until 40L
      if i != j && (i * 131 + j * 37) % 7 == 0
    } yield (i, j)).toSeq
    val got = labelsMap(StronglyConnected.run(edges.toDF("src", "dst"))._1)
    assert(got === tarjan(edges))
  }
}

class StreamingIngestRound4Spec extends GraftSuite {

  private val events = "/root/testdata/sf0.001/events.parquet"

  /** The sf0.001 events split into `n` parquet part-files in a fresh dir. */
  private def splitEvents(n: Int): String = {
    val dir = java.nio.file.Files.createTempDirectory("graft-ev-split").toString
    spark.read.parquet(events).repartition(n)
      .write.mode("overwrite").parquet(dir)
    dir
  }

  private def summaryMap(target: String): Map[Long, Long] =
    spark.read.parquet(s"$target/degrees")
      .select("src", "out_degree")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap

  private def oracleMap(paths: String*): Map[Long, Long] = {
    val df = paths.map(spark.read.parquet(_)).reduce(_ union _)
    EdgeStreams.degreeCounts(EdgeStreams.eventEdges(df))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
  }

  test("ingest merges the summary correctly across >= 3 micro-batches " +
      "and a re-run applies nothing") {
    val src = splitEvents(3)
    val target = java.nio.file.Files.createTempDirectory("graft-ingest4").toString
    val applied = EdgeStreams.ingestOnce(spark, src, target,
      maxFilesPerTrigger = Some(1))
    assert(applied >= 3L, s"expected >= 3 micro-batches, got $applied")
    assert(summaryMap(target) === oracleMap(src))
    val edgeCount = spark.read.parquet(s"$target/edges").count()
    assert(edgeCount === EdgeStreams.eventEdges(spark.read.parquet(src)).count())
    // re-run against the same target: the checkpoint's processed-file log
    // admits nothing, so no batch applies and nothing double-counts
    // (round 3 ran checkpoint-less and would re-ingest everything)
    assert(EdgeStreams.ingestOnce(spark, src, target,
      maxFilesPerTrigger = Some(1)) === 0L)
    assert(summaryMap(target) === oracleMap(src))
    assert(spark.read.parquet(s"$target/edges").count() === edgeCount)
  }

  test("ingest resumes mid-stream from the checkpoint when new files arrive") {
    val full = splitEvents(3)
    val parts = new java.io.File(full).listFiles()
      .filter(f => f.getName.endsWith(".parquet") && !f.getName.startsWith("_"))
      .sortBy(_.getName)
    assert(parts.length === 3)
    val src = java.nio.file.Files.createTempDirectory("graft-ev-incr").toString
    def arrive(i: Int): Unit =
      java.nio.file.Files.copy(parts(i).toPath,
        java.nio.file.Paths.get(src, parts(i).getName))
    arrive(0); arrive(1)
    val target = java.nio.file.Files.createTempDirectory("graft-ingest5").toString
    val first = EdgeStreams.ingestOnce(spark, src, target,
      maxFilesPerTrigger = Some(1))
    assert(first === 2L)
    assert(summaryMap(target) ===
      oracleMap(parts(0).getPath, parts(1).getPath))
    // the third file arrives; a RESTARTED query resumes from the
    // checkpoint and applies exactly the new batch
    arrive(2)
    val second = EdgeStreams.ingestOnce(spark, src, target,
      maxFilesPerTrigger = Some(1))
    assert(second === 1L)
    assert(summaryMap(target) === oracleMap(full))
    assert(spark.read.parquet(s"$target/edges").count() ===
      EdgeStreams.eventEdges(spark.read.parquet(full)).count())
  }
}

class HostGraphSpec extends GraftSuite {
  import spark.implicits._
  import graft.sources.{HostGraph, PagesSynth}

  test("hostOf normalizes scheme case, userinfo, port, path, query, fragment") {
    val in = Seq(
      "https://Example.COM/a/b?q=1#f",
      "HTTP://user:pw@Sub.Example.com:8080/x",
      "ftp://files.example.net",
      "/relative/path",           // no scheme -> no host
      "mailto:someone@example.com" // no ://   -> no host
    ).toDF("u")
    val got = in.select(HostGraph.hostOf(org.apache.spark.sql.functions.col("u")))
      .as[String].collect().toSeq
    assert(got === Seq("example.com", "sub.example.com", "files.example.net", "", ""))
  }

  test("contract drops intra-host and hostless links, counts multiplicity") {
    val pairs = Seq(
      ("https://a.example/1", "https://b.example/x"),
      ("https://a.example/2", "https://B.EXAMPLE/y"), // same host pair after norm
      ("https://a.example/3", "https://a.example/4"), // intra-host
      ("https://a.example/5", "/relative"),           // hostless target
      ("https://b.example/1", "https://a.example/9")
    ).toDF("src_url", "dst_url")
    val got = HostGraph.contract(pairs)
      .as[(String, String, Long)].collect().toSet
    assert(got === Set(("a.example", "b.example", 2L), ("b.example", "a.example", 1L)))
  }

  test("fromPages contracts the synthetic corpus to its 97-host graph") {
    val pages = PagesSynth.pages(spark, 400)
    val he = HostGraph.fromPages(pages).cache()
    val hosts = he.select("src_host").union(he.select("dst_host"))
      .distinct().as[String].collect().toSet
    assert(hosts.forall(h => h.matches("host\\d+\\.example")))
    assert(hosts.forall(h => h.stripPrefix("host").stripSuffix(".example").toInt < PagesSynth.Hosts))
    // total weight = url-level inter-host links (contraction loses nothing)
    val pairs = graft.sources.TextExtract.linkPairs(pages)
    val interHost = pairs.filter(
      HostGraph.hostOf($"src_url") =!= HostGraph.hostOf($"dst_url")).count()
    val totalW = he.agg(org.apache.spark.sql.functions.sum("weight"))
      .first().getLong(0)
    assert(totalW === interHost)
    he.unpersist()
  }

  test("hostPageRank matches a dense oracle with dangling hosts, mass sums to 1") {
    // c has no outlinks -> dangling; a splits 2:1 between b and c
    val he = Seq(
      ("a.example", "b.example", 2L),
      ("a.example", "c.example", 1L),
      ("b.example", "a.example", 1L)
    ).toDF("src_host", "dst_host", "weight")
    val got = HostGraph.hostPageRank(he, iterations = 3)
      .as[(String, Double)].collect().toMap
    // dense replay
    var r = Map("a.example" -> 1.0 / 3, "b.example" -> 1.0 / 3, "c.example" -> 1.0 / 3)
    for (_ <- 1 to 3) {
      val dm = r("c.example")
      val next = Map(
        "a.example" -> r("b.example") * 1.0,
        "b.example" -> r("a.example") * 2.0 / 3.0,
        "c.example" -> r("a.example") * 1.0 / 3.0)
      r = r.keys.map(k => k -> (0.15 / 3 + 0.85 * (next(k) + dm / 3))).toMap
    }
    assert(got.keySet === r.keySet)
    r.foreach { case (k, v) => assert(math.abs(got(k) - v) < 1e-12, s"$k") }
    assert(math.abs(got.values.sum - 1.0) < 1e-9)
  }
}

class EffectiveDiameterSpec extends GraftSuite {
  import org.apache.spark.sql.functions._
  import graft.algo.{Betweenness, Centrality}

  test("path graph: histogram and 0.9-effective diameter match hand counts") {
    // path 0-1-...-9, all vertices as sources; ordered pairs at distance d
    // number 2*(10-d), total 90; cum at d=7 is 84 >= 81 = 0.9*90
    val e = edgesDf(undirected((0L to 8L).map(i => (i, i + 1))))
    val sources = e.select(col("src").as("id")).distinct()
    val lev = Betweenness.bfsLevels(e, sources)
    val hist = Centrality.distanceHistogram(lev)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(hist === (1L to 9L).map(d => d -> 2L * (10 - d)).toMap)
    val row = Centrality.effectiveDiameter(lev).collect().head
    assert(row.getLong(0) === 7L)           // eff_diameter
    assert(row.getLong(1) === 90L)          // reached_pairs
    assert(math.abs(row.getDouble(2) - 330.0 / 90.0) < 1e-12) // mean_dist
  }

  test("median (q=1/2) of a star graph is 2: leaves pair at distance 2") {
    // star center 0 with 8 leaves: 16 ordered pairs at d=1 (center<->leaf),
    // 56 at d=2 (leaf<->leaf); cum(1)=16 < 36 = 72/2, cum(2)=72
    val e = edgesDf(undirected((1L to 8L).map(i => (0L, i))))
    val sources = e.select(col("src").as("id")).distinct()
    val row = Centrality.effectiveDiameter(
      Betweenness.bfsLevels(e, sources), qNum = 1, qDen = 2).collect().head
    assert(row.getLong(0) === 2L && row.getLong(1) === 72L)
  }
}

class MotifCensusSpec extends GraftSuite {
  import graft.algo.TriangleCount

  private def census(pairs: Seq[(Long, Long)]) = {
    val r = TriangleCount.motifCensus(edgesDf(undirected(pairs))).collect().head
    (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3))
  }

  test("4-cycle: 4 wedges, no triangles, one square") {
    assert(census(Seq((0L, 1L), (1L, 2L), (2L, 3L), (3L, 0L))) === ((4L, 0L, 1L, 0.0)))
  }

  test("K4: 12 wedges, 4 triangles, 3 squares, transitivity 1") {
    val k4 = for (i <- 0L to 3L; j <- (i + 1) to 3L) yield (i, j)
    assert(census(k4) === ((12L, 4L, 3L, 1.0)))
  }

  test("star: wedges only") {
    assert(census((1L to 8L).map(i => (0L, i))) === ((28L, 0L, 0L, 0.0)))
  }
}

class TrussSpec extends GraftSuite {
  import graft.algo.Truss

  private def trussSet(pairs: Seq[(Long, Long)], k: Int): Set[(Long, Long)] =
    Truss.kTruss(edgesDf(undirected(pairs)), k)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet

  /** Sequential oracle: repeatedly drop canonical edges whose triangle
    * support (within the survivors) is below k-2. */
  private def bruteTruss(pairs: Seq[(Long, Long)], k: Int): Set[(Long, Long)] = {
    var es = pairs.map(p => (math.min(p._1, p._2), math.max(p._1, p._2))).toSet
    var changed = true
    while (changed) {
      def nbrs(v: Long) = es.collect {
        case (a, b) if a == v => b
        case (a, b) if b == v => a
      }
      val support = es.map { case (u, v) =>
        (u, v) -> (nbrs(u).toSet & nbrs(v).toSet).size
      }.toMap
      val next = es.filter(e => support(e) >= k - 2)
      changed = next != es
      es = next
    }
    es
  }

  test("two triangles sharing an edge: 4-truss empty, 3-truss keeps all") {
    val g = Seq((0L, 1L), (0L, 2L), (1L, 2L), (1L, 3L), (2L, 3L))
    assert(trussSet(g, 4) === Set.empty)
    assert(trussSet(g, 3) === g.toSet)
  }

  test("K4 is its own 4-truss; pendant edges peel off") {
    val k4 = (for (i <- 0L to 3L; j <- (i + 1) to 3L) yield (i, j)).toSeq
    val g = k4 ++ Seq((3L, 9L), (9L, 10L)) // tail hanging off the clique
    assert(trussSet(g, 4) === k4.toSet)
    assert(trussSet(g, 4) === bruteTruss(g, 4))
  }

  test("random graph matches the sequential peel at several k") {
    val rnd = new scala.util.Random(7)
    val g = Seq.fill(60)((rnd.nextInt(14).toLong, rnd.nextInt(14).toLong))
      .filter(p => p._1 != p._2).distinct
    for (k <- 3 to 5)
      assert(trussSet(g, k) === bruteTruss(g, k), s"k=$k")
  }
}

class GraphMeasuresRound4Spec extends GraftSuite {
  import graft.measures.Measures

  test("reciprocity: mutual pair among three directed edges") {
    // 0->1, 1->0 mutual; 1->2 one-way; self-loop and duplicate dropped
    val d = edgesDf(Seq((0L, 1L), (1L, 0L), (1L, 2L), (1L, 2L), (2L, 2L)))
    val r = Measures.reciprocity(d).collect().head
    assert((r.getLong(0), r.getLong(1)) === ((2L, 3L)))
    assert(math.abs(r.getDouble(2) - 2.0 / 3.0) < 1e-12)
  }

  test("conductance: two triangles joined by one bridge") {
    // S={0,1,2}, T={3,4,5}; within-S slots 6, bridge 2-3 adds 1 out-slot
    val pairs = Seq((0L, 1L), (1L, 2L), (0L, 2L),
      (3L, 4L), (4L, 5L), (3L, 5L), (2L, 3L))
    val e = edgesDf(undirected(pairs))
    val labels = {
      import spark.implicits._
      Seq((0L, 0L), (1L, 0L), (2L, 0L), (3L, 1L), (4L, 1L), (5L, 1L))
        .toDF("id", "label")
    }
    val got = Measures.conductance(e, labels).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getDouble(3))))
      .toMap
    // each side: vol 7 (6 internal + bridge), cut 1, 2m=14 -> min(7,7)=7
    assert(got(0L) === ((1L, 7L, 1.0 / 7.0)))
    assert(got(1L) === ((1L, 7L, 1.0 / 7.0)))
  }

  test("conductance of a whole-graph single community is 0 cut") {
    val e = edgesDf(undirected(Seq((0L, 1L), (1L, 2L))))
    val labels = {
      import spark.implicits._
      Seq((0L, 5L), (1L, 5L), (2L, 5L)).toDF("id", "label")
    }
    val r = Measures.conductance(e, labels).collect().head
    // vol = 2m -> min(vol, 2m - vol) = 0 -> guarded to 0.0
    assert(r.getLong(1) === 0L && r.getDouble(3) === 0.0)
  }
}

class BowTieSpec extends GraftSuite {
  import graft.algo.BowTie

  private def classes(pairs: Seq[(Long, Long)]): Map[Long, String] =
    BowTie.classify(edgesDf(pairs))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap

  test("core / in / out / other on a hand-built bow-tie") {
    // core cycle 1->2->3->1; 0 feeds in (plus a tube 0->4); 4 is out;
    // 8->9 is a disconnected island
    val g = Seq((0L, 1L), (1L, 2L), (2L, 3L), (3L, 1L), (3L, 4L),
      (0L, 4L), (8L, 9L))
    assert(classes(g) === Map(
      0L -> "in", 1L -> "core", 2L -> "core", 3L -> "core",
      4L -> "out", 8L -> "other", 9L -> "other"))
  }

  test("equal-size SCC tie breaks to the smaller canonical label") {
    // two 2-cycles; {1,2} wins the tie over {3,4}, which becomes out
    val g = Seq((1L, 2L), (2L, 1L), (3L, 4L), (4L, 3L), (2L, 3L))
    assert(classes(g) === Map(
      1L -> "core", 2L -> "core", 3L -> "out", 4L -> "out"))
  }
}

class DedupClustersSpec extends GraftSuite {
  import org.apache.spark.sql.functions._

  test("dedup clusters: every candidate pair shares a canon, canon = cluster min") {
    val sf = "/root/testdata/sf0.001"
    val canon = SparkEntry.queries("d_dedup_clusters")(spark, sf)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val pairs = graft.queries.PipelineQueries.minhashPairs(spark, docs)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(pairs.nonEmpty, "expected candidate pairs at sf0.001")
    pairs.foreach { case (a, b) =>
      assert(canon(a) === canon(b), s"pair ($a,$b) split across clusters")
    }
    // canonical ids are self-canonical minima, everything else points down
    canon.foreach { case (d, c) =>
      assert(c <= d && canon(c) === c, s"doc $d canon $c")
    }
    // singletons (docs in no pair) are canonical to themselves
    val inPairs = pairs.flatMap(p => Seq(p._1, p._2)).toSet
    canon.collect { case (d, c) if !inPairs(d) =>
      assert(c === d, s"singleton $d got canon $c")
    }
  }
}

class TfidfSpec extends GraftSuite {

  test("tf-idf top-3 matches an imperative oracle on the sf0.001 corpus") {
    val sf = "/root/testdata/sf0.001"
    val got = SparkEntry.queries("d_tfidf_topk")(spark, sf)
      .collect()
      .map(r => (r.getLong(0), r.getLong(2)) -> ((r.getString(1), r.getLong(3))))
      .toMap
    val docs = spark.read.parquet(s"$sf/documents.parquet")
      .select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1))
    val n = docs.length.toDouble
    val tf = docs.map { case (id, text) =>
      id -> "\\S+".r.findAllIn(text).toSeq.groupBy(identity)
        .view.mapValues(_.size).toMap
    }.toMap
    val df = tf.values.flatMap(_.keys).groupBy(identity)
      .view.mapValues(_.size).toMap
    val expected = tf.flatMap { case (id, terms) =>
      terms.toSeq
        .map { case (t, f) => (t, f * math.log(n / df(t))) }
        .sortBy { case (t, s) => (-s, t) }
        .take(3).zipWithIndex
        .map { case ((t, s), i) =>
          (id, i + 1L) -> ((t, math.round(s * 1e6)))
        }
    }
    assert(got.size === expected.size)
    expected.foreach { case (k, v) =>
      assert(got(k) === v, s"doc/rank $k")
    }
  }
}

class AnchorSpec extends GraftSuite {
  import spark.implicits._
  import org.apache.spark.sql.functions._
  import graft.sources.{PagesSynth, TextExtract}

  test("anchorPairs pairs hrefs with their texts positionally and normalizes") {
    val html = """<html><body>
      |<a href="HTTPS://A.Example/x#frag">first</a>
      |<a href="https://b.example/y"></a>
      |<a href="https://c.example/z" class="k">third</a>
      |<a href="https://d.example/"><img src="pic.png"></a>
      |<a href="https://e.example/"><b>bold</b>
      |  text</a>
      |</body></html>""".stripMargin
    val pages = Seq(("https://Src.Example/p", html)).toDF("url", "h")
      .select(col("url"), encode(col("h"), "UTF-8").as("html"))
    val got = TextExtract.anchorPairs(pages)
      .collect().map(r => (r.getString(1), r.getString(2))).toSeq
    assert(got === Seq(
      ("https://a.example/x", "first"), // lowercased host, fragment stripped
      ("https://b.example/y", ""),      // empty anchor text kept
      ("https://c.example/z", "third"), // extra attributes tolerated
      ("https://d.example/", ""),       // image anchor: tags stripped to empty
      ("https://e.example/", "bold text"))) // nested markup + newline collapsed
  }

  test("anchor pairs and link pairs agree on the synthetic corpus") {
    val pages = PagesSynth.pages(spark, 300)
    val ap = TextExtract.anchorPairs(pages)
    assert(ap.count() === TextExtract.linkPairs(pages).count())
    // the generator writes anchor text "link<k>" in emit order
    val texts = ap.select("anchor").distinct()
      .collect().map(_.getString(0)).toSet
    assert(texts.forall(_.matches("link\\d+")))
    // inbound aggregation conserves the pair count
    val total = TextExtract.inboundAnchors(pages)
      .agg(sum("n")).first().getLong(0)
    assert(total === ap.count())
  }
}

class SeededLpSpec extends GraftSuite {
  import spark.implicits._
  import org.apache.spark.sql.functions._
  import graft.algo.LabelPropagation

  test("seeds stay pinned, frontier advances one hop per superstep") {
    // path 0-1-2-3-4-5 with seed 0 (label 10) and seed 5 (label 20)
    val e = edgesDf(undirected((0L to 4L).map(i => (i, i + 1))))
    val seeds = Seq((0L, 10L), (5L, 20L)).toDF("id", "label")
    def labs(t: Int): Map[Long, Option[Long]] =
      LabelPropagation.runSeededFixed(e, seeds, t).collect()
        .map(r => r.getLong(0) ->
          (if (r.isNullAt(1)) None else Some(r.getLong(1)))).toMap
    val after1 = labs(1)
    assert(after1(1L) === Some(10L) && after1(4L) === Some(20L))
    assert(after1(2L).isEmpty && after1(3L).isEmpty)
    // after 3 steps everything is labeled; 2 hears {10 via 1} and {20..}?
    // path distances: 2 is closer to 0, 3 closer to 5
    val after3 = labs(3)
    assert(after3(0L) === Some(10L) && after3(5L) === Some(20L))
    assert(after3.values.forall(_.nonEmpty))
  }

  test("ties between equally frequent neighbor labels take the smaller label") {
    // center 9 adjacent to seeds 1 (label 7) and 2 (label 3): tie -> 3
    val e = edgesDf(undirected(Seq((1L, 9L), (2L, 9L))))
    val seeds = Seq((1L, 7L), (2L, 3L)).toDF("id", "label")
    val m = LabelPropagation.runSeededFixed(e, seeds, 1).collect()
      .map(r => r.getLong(0) -> (if (r.isNullAt(1)) None else Some(r.getLong(1))))
      .toMap
    assert(m(9L) === Some(3L))
    // seeds keep their own labels even though each hears the other's
    assert(m(1L) === Some(7L) && m(2L) === Some(3L))
  }
}

class Round4PlanSpec extends GraftSuite {
  import org.apache.spark.sql.functions._
  import graft.sources.{HostGraph, PagesSynth, TextExtract}

  private def formattedPlan(df: org.apache.spark.sql.DataFrame): String = {
    val out = new java.io.ByteArrayOutputStream()
    Console.withOut(new java.io.PrintStream(out)) { df.explain("formatted") }
    out.toString("UTF-8")
  }

  test("host contraction over a parquet pages table prunes to (url, html)") {
    val dir = java.nio.file.Files.createTempDirectory("graft-pages").toString
    PagesSynth.pages(spark, 50).write.mode("overwrite").parquet(dir)
    val plan = formattedPlan(HostGraph.fromPages(spark.read.parquet(dir)))
    val readSchema = plan.linesIterator.find(_.trim.startsWith("ReadSchema")).get
    assert(!readSchema.contains("text") && !readSchema.contains("lang") &&
      !readSchema.contains("warc_ts"),
      s"host contraction reads unneeded columns: $readSchema")
  }

  test("motif census and truss support run on equi-joins, never cartesian") {
    val e = edgesDf(undirected(Fixtures.karatePairs))
    val census = graft.algo.TriangleCount.motifCensus(e)
    census.collect()
    val censusPlan = census.queryExecution.executedPlan.toString()
    // the only non-equi joins are the documented 1-row scalar attachments,
    // which plan as BroadcastNestedLoopJoin — never a data-sized cartesian
    assert(!censusPlan.contains("CartesianProduct"),
      s"motif census degenerated to a cartesian product:\n$censusPlan")
    val support = graft.algo.Truss.edgeSupport(
      graft.graph.GraphOps.canonical(e))
    support.collect()
    val supportPlan = support.queryExecution.executedPlan.toString()
    assert(!supportPlan.contains("CartesianProduct") &&
      !supportPlan.contains("BroadcastNestedLoopJoin"),
      s"truss support has a non-equi join:\n$supportPlan")
  }

  test("tf-idf ranking window is partitioned by doc_id (no global sort)") {
    val df = SparkEntry.queries("d_tfidf_topk")(spark, "/root/testdata/sf0.001")
    df.collect()
    val plan = df.queryExecution.executedPlan.toString()
    assert(plan.contains("windowspecdefinition(doc_id"),
      s"ranking window not partitioned by doc_id:\n$plan")
  }

  test("anchor extraction keeps the inbound aggregation in hash aggregates") {
    val pages = PagesSynth.pages(spark, 100)
    val agg = TextExtract.inboundAnchors(pages)
    agg.collect()
    val plan = agg.queryExecution.executedPlan.toString()
    assert(!plan.contains("SortAggregate"),
      s"inbound anchors fell back to sort aggregation:\n$plan")
  }
}

class EdgeDiffSpec extends GraftSuite {
  import spark.implicits._

  test("edge diff classifies added and removed, ignores the intersection") {
    val oldE = Seq((1L, 2L), (2L, 3L), (3L, 4L), (3L, 4L)).toDF("src", "dst")
    val newE = Seq((2L, 3L), (3L, 4L), (9L, 1L)).toDF("src", "dst")
    val got = graft.graph.GraphOps.edgeDiff(oldE, newE)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2))).toSet
    assert(got === Set((9L, 1L, "added"), (1L, 2L, "removed")))
  }
}

class BiasedWalksSpec extends GraftSuite {
  import spark.implicits._
  import graft.algo.RandomWalks

  test("biased walks match an imperative replay and stay on edges") {
    val pairs = undirected(Seq((0L, 1L), (1L, 2L), (2L, 0L), (2L, 3L),
      (3L, 4L), (4L, 5L), (5L, 3L), (1L, 4L)))
    val e = edgesDf(pairs)
    val starts = Seq(0L, 3L).toDF("id")
    val got = RandomWalks.walksBiased(e, starts, length = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    // imperative replay of the same selection rules
    val adj = pairs.groupBy(_._1).view
      .mapValues(_.map(_._2).sorted).toMap
    val edgeSet = pairs.toSet
    val (wA, wB) = (RandomWalks.StepMixA, RandomWalks.StepMixB)
    def replay(start: Long): Seq[Long] = {
      var cur = start
      var prev = -1L
      var out = Seq(start)
      for (t <- 1 to 4) {
        val nbrs = adj(cur)
        val next = if (t == 1) {
          nbrs(((cur * wA + start * wB + t) % nbrs.size).toInt)
        } else {
          val ws = nbrs.map(x =>
            if (x == prev) 1L
            else if (edgeSet((prev, x))) 2L
            else 4L)
          val tw = ws.sum
          val r = (cur * wA + start * wB + t) % tw
          val cum = ws.scanLeft(0L)(_ + _).tail
          nbrs(cum.indexWhere(r < _))
        }
        prev = cur; cur = next; out :+= cur
      }
      out
    }
    for (s <- Seq(0L, 3L); t <- 0 to 4)
      assert(got((s, t.toLong)) === replay(s)(t), s"walk $s step $t")
    // consecutive vertices are adjacent (full length, no truncation)
    for (s <- Seq(0L, 3L); t <- 1 to 4)
      assert(edgeSet((got((s, (t - 1).toLong)), got((s, t.toLong)))))
  }
}

class BowTieEmptySpec extends GraftSuite {
  import spark.implicits._
  test("bow-tie of an empty edge set is an empty classification") {
    val empty = Seq.empty[(Long, Long)].toDF("src", "dst")
    val out = graft.algo.BowTie.classify(empty)
    assert(out.columns.toSeq === Seq("id", "bowtie"))
    assert(out.count() === 0L)
  }
}

class HyperAnfSpec extends GraftSuite {
  import org.apache.spark.sql.functions._
  import graft.algo.{Betweenness, Centrality}

  private def exactNf(pairs: Seq[(Long, Long)], h: Int): Map[Long, Long] = {
    val e = edgesDf(undirected(pairs))
    val sources = e.select(col("src").as("id")).distinct()
    val lev = Betweenness.bfsLevels(e, sources, maxDepth = h)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    (0 to h).map(d => d.toLong -> lev.count(_._3 <= d).toLong).toMap
  }

  test("path graph: HyperANF matches the exact neighborhood function") {
    val pairs = (0L to 9L).map(i => (i, i + 1)).dropRight(1)
    val got = Centrality.neighborhoodFunctionApprox(
        edgesDf(undirected(pairs)), maxDepth = 16)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val exact = exactNf(pairs, 9)
    // ball cardinalities ≤ 10 — the sketch is effectively exact here
    got.foreach { case (d, est) =>
      val ex = exact(math.min(d, 9L).toLong)
      assert(math.abs(est - ex) <= math.max(1L, ex / 50), s"depth $d: $est vs $ex")
    }
    // early stop: the function saturates at the path diameter, well
    // before maxDepth
    assert(got.keys.max <= 10L)
  }

  test("random graph: within 10% of exact at every depth") {
    val rnd = new scala.util.Random(11)
    val pairs = Seq.fill(120)((rnd.nextInt(40).toLong, rnd.nextInt(40).toLong))
      .filter(p => p._1 != p._2).distinct
    val got = Centrality.neighborhoodFunctionApprox(
        edgesDf(undirected(pairs)), maxDepth = 8)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val exact = exactNf(pairs, 8)
    got.foreach { case (d, est) =>
      val ex = exact(math.min(d, 8L))
      assert(math.abs(est - ex).toDouble / ex < 0.10, s"depth $d: $est vs $ex")
    }
  }

  test("the series does not depend on broadcast joins") {
    // the join strategies set the order sketches reach each union; at
    // lgConfigK 4 the balls' sketches leave the exact coupon modes early
    val rnd = new scala.util.Random(5)
    val pairs = Seq.fill(900)((rnd.nextInt(300).toLong, rnd.nextInt(300).toLong))
      .filter(p => p._1 != p._2).distinct
    val e = edgesDf(undirected(pairs))
    def series(): Seq[(Long, Long)] =
      Centrality.neighborhoodFunctionApprox(e, maxDepth = 6, lgConfigK = 4)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toSeq.sorted
    val withBroadcasts = series()
    val key = "spark.sql.autoBroadcastJoinThreshold"
    val saved = spark.conf.getOption(key)
    spark.conf.set(key, "-1")
    val without = try series() finally saved.fold(spark.conf.unset(key))(spark.conf.set(key, _))
    assert(without.size >= 4)
    assert(without === withBroadcasts)
  }
}

class StreamingDurabilitySpec extends GraftSuite {

  private val events = "/root/testdata/sf0.001/events.parquet"

  private def splitEvents(n: Int): String = {
    val dir = java.nio.file.Files.createTempDirectory("graft-ev-split2").toString
    spark.read.parquet(events).repartition(n)
      .write.mode("overwrite").parquet(dir)
    dir
  }

  private def summaryMap(target: String): Map[Long, Long] =
    spark.read.parquet(s"$target/degrees")
      .select("src", "out_degree")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap

  private def oracleMap(paths: String*): Map[Long, Long] = {
    val df = paths.map(spark.read.parquet(_)).reduce(_ union _)
    EdgeStreams.degreeCounts(EdgeStreams.eventEdges(df))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
  }

  test("a fresh checkpoint's restarted batch numbering is not mistaken for replays") {
    // first incarnation ingests everything; its marker holds batch ids 0..2
    val src = splitEvents(3)
    val target = java.nio.file.Files.createTempDirectory("graft-inc").toString
    assert(EdgeStreams.ingestOnce(spark, src, target,
      maxFilesPerTrigger = Some(1)) >= 3L)
    val afterFirst = summaryMap(target)
    // second incarnation: NEW source data, NEW checkpoint location — its
    // batches start at 0 again; before the instance marker they would all
    // satisfy batchId <= marker and be silently dropped
    val src2 = splitEvents(2)
    val ckpt2 = java.nio.file.Files.createTempDirectory("graft-ckpt2").toString
    val applied2 = EdgeStreams.ingestOnce(spark, src2, target,
      maxFilesPerTrigger = Some(1), checkpointLocation = Some(ckpt2))
    assert(applied2 >= 2L, s"new incarnation applied $applied2 batches")
    val expected = oracleMap(src, src2)
    assert(summaryMap(target) === expected)
    assert(afterFirst !== expected) // the second pass really added mass
  }

  test("a missing summary is recovered from the backup before any batch applies") {
    val src = splitEvents(2)
    val target = java.nio.file.Files.createTempDirectory("graft-rec").toString
    assert(EdgeStreams.ingestOnce(spark, src, target,
      maxFilesPerTrigger = Some(1)) >= 2L)
    val full = summaryMap(target)
    // simulate the crash window between the two promotion renames: the
    // summary was renamed aside to degrees_prev and the process died
    val fs = new org.apache.hadoop.fs.Path(target)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(fs.rename(new org.apache.hadoop.fs.Path(s"$target/degrees"),
      new org.apache.hadoop.fs.Path(s"$target/degrees_prev")))
    // a new incarnation over more data must first restore the backup,
    // then merge on top of the FULL summary — not rebuild from its delta
    val src2 = splitEvents(1)
    val ckpt2 = java.nio.file.Files.createTempDirectory("graft-ckpt3").toString
    EdgeStreams.ingestOnce(spark, src2, target,
      maxFilesPerTrigger = Some(1), checkpointLocation = Some(ckpt2))
    assert(summaryMap(target) === oracleMap(src, src2))
    assert(summaryMap(target) !== oracleMap(src2)) // not delta-only
    full.foreach { case (k, v) =>
      assert(summaryMap(target)(k) >= v) // prior mass survived the crash
    }
  }
}

class Round4PropertySpec extends GraftSuite {
  import spark.implicits._

  private def randomPairs(seed: Int, n: Int, ids: Int): Seq[(Long, Long)] = {
    val rnd = new scala.util.Random(seed)
    Seq.fill(n)((rnd.nextInt(ids).toLong, rnd.nextInt(ids).toLong))
      .filter(p => p._1 != p._2).distinct
  }

  test("property: the (k+1)-truss is a subgraph of the k-truss") {
    val g = edgesDf(undirected(randomPairs(3, 90, 18)))
    val byK = (3 to 6).map(k => k ->
      graft.algo.Truss.kTruss(g, k).collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet).toMap
    (3 to 5).foreach(k =>
      assert(byK(k + 1).subsetOf(byK(k)), s"truss nesting broken at k=$k"))
  }

  test("property: bow-tie classes partition the vertices and honor reachability") {
    val pairs = randomPairs(5, 70, 20)
    val d = pairs.toDF("src", "dst")
    val classes = graft.algo.BowTie.classify(d).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    val verts = pairs.flatMap(p => Seq(p._1, p._2)).toSet
    assert(classes.keySet === verts) // total, one class each
    val core = classes.collect { case (v, "core") => v }.toSet
    assert(core.nonEmpty)
    // reachability oracle: transitive closure in memory
    val adj = pairs.groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    def reach(from: Set[Long]): Set[Long] = {
      var seen = from; var grew = true
      while (grew) {
        val nxt = seen ++ seen.flatMap(v => adj.getOrElse(v, Set.empty))
        grew = nxt.size > seen.size; seen = nxt
      }
      seen
    }
    val fromCore = reach(core)
    val radj = pairs.groupBy(_._2).view.mapValues(_.map(_._1).toSet).toMap
    def reachBack(from: Set[Long]): Set[Long] = {
      var seen = from; var grew = true
      while (grew) {
        val nxt = seen ++ seen.flatMap(v => radj.getOrElse(v, Set.empty))
        grew = nxt.size > seen.size; seen = nxt
      }
      seen
    }
    val toCore = reachBack(core)
    classes.foreach { case (v, c) =>
      val expected =
        if (core(v)) "core"
        else if (toCore(v)) "in"
        else if (fromCore(v)) "out"
        else "other"
      assert(c === expected, s"vertex $v")
    }
  }

  test("property: conductance is within [0, 1] for arbitrary labelings") {
    val e = edgesDf(undirected(randomPairs(9, 80, 16)))
    val labels = e.select(col("src").as("id")).distinct()
      .select(col("id"), (col("id") % 4).as("label"))
    graft.measures.Measures.conductance(e, labels).collect().foreach { r =>
      val phi = r.getDouble(3)
      assert(phi >= 0.0 && phi <= 1.0, s"label ${r.getLong(0)}: $phi")
    }
  }

  test("property: seeded LP labels only ever come from the seed set") {
    val e = edgesDf(undirected(randomPairs(13, 60, 15)))
    val seeds = e.select(col("src").as("id")).distinct()
      .filter(col("id") % 5 === 0)
      .select(col("id"), (col("id") + 100).as("label"))
    val seedLabels = seeds.select("label").as[Long].collect().toSet
    val out = graft.algo.LabelPropagation.runSeededFixed(e, seeds, 4).collect()
    out.foreach { r =>
      if (!r.isNullAt(1))
        assert(seedLabels(r.getLong(1)), s"vertex ${r.getLong(0)} got a non-seed label")
    }
  }
}

class PageRankResumeSpec extends GraftSuite {
  import org.apache.spark.sql.functions._
  import graft.algo.PageRank
  import graft.engine.Checkpointer

  test("interrupted PageRank resumes from the checkpoint to identical ranks") {
    val e = edgesDf(undirected(Fixtures.karatePairs))
    val dir = java.nio.file.Files.createTempDirectory("graft-pr-resume").toString
    val cp = new Checkpointer(dir, spark)
    // straight run: 9 iterations, no checkpointing
    val straight = PageRank.run(e, maxIter = 9, partitions = 4, eps = 0.0)
    // interrupted run: 4 iterations checkpointed, then resume to the
    // SAME total cap from the validated snapshot
    PageRank.run(e, maxIter = 4, partitions = 4, eps = 0.0,
      checkpointer = Some(cp), checkpointEvery = 1)
    val Some((it, snap)) = cp.validatedLatest("pagerank")
    assert(it === 4)
    cp.pruneAbove("pagerank", it)
    val resumed = PageRank.run(e, maxIter = 9, partitions = 4, eps = 0.0,
      checkpointer = Some(cp), checkpointEvery = 1)
    assert(resumed.iterations === 9)
    val a = straight.ranks.collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val b = resumed.ranks.collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(a.keySet === b.keySet)
    a.foreach { case (k, v) => assert(math.abs(b(k) - v) < 1e-15, s"vertex $k") }
    // the metrics history covers all 9 iterations exactly once
    val iters = cp.readMetrics("pagerank").map(_.iteration)
    assert(iters === (1 to 9))
  }
}
