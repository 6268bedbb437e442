package graft.cli

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.algo.{ConnectedComponents, LabelPropagation, PageRank, TriangleCount}
import graft.engine.Checkpointer
import graft.graph.GraphOps
import graft.measures.Measures
import graft.sources.{PagesSynth, TextExtract}

/** spark-submit entry point (north_rule: "run via spark-submit ... at two
  * cluster sizes"). Local-mode master is injected for sandbox runs; under
  * a real spark-submit the master comes from the cluster manager.
  *
  * Usage:
  *   Main <algo: lp|lp-semisync|lp-async|cc|pagerank|triangles|sssp|kcore|
  *               ppr|centrality|lcc|hits|louvain|scc|bowtie|truss|motifs|
  *               diameter|anf|hostpr|salsa|katz|eigen|coreness|richclub|
  *               spammass|cocite|condense|redirects|msf|rmat|triapprox|
  *               sample|simrank|wl|overlap|bfstree|mis|walks|sage|all>
  *        <input: synth:<nPages> | pages:<parquetPath> | edges:<parquetPath>>
  *        <outDir> [maxIter] [partitions]
  *
  * The lp / lp-semisync / lp-async triple mirrors the reference CLI's
  * algorithm selector (0-sync / 2-semisync / 1-async, `main.cu:48-62`);
  * async here is the deterministic micro-batch emulation
  * ([[graft.algo.AsyncEmuLP]]). SPARK_GRAFT_TIEBREAK_SEED=<long> switches
  * the LP argmax tie-break from the pinned minimum label (exact
  * reproducibility, the oracle-gated default) to the deterministic hashed
  * mode that reproduces the reference's random-tie-break QUALITY envelope.
  */
object Main {
  def main(args: Array[String]): Unit = {
    require(args.length >= 3,
      "usage: Main <mode> <synth:N|pages:PATH|edges:PATH> <outDir> " +
        "[maxIter] [partitions]\n" +
        "  core:      lp lp-semisync lp-async cc pagerank triangles all\n" +
        "  distance:  sssp centrality lcc diameter diameter2 bfstree\n" +
        "  ranking:   ppr pprtopics hits salsa katz eigen spammass hostpr\n" +
        "             sweep edgebc\n" +
        "  structure: louvain scc condense bowtie truss kcore coreness\n" +
        "             motifs cliques densest matching bipartite wl mis scan\n" +
        "  resilience/misc: percolation richclub redirects msf cocite\n" +
        "             simrank overlap anf compress sample rmat triapprox\n" +
        "  embeddings: walks sage")
    val algo = args(0)
    val input = args(1)
    val outDir = args(2)
    val maxIter = if (args.length > 3) Some(args(3).toInt) else None
    val partitions = if (args.length > 4) args(4).toInt
      else sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt

    val builder = SparkSession.builder()
      .appName("graft-linkgraph")
      .config("spark.sql.shuffle.partitions", partitions.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
    val spark = (sys.props.get("spark.master") match {
      case Some(_) => builder
      case None    => builder.master(s"local[$partitions]")
    }).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    val (rawEdges, dictOpt): (DataFrame, Option[DataFrame]) = input.split(":", 2) match {
      case Array("synth", n) =>
        val pages = PagesSynth.pages(spark, n.toLong)
        val (e, d) = TextExtract.buildEdges(pages)
        (e, Some(d))
      case Array("pages", path) =>
        val (e, d) = TextExtract.buildEdges(spark.read.parquet(path))
        (e, Some(d))
      case Array("edges", path) =>
        (spark.read.parquet(path).select("src", "dst"), None)
      case _ => sys.error(s"bad input spec: $input")
    }

    val edges = GraphOps.prepareForGather(
      GraphOps.symmetrize(GraphOps.dropSelfLoops(rawEdges)), partitions)
    val nNodes = GraphOps.vertices(edges).count()
    val nSlots = edges.count()
    println(s"[graft] graph: $nNodes nodes, $nSlots directed slots")
    val cp = new Checkpointer(s"$outDir/checkpoints", spark)
    val tieSeed = sys.env.get("SPARK_GRAFT_TIEBREAK_SEED").map(_.toLong)

    def runLp(): Unit = {
      val t0 = System.nanoTime()
      // resumes from the latest validated snapshot; maxIter is a total cap
      val r = LabelPropagation.run(edges, nNodes, checkpointer = Some(cp),
        checkpointEvery = 1, maxIter = maxIter, symmetric = true,
        tieBreakSeed = tieSeed)
      r.labels.write.mode("overwrite").parquet(s"$outDir/lp_labels")
      val q = Measures.modularity(edges, r.labels)
      val c = Measures.communityCount(r.labels)
      println(s"[graft] lp: iters=${r.iterations} converged=${r.converged} " +
        s"communities=$c modularity=$q")
      // reference-format metrics row (tests.h:76-82 printCommunities):
      // Nodes\tEdges\tCom\tMod\tNMI\tTime  (NMI = -1 without ground truth)
      println(Measures.referenceRow(nNodes, nSlots / 2, c, q, nmi = -1.0,
        timeSec = (System.nanoTime() - t0) / 1e9))
    }
    def runCc(): Unit = {
      val r = ConnectedComponents.run(edges, nNodes, checkpointer = Some(cp),
        checkpointEvery = 1, maxIter = maxIter)
      r.labels.write.mode("overwrite").parquet(s"$outDir/cc_labels")
      println(s"[graft] cc: iters=${r.iterations} converged=${r.converged} " +
        s"components=${Measures.communityCount(r.labels)}")
    }
    def runPr(): Unit = {
      val r = PageRank.run(edges, maxIter = maxIter.getOrElse(100),
        partitions = partitions, checkpointer = Some(cp), checkpointEvery = 1)
      r.ranks.write.mode("overwrite").parquet(s"$outDir/pagerank")
      println(s"[graft] pagerank: iters=${r.iterations} converged=${r.converged}")
    }
    def runTri(): Unit = {
      val t = TriangleCount.countTriangles(edges)
      TriangleCount.perVertex(edges).write.mode("overwrite")
        .parquet(s"$outDir/triangles_per_vertex")
      println(s"[graft] triangles: $t")
    }

    def report(mode: String, labels: DataFrame, sweeps: Int, t0: Long): Unit = {
      labels.write.mode("overwrite").parquet(s"$outDir/${mode}_labels")
      val q = Measures.modularity(edges, labels)
      val c = Measures.communityCount(labels)
      println(s"[graft] $mode: sweeps=$sweeps communities=$c modularity=$q")
      println(Measures.referenceRow(nNodes, nSlots / 2, c, q, nmi = -1.0,
        timeSec = (System.nanoTime() - t0) / 1e9))
    }
    def runLpSemi(): Unit = {
      val t0 = System.nanoTime()
      val (labels, sweeps) = graft.algo.SemiSyncLP.run(edges, nNodes,
        maxSweeps = maxIter, tieBreakSeed = tieSeed)
      report("lp-semisync", labels, sweeps, t0)
    }
    def runLpAsync(): Unit = {
      val t0 = System.nanoTime()
      val (labels, sweeps) = graft.algo.AsyncEmuLP.run(edges, nNodes,
        batches = 8, maxSweeps = maxIter, tieBreakSeed = tieSeed)
      report("lp-async", labels, sweeps, t0)
    }
    // round-3 operators; sampled sources default to id % 100 == 0
    def sampledSources() = {
      val s = GraphOps.vertices(edges).filter(col("id") % 100 === 0)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      require(s.limit(1).count() > 0L,
        "no vertex id is divisible by 100 — pass an input whose id space " +
          "covers the sampled-source rule, or adjust the sampling")
      s
    }
    def runSssp(): Unit = {
      // an edges: parquet with a weight column runs WEIGHTED shortest
      // paths (symmetrized, parallel edges keep the min weight — Pajek
      // dedup parity); synthesized/pages graphs get unit weights
      val w = input.split(":", 2) match {
        case Array("edges", path)
            if spark.read.parquet(path).columns.contains("weight") =>
          val raw = spark.read.parquet(path)
            .select(col("src"), col("dst"), col("weight"))
            .filter(col("src") =!= col("dst"))
          raw.union(raw.select(col("dst").as("src"), col("src").as("dst"),
              col("weight")))
            .groupBy("src", "dst").agg(min("weight").as("weight"))
        case _ => edges.withColumn("weight", lit(1L))
      }
      val (dist, rounds, conv) = graft.algo.ShortestPaths.run(w, sampledSources(),
        maxRounds = maxIter.getOrElse(10000))
      dist.write.mode("overwrite").parquet(s"$outDir/sssp")
      println(s"[graft] sssp: rounds=$rounds converged=$conv " +
        s"reached=${dist.count()}")
    }
    def runKcore(): Unit = {
      val k = math.max(2L, nSlots / math.max(nNodes, 1L))
      val (core, rounds, conv) = graft.algo.KCore.kCore(edges, k,
        maxRounds = maxIter.getOrElse(10000))
      core.write.mode("overwrite").parquet(s"$outDir/kcore")
      println(s"[graft] kcore: k=$k rounds=$rounds converged=$conv " +
        s"core_size=${core.count()}")
    }
    def runPpr(): Unit = {
      val ranks = PageRank.runPersonalizedFixed(edges, sampledSources(),
        iterations = maxIter.getOrElse(10), partitions = partitions)
      ranks.write.mode("overwrite").parquet(s"$outDir/ppr")
      println(s"[graft] ppr: iters=${maxIter.getOrElse(10)} rows=${ranks.count()}")
    }
    def runCentrality(): Unit = {
      val c = graft.algo.Centrality.sampledCloseness(edges, sampledSources())
      c.write.mode("overwrite").parquet(s"$outDir/centrality")
      println(s"[graft] centrality: sources=${c.count()}")
    }
    def runLcc(): Unit = {
      val l = TriangleCount.localClustering(edges)
      l.write.mode("overwrite").parquet(s"$outDir/lcc")
      println(s"[graft] lcc: rows=${l.count()}")
    }
    def runScc(): Unit = {
      // SCC runs on the DIRECTED edge set (pre-symmetrization) — the
      // bow-tie decomposition is meaningless on a symmetrized graph;
      // run() owns the dedup/self-loop normalization. maxIter raises the
      // outer-round cap for pathological long-chain peel orders.
      val (scc, rounds) = graft.algo.StronglyConnected.run(rawEdges,
        maxOuterRounds = maxIter.getOrElse(100))
      scc.write.mode("overwrite").parquet(s"$outDir/scc")
      println(s"[graft] scc: rounds=$rounds " +
        s"components=${scc.select("scc").distinct().count()}")
    }
    def runLouvain(): Unit = {
      val t0 = System.nanoTime()
      val (assign, levels) = graft.algo.Louvain.run(
        edges.withColumn("weight", lit(1L)),
        maxLevels = 5, maxRoundsPerLevel = maxIter.getOrElse(15))
      val labels = assign.withColumnRenamed("com", "label")
      labels.write.mode("overwrite").parquet(s"$outDir/louvain_labels")
      val q = Measures.modularity(edges, labels)
      val c = Measures.communityCount(labels)
      println(s"[graft] louvain: levels=$levels communities=$c modularity=$q")
      println(Measures.referenceRow(nNodes, nSlots / 2, c, q, nmi = -1.0,
        timeSec = (System.nanoTime() - t0) / 1e9))
    }
    def runHits(): Unit = {
      // HITS runs on the DIRECTED edge set (pre-symmetrization)
      val directed = GraphOps.dropSelfLoops(rawEdges).distinct()
      val h = graft.algo.Hits.runFixed(directed,
        iterations = maxIter.getOrElse(20), partitions = partitions)
      h.write.mode("overwrite").parquet(s"$outDir/hits")
      println(s"[graft] hits: iters=${maxIter.getOrElse(20)} rows=${h.count()}")
    }
    def runSalsa(): Unit = {
      // SALSA runs on the DIRECTED edge set (pre-symmetrization)
      val directed = GraphOps.dropSelfLoops(rawEdges).distinct()
      val s = graft.algo.Salsa.runFixed(directed,
        iterations = maxIter.getOrElse(20), partitions = partitions)
      s.write.mode("overwrite").parquet(s"$outDir/salsa")
      println(s"[graft] salsa: iters=${maxIter.getOrElse(20)} rows=${s.count()}")
    }
    def runKatz(): Unit = {
      val x = graft.algo.Spectral.katzFixed(edges,
        iterations = maxIter.getOrElse(10), partitions = partitions)
      x.write.mode("overwrite").parquet(s"$outDir/katz")
      println(s"[graft] katz: iters=${maxIter.getOrElse(10)} rows=${x.count()}")
    }
    def runEigen(): Unit = {
      // keep k small: the integer iterate grows like λ_max^k
      val x = graft.algo.Spectral.eigenvectorFixed(edges,
        iterations = maxIter.getOrElse(4), partitions = partitions)
      x.write.mode("overwrite").parquet(s"$outDir/eigen")
      println(s"[graft] eigen: iters=${maxIter.getOrElse(4)} rows=${x.count()}")
    }
    def runCoreness(): Unit = {
      val c = graft.algo.KCore.coreness(edges)
      c.write.mode("overwrite").parquet(s"$outDir/coreness")
      val mx = c.agg(max("coreness")).first().getLong(0)
      println(s"[graft] coreness: degeneracy=$mx rows=${c.count()}")
    }
    def runRichClub(): Unit = {
      val a = Measures.avgNeighborDegree(edges)
      a.write.mode("overwrite").parquet(s"$outDir/annd")
      val rc = Measures.richClub(edges, maxK = 32)
      rc.write.mode("overwrite").parquet(s"$outDir/richclub")
      println(s"[graft] richclub: levels=${rc.count()} annd_rows=${a.count()}")
    }
    def runCocite(): Unit = {
      val directed = GraphOps.dropSelfLoops(rawEdges).distinct()
      val cc = graft.algo.CoCitation.coCitation(directed)
      cc.write.mode("overwrite").parquet(s"$outDir/cocitation")
      val cp = graft.algo.CoCitation.coupling(directed)
      cp.write.mode("overwrite").parquet(s"$outDir/coupling")
      val rel = graft.algo.CoCitation.relatedTopK(directed, k = 3)
      rel.write.mode("overwrite").parquet(s"$outDir/related_top3")
      println(s"[graft] cocite: cocitation_pairs=${cc.count()} " +
        s"coupling_pairs=${cp.count()} related_rows=${rel.count()}")
    }
    def runMsf(): Unit = {
      // an edges: parquet with a weight column is used as-is; otherwise
      // weights are synthesized deterministically (boruvka's (w, a, b)
      // candidate order makes the forest unique even with weight ties)
      val w = input.split(":", 2) match {
        case Array("edges", path)
            if spark.read.parquet(path).columns.contains("weight") =>
          spark.read.parquet(path).select(col("src"), col("dst"), col("weight"))
        case _ => rawEdges.select(col("src"), col("dst"),
          ((least(col("src"), col("dst")) * 31
            + greatest(col("src"), col("dst")) * 17) % 1000 + 1).as("weight"))
      }
      val f = graft.algo.SpanningForest.boruvka(w)
      f.write.mode("overwrite").parquet(s"$outDir/msf")
      println(s"[graft] msf: forest_edges=${f.count()}")
    }
    def runRmat(): Unit = {
      // input spec synth:N sets the vertex-space target: scale = log2
      // ceiling, 8 edges per vertex
      val n = input.split(":", 2) match {
        case Array("synth", k) => k.toLong
        case _                 => 4096L
      }
      val scale = math.max(1, 64 - java.lang.Long.numberOfLeadingZeros(math.max(1L, n - 1)))
      val e = graft.sources.Rmat.edges(spark, nEdges = 8L * n, scale = scale)
      e.write.mode("overwrite").parquet(s"$outDir/rmat_edges")
      println(s"[graft] rmat: scale=$scale edges=${e.count()} " +
        s"verts=${e.select(col("dst")).union(e.select(col("src"))).distinct().count()}")
    }
    def runTriApprox(): Unit = {
      // Doulion estimate; SPARK_GRAFT_SAMPLE_PERMILLE must divide 1000
      val p = sys.env.getOrElse("SPARK_GRAFT_SAMPLE_PERMILLE", "125").toInt
      val seed = sys.env.getOrElse("SPARK_GRAFT_SAMPLE_SEED", "7").toLong
      val r = TriangleCount.approxTriangles(edges, p, seed).first()
      println(s"[graft] triapprox: permille=$p " +
        s"sampled_edges=${r.getLong(0)} " +
        s"sampled_triangles=${r.getLong(1)} est_triangles=${r.getLong(2)}")
    }
    def runSample(): Unit = {
      val p = sys.env.getOrElse("SPARK_GRAFT_SAMPLE_PERMILLE", "100").toInt
      val seed = sys.env.getOrElse("SPARK_GRAFT_SAMPLE_SEED", "11").toLong
      val sub = GraphOps.sampleInduced(edges, p, seed)
      sub.write.mode("overwrite").parquet(s"$outDir/sample_induced")
      println(s"[graft] sample: permille=$p slots=${sub.count()} of $nSlots")
    }
    def runRedirects(): Unit = {
      // make the input functional (smallest target per source) and keep a
      // terminal third of the id space non-redirecting, so chains have
      // somewhere to land — on the raw graph every node has an out-edge
      // and the functional table would be all rho-shaped cycles
      val f = GraphOps.dropSelfLoops(rawEdges)
        .filter(col("src") % 3 =!= 0)
        .groupBy("src").agg(min(col("dst")).as("dst"))
      val r = graft.algo.Redirects.resolve(f)
      r.write.mode("overwrite").parquet(s"$outDir/redirects")
      val unresolved = r.filter(!col("resolved")).count()
      println(s"[graft] redirects: rows=${r.count()} unresolved=$unresolved")
    }
    def runCondense(): Unit = {
      val directed = GraphOps.dropSelfLoops(rawEdges).distinct()
      val (labels, compEdges) = graft.algo.StronglyConnected.condense(directed)
      labels.write.mode("overwrite").parquet(s"$outDir/scc_labels")
      compEdges.write.mode("overwrite").parquet(s"$outDir/condensation_edges")
      val lv = graft.algo.StronglyConnected.dagLevels(compEdges)
      lv.write.mode("overwrite").parquet(s"$outDir/dag_levels")
      val depth = if (lv.isEmpty) 0L
        else lv.agg(max("level")).first().getLong(0)
      println(s"[graft] condense: comps=${labels.select("scc").distinct().count()} " +
        s"dag_edges=${compEdges.count()} depth=$depth")
    }
    def runSpamMass(): Unit = {
      val sm = PageRank.spamMass(edges, sampledSources(),
        iterations = maxIter.getOrElse(10), partitions = partitions)
      sm.write.mode("overwrite").parquet(s"$outDir/spammass")
      println(s"[graft] spammass: iters=${maxIter.getOrElse(10)} " +
        s"rows=${sm.count()}")
    }
    // round-4 operators
    def runBowtie(): Unit = {
      // classify() dedups and drops self-loops itself — pass raw edges
      val b = graft.algo.BowTie.classify(rawEdges)
      b.write.mode("overwrite").parquet(s"$outDir/bowtie")
      val sizes = b.groupBy("bowtie").count().collect()
        .map(r => s"${r.getString(0)}=${r.getLong(1)}").sorted.mkString(" ")
      println(s"[graft] bowtie: $sizes")
    }
    def runTruss(): Unit = {
      // k=4 (every surviving edge in ≥2 triangles) — the standard cohesive
      // default; sparse web graphs empty out fast at degree-derived k
      val k = 4
      val t = graft.algo.Truss.kTruss(edges, k,
        maxRounds = maxIter.getOrElse(1000))
      t.write.mode("overwrite").parquet(s"$outDir/truss")
      println(s"[graft] truss: k=$k edges=${t.count()}")
    }
    def runMotifs(): Unit = {
      val m = graft.algo.TriangleCount.motifCensus(edges).collect().head
      println(s"[graft] motifs: wedges=${m.getLong(0)} " +
        s"triangles=${m.getLong(1)} squares=${m.getLong(2)} " +
        s"transitivity=${m.getDouble(3)}")
    }
    def runDiameter(): Unit = {
      val lev = graft.algo.Betweenness.bfsLevels(edges, sampledSources())
      val d = graft.algo.Centrality.effectiveDiameter(lev).collect().head
      println(s"[graft] diameter: eff90=${d.getLong(0)} " +
        s"pairs=${d.getLong(1)} mean=${d.getDouble(2)}")
    }
    def runAnf(): Unit = {
      // HyperANF over ALL vertices (sketch state) — the full-graph
      // complement of the sampled `diameter` mode
      val nf = graft.algo.Centrality.neighborhoodFunctionApprox(edges,
        maxDepth = maxIter.getOrElse(16))
      val rows = nf.orderBy("depth").collect()
      val nInf = rows.last.getLong(1)
      val eff = rows.find(_.getLong(1) * 10L >= nInf * 9L)
        .map(_.getLong(0)).getOrElse(rows.last.getLong(0))
      nf.write.mode("overwrite").parquet(s"$outDir/anf")
      println(s"[graft] anf: depths=${rows.length} pairs_est=$nInf " +
        s"eff90_est=$eff")
    }
    def runHostPr(): Unit = {
      // host-level PageRank needs url-level pairs: synth/pages inputs only
      val pages = input.split(":", 2) match {
        case Array("synth", n)    => PagesSynth.pages(spark, n.toLong)
        case Array("pages", path) => spark.read.parquet(path)
        case _ => sys.error("hostpr needs a synth:<n> or pages:<path> input")
      }
      val he = graft.sources.HostGraph.fromPages(pages)
      val pr = graft.sources.HostGraph.hostPageRank(he,
        iterations = maxIter.getOrElse(20))
      pr.write.mode("overwrite").parquet(s"$outDir/host_pagerank")
      println(s"[graft] hostpr: hosts=${pr.count()}")
    }

    def runSimRank(): Unit = {
      val sr = graft.algo.SimRank.simRankT2(edges)
      sr.write.mode("overwrite").parquet(s"$outDir/simrank")
      println(s"[graft] simrank: pairs=${sr.count()}")
    }
    def runWl(): Unit = {
      val rounds = maxIter.getOrElse(2)
      val c = graft.algo.WlRefinement.refine(edges, rounds)
      c.write.mode("overwrite").parquet(s"$outDir/wl_colors")
      println(s"[graft] wl: rounds=$rounds colors=" +
        c.select("color").distinct().count())
    }
    def runOverlap(): Unit = {
      val o = TriangleCount.edgeOverlap(edges)
      o.write.mode("overwrite").parquet(s"$outDir/edge_overlap")
      println(s"[graft] overlap: edges=${o.count()}")
    }
    def runBfsTree(): Unit = {
      val t = graft.algo.Betweenness.bfsParents(edges, sampledSources())
      t.write.mode("overwrite").parquet(s"$outDir/bfs_tree")
      println(s"[graft] bfstree: rows=${t.count()}")
    }
    def runSummary(): Unit = {
      val s1 = graft.measures.Measures.graphSummary(edges).collect().head
      val p = graft.measures.Measures.degreePercentiles(edges).collect().head
      val g = graft.measures.Measures.degreeGini(edges).collect().head
      println(s"[graft] summary: n=${s1.getAs[Long]("n_vertices")}" +
        s" slots=${s1.getAs[Long]("n_slots")}" +
        s" deg=[${s1.getAs[Long]("min_deg")},${s1.getAs[Long]("max_deg")}]" +
        s" avg_deg_e6=${s1.getAs[Long]("avg_deg_e6")}" +
        s" density_e6=${s1.getAs[Long]("density_e6")}")
      println(s"[graft] degrees: p50=${p.getAs[Long]("p50")}" +
        s" p90=${p.getAs[Long]("p90")} p99=${p.getAs[Long]("p99")}" +
        s" p999=${p.getAs[Long]("p999")} max=${p.getAs[Long]("max_deg")}" +
        s" gini_e6=${g.getAs[Long]("gini_e6")}")
    }
    def runMatching(): Unit = {
      val seed = sys.env.getOrElse("SPARK_GRAFT_SAMPLE_SEED", "7").toLong
      val m = graft.algo.Matching.greedyRounds(edges, rounds = 10, seed)
      m.write.mode("overwrite").parquet(s"$outDir/matching")
      val coarse = graft.algo.Matching.contract(edges, m)
      coarse.write.mode("overwrite").parquet(s"$outDir/coarse_edges")
      println(s"[graft] matching: ${m.count()} pairs, coarse graph " +
        s"${coarse.count()} slots")
    }
    def runDensest(): Unit = {
      val peel = graft.algo.Dense.peelRounds(edges, rounds = 8)
      peel.write.mode("overwrite").parquet(s"$outDir/densest_peel")
      val last = peel.agg(max(col("peel_round"))).collect()(0).getLong(0)
      println(s"[graft] densest: core peel_round=$last, " +
        s"core size=${peel.filter(col("peel_round") === last).count()}")
    }
    def runCliques(): Unit = {
      val r = graft.algo.TriangleCount.cliqueCensus4(edges).collect()(0)
      println(s"[graft] cliques: triangles=${r.getLong(0)} " +
        s"cliques4=${r.getLong(1)}")
    }
    def runCompress(): Unit = {
      val nat = graft.graph.Compress.gammaGapCost(edges)
      val re = graft.graph.Compress.gammaGapCostReordered(edges,
        GraphOps.degreeReorder(edges))
      val bn = nat.agg(sum(col("gamma_bits"))).collect()(0).getLong(0)
      val br = re.agg(sum(col("gamma_bits_reord"))).collect()(0).getLong(0)
      println(s"[graft] compress: gamma bits natural=$bn reordered=$br " +
        f"(${100.0 * (bn - br) / bn}%.1f%% saved)")
    }
    def runBipartite(): Unit = {
      val b = graft.algo.Bipartite.check(edges)
      b.write.mode("overwrite").parquet(s"$outDir/bipartite")
      val bad = b.filter(col("bipartite") === 0).count()
      println(s"[graft] bipartite: ${b.count()} components, " +
        s"$bad with odd cycles")
    }
    def runSweep(): Unit = {
      val sources = GraphOps.vertices(edges).filter(col("id") % 100 === 0)
      val scores = graft.algo.PageRank
        .runPersonalizedFixed(edges, sources, iterations = 5)
        .select(col("id"),
          round(col("rank") * 1000000).cast("long").as("score_e6"))
      val sw = graft.algo.SweepCut.conductanceSweep(edges, scores, m = 64)
      sw.write.mode("overwrite").parquet(s"$outDir/sweep")
      val best = sw.orderBy(col("cond_e6").asc, col("k").asc).limit(1)
        .collect()(0)
      println(s"[graft] sweep: best prefix k=${best.getLong(0)} " +
        s"cond_e6=${best.getLong(5)}")
    }
    def runScan(): Unit = {
      val eps = sys.env.getOrElse("SPARK_GRAFT_SCAN_EPS_E3", "250").toLong
      val mu = sys.env.getOrElse("SPARK_GRAFT_SCAN_MU", "2").toLong
      val cl = graft.algo.Scan.structuralClusters(edges, eps, mu)
      cl.write.mode("overwrite").parquet(s"$outDir/scan_clusters")
      val roles = cl.groupBy("role").agg(count(lit(1)).as("n"))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      val nClusters = cl.filter(col("role") > 0)
        .select(col("cluster")).distinct().count()
      println(s"[graft] scan eps=${eps}e-3 mu=$mu: clusters=$nClusters " +
        s"cores=${roles.getOrElse(2L, 0L)} " +
        s"borders=${roles.getOrElse(1L, 0L)} " +
        s"outliers=${roles.getOrElse(0L, 0L)}")
    }
    def runPercolation(): Unit = {
      Seq(300, 600, 900).foreach { p =>
        val kept = GraphOps.percolate(edges, p, seed = 11L)
        val comps = graft.algo.ConnectedComponents.runAlternating(kept)
          .groupBy("label").agg(count(lit(1)).as("sz"))
        val r = comps.agg(count(lit(1)), max(col("sz"))).collect()(0)
        println(s"[graft] percolation p=$p: components=${r.getLong(0)} " +
          s"giant=${r.getLong(1)}")
      }
    }
    def runMis(): Unit = {
      val seed = sys.env.getOrElse("SPARK_GRAFT_SAMPLE_SEED", "7").toLong
      val m = graft.algo.Mis.mis(edges, seed)
      m.write.mode("overwrite").parquet(s"$outDir/mis")
      val in = m.filter(col("status") === "in").count()
      println(s"[graft] mis: in=$in of ${m.count()}")
    }
    def runWalks(): Unit = {
      // DeepWalk→SGNS corpus: walks from a sampled seed set, windowed
      // pairs, unigram^(3/4) negatives packed into training examples
      val starts = sampledSources()
      val len = maxIter.getOrElse(8)
      val w = graft.algo.RandomWalks.walks(edges, starts, length = len)
      // pairs back three consumers (draw spine, example spine, count);
      // examples are written AND counted — truncate both once
      val pairs = graft.engine.Materialize.eager(
        graft.algo.RandomWalks.skipGramPairs(w, window = 2)).state
      val ex = graft.engine.Materialize.eager(
        graft.algo.SkipGram.trainingExamples(pairs,
          graft.algo.SkipGram.negativeSamples(edges, pairs, k = 5))).state
      ex.write.mode("overwrite").parquet(s"$outDir/sgns_examples")
      println(s"[graft] walks: starts=${starts.count()} len=$len " +
        s"pairs=${pairs.count()} examples=${ex.count()}")
    }
    def runSage(): Unit = {
      val g = graft.algo.RandomWalks.neighborSample(edges,
        sampledSources(), Seq(10, 5))
      g.write.mode("overwrite").parquet(s"$outDir/sage_sample")
      println(s"[graft] sage: sampled_edges=${g.count()}")
    }
    def runEdgeBc(): Unit = {
      val eb = graft.algo.Betweenness.runEdges(edges, sampledSources())
      eb.write.mode("overwrite").parquet(s"$outDir/edge_betweenness")
      val top = eb.orderBy(col("eb").desc).limit(1).collect().head
      println(s"[graft] edgebc: slots=${eb.count()} " +
        s"top=(${top.getLong(0)},${top.getLong(1)})=${top.getDouble(2)}")
    }
    def runDiameter2(): Unit = {
      val r = graft.algo.Centrality.doubleSweep(edges).collect().head
      println(s"[graft] diameter2: start=${r.getLong(0)} far=${r.getLong(1)} " +
        s"lb=${r.getLong(2)}")
    }
    def runPprTopics(): Unit = {
      val v = GraphOps.vertices(edges)
      val seeds = v.filter(col("id") % 100 === 0)
        .select(lit(0L).as("topic"), col("id"))
        .union(v.filter(col("id") % 100 === 50)
          .select(lit(1L).as("topic"), col("id")))
      val r = graft.algo.PageRank.runTopicsFixed(edges, seeds,
        maxIter.getOrElse(10), partitions = partitions)
      r.write.mode("overwrite").parquet(s"$outDir/ppr_topics")
      println(s"[graft] pprtopics: rows=${r.count()}")
    }

    algo match {
      case "lp"          => runLp()
      case "lp-semisync" => runLpSemi()
      case "lp-async"    => runLpAsync()
      case "cc"          => runCc()
      case "pagerank"    => runPr()
      case "triangles"   => runTri()
      case "sssp"        => runSssp()
      case "kcore"       => runKcore()
      case "ppr"         => runPpr()
      case "centrality"  => runCentrality()
      case "lcc"         => runLcc()
      case "hits"        => runHits()
      case "louvain"     => runLouvain()
      case "scc"         => runScc()
      case "bowtie"      => runBowtie()
      case "truss"       => runTruss()
      case "motifs"      => runMotifs()
      case "diameter"    => runDiameter()
      case "anf"         => runAnf()
      case "hostpr"      => runHostPr()
      case "salsa"       => runSalsa()
      case "katz"        => runKatz()
      case "eigen"       => runEigen()
      case "coreness"    => runCoreness()
      case "richclub"    => runRichClub()
      case "spammass"    => runSpamMass()
      case "cocite"      => runCocite()
      case "condense"    => runCondense()
      case "redirects"   => runRedirects()
      case "msf"         => runMsf()
      case "rmat"        => runRmat()
      case "triapprox"   => runTriApprox()
      case "sample"      => runSample()
      case "simrank"     => runSimRank()
      case "wl"          => runWl()
      case "overlap"     => runOverlap()
      case "bfstree"     => runBfsTree()
      case "mis"         => runMis()
      case "matching"    => runMatching()
      case "densest"     => runDensest()
      case "cliques"     => runCliques()
      case "compress"    => runCompress()
      case "bipartite"   => runBipartite()
      case "sweep"       => runSweep()
      case "percolation" => runPercolation()
      case "scan"        => runScan()
      case "walks"       => runWalks()
      case "sage"        => runSage()
      case "edgebc"      => runEdgeBc()
      case "diameter2"   => runDiameter2()
      case "pprtopics"   => runPprTopics()
      case "summary"     => runSummary()
      case "all"         => runLp(); runCc(); runPr(); runTri()
      case other         => sys.error(s"unknown algorithm: $other")
    }
    dictOpt.foreach(_.write.mode("overwrite").parquet(s"$outDir/dictionary"))
    spark.stop()
  }
}
