package graft.algo

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType
import org.apache.spark.storage.StorageLevel
import graft.engine.{Materialize, Superstep}

/** Brandes betweenness centrality (reference `brandesSequential` /
  * `brandesParallel`, `algorithms.h:29-250` — compiled but never wired
  * into the reference CLI, SURVEY.md §2.7).
  *
  * Multi-source formulation: all sources advance one BFS level per
  * superstep over a (source, vertex) keyed state table, so the level loop
  * runs diameter times regardless of source count — the distributed
  * replacement for the reference's per-source loop (`algorithms.h:51`)
  * and its n×n GPU predecessor bitmask (`algorithms.h:151`), which
  * becomes the (source, v, w) level-join below.
  *
  *   forward:  sigma(s,w) = Σ_{v: dist(s,v)=dist(s,w)-1, v→w} sigma(s,v)
  *   backward: delta(s,v) = Σ_{w succ} sigma(s,v)/sigma(s,w) · (1+delta(s,w))
  *   bc(v)    = Σ_s delta(s,v),  v ≠ s   (unnormalized, undirected pairs
  *              counted twice — exactly Brandes on a symmetrized digraph)
  *
  * At web scale, run on a sampled source set (`sources`) — the standard
  * approximation; exact = all vertices.
  */
object Betweenness {

  /** BFS depth bound, SHARED between the engine and the driver-gate oracle
    * SQL ([[graft.queries.GraphQueries]]): both sides truncate shortest
    * paths at this many levels, so a graph with eccentricity beyond it can
    * never produce a spurious engine-vs-oracle row mismatch (ADVICE r2 —
    * the engine previously ran to frontier exhaustion while the oracle's
    * recursive closure stopped at 40). Effectively exact for link graphs
    * (web diameters are ~20); raise per call for pathological chains.
    */
  val DepthCap = 40

  def run(edges: DataFrame, sources: DataFrame,
          maxDepth: Int = DepthCap): DataFrame =
    brandesCore(edges, sources, maxDepth, wantEdges = false)._1

  /** Edge betweenness (the Girvan–Newman primitive): per DIRECTED slot
    * (src, dst), Σ over sources s of σs(src)/σs(dst)·(1+δs(dst)) for
    * slots on a shortest-path DAG — the same backward pass as [[run]]
    * aggregated per edge instead of per tail vertex. Every slot of the
    * input appears in the output (0.0 off all shortest paths). Same
    * sampled-sources scale contract as vertex BC.
    */
  def runEdges(edges: DataFrame, sources: DataFrame,
               maxDepth: Int = DepthCap): DataFrame =
    brandesCore(edges, sources, maxDepth, wantEdges = true)._2

  /** Sum of the double column `c` that does not depend on the order its
    * rows arrive in, which any plan change moves: every value rounds to
    * `decimal(38,18)`, whose sums are exact, and the total rounds back to
    * a double once. Holds for partial and total sums below 10^20 in
    * magnitude (beyond that the query fails under ANSI mode); a Brandes
    * score is at most sources × vertices. The forward pass needs no such
    * sum: path counts σ are integers, exact as doubles below 2^53.
    */
  private def exactSum(c: String): Column =
    sum(col(c).cast(DecimalType(38, 18))).cast("double")

  private def brandesCore(edges: DataFrame, sources: DataFrame,
                          maxDepth: Int, wantEdges: Boolean)
      : (DataFrame, DataFrame) = {
    val e = edges.select(col("src").as("v"), col("dst").as("w"))
      .persist(StorageLevel.MEMORY_AND_DISK)

    // ---- forward BFS: visited(s, id, dist, sigma) ----
    // Every self-join below re-aliases its keys (fresh exprIds) — Spark's
    // ambiguous-self-join detection rejects same-lineage joins otherwise.
    val init = sources.select(col("id").as("s"), col("id"),
        lit(0).as("dist"), lit(1.0).as("sigma"))
      .localCheckpoint(eager = false)
    val forward = Superstep.converge("brandes_forward", init, maxDepth) { (visited, level) =>
      // rename e's columns through a fresh select so no dataset-tagged
      // column reference appears on both sides (the state already
      // carries e in its lineage from the previous level)
      val eRen = e.select(col("v").as("jv"), col("w").as("jw"))
      val expanded = visited.filter(col("dist") === level - 1)
        .select(col("s").as("es"), col("id").as("eid"), col("sigma").as("esigma"))
        .join(eRen, col("eid") === col("jv"))
        .select(col("es"), col("jw").as("nid"), col("esigma"))
      val seen = visited.select(col("s").as("vs"), col("id").as("vid"))
      val candidate = expanded
        .join(seen, col("es") === col("vs") && col("nid") === col("vid"), "left_anti")
        .groupBy(col("es"), col("nid")).agg(sum("esigma").as("sigma"))
        .select(col("es").as("s"), col("nid").as("id"),
          lit(level).as("dist"), col("sigma"))
      visited.union(candidate)
    }(Superstep.newRows("dist"), Superstep.untilZero)
    val visited = forward.labels
    // the last level that reached new vertices
    val maxLevel = if (forward.converged) forward.iterations - 1 else forward.iterations

    // ---- backward accumulation, level by level descending ----
    // step i accumulates level l = maxLevel − i + 1 from level l's deltas;
    // successors(s, v, w): dist(s,w) = dist(s,v) + 1 and edge v→w
    val edgeLevels = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
    val delta = Superstep.fixed(visited.select(col("s"), col("id"), lit(0.0).as("delta")),
        maxLevel, readsPrevOnce = false) { (delta, i) =>
      val l = maxLevel - i + 1
      val wLev = visited.filter(col("dist") === l)
        .select(col("s").as("ws"), col("id").as("w"), col("sigma").as("sigmaW"))
      val dW = delta.select(col("s").as("ds"), col("id").as("dw"),
        col("delta").as("deltaW"))
      val wSide = wLev
        .join(dW, col("ws") === col("ds") && col("w") === col("dw"))
        .select(col("ws"), col("w"), col("sigmaW"), col("deltaW"))
      val vLev = visited.filter(col("dist") === l - 1)
        .select(col("s").as("vs"), col("id").as("v"), col("sigma").as("sigmaV"))
      val e2 = e.select(col("v").as("ev"), col("w").as("ew"))
      val pairC = vLev
        .join(e2, col("v") === col("ev"))
        .join(wSide, col("vs") === col("ws") && col("ew") === col("w"))
        .select(col("vs").as("cs"), col("v").as("cid"), col("w").as("cw"),
          (col("sigmaV") / col("sigmaW") * (lit(1.0) + col("deltaW"))).as("c"))
      if (wantEdges) {
        // each DAG edge (v, w) appears at exactly one level per source, so
        // the per-level per-edge partial sums union to the full edge score
        edgeLevels += pairC.groupBy(col("cid").as("v"), col("cw").as("w"))
          .agg(exactSum("c").as("ec"))
          .transform(Materialize.eager(_).state)
      }
      val contrib = pairC
        .groupBy(col("cs"), col("cid")).agg(exactSum("c").as("add"))
      delta
        .join(contrib, delta("s") === col("cs") && delta("id") === col("cid"), "left")
        .select(delta("s"), delta("id"),
          (col("delta") + coalesce(col("add"), lit(0.0))).as("delta"))
    }

    val bc = delta.filter(col("s") =!= col("id"))
      .groupBy("id").agg(exactSum("delta").as("bc"))
    val eb =
      if (!wantEdges) null
      else {
        val slots = edges.select(col("src"), col("dst"))
        val scored =
          if (edgeLevels.isEmpty)
            // depth-0 graph (no BFS progress): no shortest-path edges
            slots.select(col("src"), col("dst"), lit(0.0).as("ec")).limit(0)
          else edgeLevels.reduce(_ union _).groupBy("v", "w")
            .agg(exactSum("ec").as("ec"))
            .select(col("v").as("src"), col("w").as("dst"), col("ec"))
        // every input slot appears in the output, 0.0 off all DAGs;
        // built from the CALLER's edge frame (the per-level partials are
        // eager-materialized), so the persisted copy can be released
        slots.join(scored, Seq("src", "dst"), "left")
          .select(col("src"), col("dst"),
            coalesce(col("ec"), lit(0.0)).as("eb"))
      }
    // every state that read e is materialized: the probed levels and the
    // eager deltas
    e.unpersist(blocking = false)
    (bc, eb)
  }

  /** Exact BC: every vertex a source. */
  def runExact(edges: DataFrame): DataFrame =
    run(edges, graft.graph.GraphOps.vertices(edges))

  /** Multi-source BFS shortest-path levels: (source, id, dist) — the
    * forward pass of [[run]] without σ, exposed as its own operator
    * because (unlike full Brandes) it has a tractable SQL analog
    * (recursive closure with a depth bound), giving the driver's DuckDB
    * gate direct coverage of the level-synchronous BFS machinery that
    * betweenness builds on. Same frontier/anti-join shape: all sources
    * advance one level per superstep, `diameter` rounds total.
    */
  def bfsLevels(edges: DataFrame, sources: DataFrame,
                maxDepth: Int = DepthCap): DataFrame = {
    val e = edges.select(col("src").as("v"), col("dst").as("w"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    val init = sources.select(col("id").as("s"), col("id"), lit(0).as("dist"))
      .localCheckpoint(eager = false)
    val levels = Superstep.converge("bfs_levels", init, maxDepth) { (visited, level) =>
      val eRen = e.select(col("v").as("jv"), col("w").as("jw"))
      val expanded = visited.filter(col("dist") === level - 1)
        .select(col("s").as("es"), col("id").as("eid"))
        .join(eRen, col("eid") === col("jv"))
        .select(col("es"), col("jw").as("nid")).distinct()
      val seen = visited.select(col("s").as("vs"), col("id").as("vid"))
      val candidate = expanded
        .join(seen, col("es") === col("vs") && col("nid") === col("vid"), "left_anti")
        .select(col("es").as("s"), col("nid").as("id"), lit(level).as("dist"))
      visited.union(candidate)
    }(Superstep.newRows("dist"), Superstep.untilZero)
    e.unpersist(blocking = false)
    levels.labels.select(col("s").as("source"), col("id"),
      col("dist").cast("long").as("dist"))
  }

  /** Deterministic BFS spanning tree per source: each reached vertex's
    * parent is the MINIMUM-id neighbor on the previous level (roots are
    * their own parent) — the canonical tree a deterministic engine must
    * agree on, derived from [[bfsLevels]] by one edge join + one grouped
    * min, no extra iteration.
    */
  def bfsParents(edges: DataFrame, sources: DataFrame,
                 maxDepth: Int = DepthCap): DataFrame = {
    val lv = bfsLevels(edges, sources, maxDepth)
      .persist(StorageLevel.MEMORY_AND_DISK)
    val child = lv.filter(col("dist") > 0)
    val cand = child
      .join(edges.select(col("src").as("p"), col("dst").as("id")), "id")
      .join(lv.select(col("source").as("ps"), col("id").as("pp"),
          col("dist").as("pd")),
        col("source") === col("ps") && col("p") === col("pp") &&
          col("pd") === col("dist") - 1)
      .groupBy("source", "id", "dist")
      .agg(min(col("p")).as("parent"))
    val roots = lv.filter(col("dist") === 0)
      .select(col("source"), col("id"), col("dist"), col("id").as("parent"))
    val out = roots.union(cand.select("source", "id", "dist", "parent"))
    val materialized = out.transform(Materialize.eager(_).state)
    lv.unpersist(blocking = false)
    materialized
  }
}
