package graft.algo

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.graph.GraphOps

/** SCAN structural clustering (Xu–Yuruk–Feng–Schweiger, KDD'07): cluster
  * vertices by NEIGHBORHOOD AGREEMENT instead of mere connectivity —
  * an edge (u,v) is an ε-edge iff the structural similarity
  * σ(u,v) = |Γ(u) ∩ Γ(v)| / √(|Γ(u)|·|Γ(v)|) (closed neighborhoods)
  * clears ε; a CORE vertex has ≥ μ incident ε-edges; clusters are the
  * connected components of core–core ε-edges; non-core vertices fall
  * into a cluster when ε-adjacent to one of its cores (borders) and are
  * OUTLIERS otherwise — the hub/outlier separation LP and CC cannot
  * express, and exactly the spam-vs-topical split a link graph wants.
  *
  * Everything is exact integer arithmetic: with closed neighborhoods
  * |Γ(u) ∩ Γ(v)| = common(u,v) + 2 on an edge, |Γ(u)| = deg(u) + 1, and
  * σ ≥ ε ⟺ (common+2)²·10⁶ ≥ eps_e3²·(deg(u)+1)(deg(v)+1) — no square
  * root ever evaluated, so every engine replays the comparison
  * bit-for-bit. Int64 envelope: needs (common+2)²·10⁶ < 2⁶³, i.e.
  * common < 3.0e6 — beyond that, cap hub degrees upstream (the
  * CoCitation cap) or lift to decimal.
  *
  * Scale shape: one degree-oriented edge-support pass ([[Truss]]'s
  * O(√E)-capped wedge enumeration), two broadcast-able hash aggs for
  * ε-degrees, one alternating CC on the (much sparser) core ε-graph,
  * and one min-agg to attach borders. No per-vertex window, no
  * all-pairs anything.
  */
object Scan {

  /** (id, role, cluster): role 2 = core, 1 = border, 0 = outlier;
    * cluster = min core id of the component (core/border), −1 for
    * outliers. `epsE3` is ε in permille (250 = 0.25); `mu` counts
    * incident ε-edges (open form — the classic μ counts the vertex
    * itself too, so pass the paper's μ − 1).
    */
  def structuralClusters(edges: DataFrame, epsE3: Long, mu: Long): DataFrame = {
    require(epsE3 >= 1 && epsE3 <= 1000, s"need eps in (0,1], got $epsE3/1000")
    require(mu >= 1, s"need mu >= 1, got $mu")
    val canon = GraphOps.canonical(edges)
    val deg = canon.select(col("src").as("id"))
      .union(canon.select(col("dst").as("id")))
      .groupBy("id").agg(count(lit(1)).as("d"))
    val cm = Truss.edgeSupport(canon)
    val eps = canon
      .join(cm, Seq("src", "dst"), "left")
      .join(deg.select(col("id").as("src"), col("d").as("du")), "src")
      .join(deg.select(col("id").as("dst"), col("d").as("dv")), "dst")
      .select(col("src"), col("dst"),
        (coalesce(col("support"), lit(0L)) + 2L).as("c2"),
        col("du"), col("dv"))
      .filter(col("c2") * col("c2") * 1000000L >=
        lit(epsE3 * epsE3) * (col("du") + 1L) * (col("dv") + 1L))
      .select(col("src"), col("dst"))
      // eps is a support-join plan referenced three times (both
      // directions, core edges, borders) AND feeds the iterative CC —
      // materialize it once or every CC round re-derives the wedge join
      // and the task binaries carry the whole upstream plan
      .transform(graft.engine.Materialize.eager(_).state)
    val epsBoth = eps.union(
      eps.select(col("dst").as("src"), col("src").as("dst")))
    val core = epsBoth.groupBy(col("src").as("id"))
      .agg(count(lit(1)).as("epsdeg"))
      .filter(col("epsdeg") >= mu)
      .select(col("id"))
    val coreEdges = eps
      .join(core.select(col("id").as("src")), "src")
      .join(core.select(col("id").as("dst")), "dst")
      .select(col("src"), col("dst"))
    val cc = ConnectedComponents.runAlternating(coreEdges)
    // cores with no core-core eps-edge are their own singleton cluster;
    // materialized — referenced by borders AND the final assembly
    val coreClusters = core.join(cc, Seq("id"), "left")
      .select(col("id"), coalesce(col("label"), col("id")).as("cluster"))
      .transform(graft.engine.Materialize.eager(_).state)
    // borders: eps-adjacent to a core, min cluster id for determinism
    val borderClusters = epsBoth
      .join(coreClusters.select(col("id").as("d2"), col("cluster")),
        col("dst") === col("d2"))
      .groupBy(col("src").as("id")).agg(min(col("cluster")).as("cluster"))
      .join(core.select(col("id"), lit(1).as("is_core")), Seq("id"), "left_anti")
    val verts = GraphOps.vertices(canon.union(
      canon.select(col("dst").as("src"), col("src").as("dst"))))
    verts
      .join(coreClusters.select(col("id"), col("cluster").as("ccl")),
        Seq("id"), "left")
      .join(borderClusters.select(col("id"), col("cluster").as("bcl")),
        Seq("id"), "left")
      .select(col("id"),
        when(col("ccl").isNotNull, lit(2L))
          .when(col("bcl").isNotNull, lit(1L))
          .otherwise(lit(0L)).as("role"),
        coalesce(col("ccl"), col("bcl"), lit(-1L)).as("cluster"))
  }
}
